"""GeoPandas/shapely ingestion (SURVEY §2.8 #38-39).

Mirrors the reference's GeoPandasReader
(/root/reference/python/cuspatial/cuspatial/io/geopandas_reader.py:27-140):
iterate geometry objects on the driver, bucket by type into the four
flat coordinate/offset layers, and record per-row (feature_type,
union_offset) — the GeoMeta (geometa.py:15-59).

shapely is optional: geometries are consumed through their public
attribute protocol (``geom_type`` / ``.x`` / ``.coords`` / ``.geoms``
/ ``.exterior`` / ``.interiors``), so real shapely objects work when
the library is installed, and the bundled WKT parser (``from_wkt``)
produces protocol-compatible objects so the full path is exercised
without it.  Layers are driver-side NumPy (the broadcastable side of
every join); ``GeoLayers.points_df`` lifts the points layer into a
Spark DataFrame for the distributed side.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from ..geometry import LinestringArrays, MultipointArrays, PolygonArrays

# feature_type codes — reference Feature_Enum (geometa.py)
NONE, POINT, MULTIPOINT, LINESTRING, POLYGON = -1, 0, 1, 2, 3


@dataclass
class _Geom:
    """Minimal shapely-protocol geometry used by the WKT parser."""

    geom_type: str
    coords: list = None
    geoms: list = None
    exterior: object = None
    interiors: list = None

    @property
    def x(self):
        return self.coords[0][0]

    @property
    def y(self):
        return self.coords[0][1]


def _parse_ring(body: str):
    return [tuple(float(v) for v in pt.split()) for pt in body.split(",")]


def _split_top(body: str):
    """Split a WKT body on top-level commas (depth-0 w.r.t. parens)."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts]


def _strip_parens(t: str) -> str:
    t = t.strip()
    assert t.startswith("(") and t.endswith(")"), t
    return t[1:-1]


def _parse_polygon_body(body: str) -> "_Geom":
    rings = [_Geom("LinearRing", coords=_parse_ring(_strip_parens(r)))
             for r in _split_top(body)]
    return _Geom("Polygon", exterior=rings[0], interiors=rings[1:])


def from_wkt(wkts):
    """Parse POINT / MULTIPOINT / LINESTRING / MULTILINESTRING /
    POLYGON / MULTIPOLYGON WKT strings into protocol-compatible
    geometry objects (None/'' -> missing row)."""
    out = []
    for w in wkts:
        if w is None or not str(w).strip():
            out.append(None)
            continue
        w = str(w).strip()
        kind = re.match(r"(\w+)", w).group(1).upper()
        body = w[w.index("(") + 1 : w.rindex(")")]
        if kind == "POINT":
            out.append(_Geom("Point", coords=_parse_ring(body)))
        elif kind == "MULTIPOINT":
            pts = [p.strip().strip("()") for p in body.split(",")]
            coords = [tuple(float(v) for v in p.split()) for p in pts]
            out.append(
                _Geom(
                    "MultiPoint",
                    geoms=[_Geom("Point", coords=[c]) for c in coords],
                )
            )
        elif kind == "LINESTRING":
            out.append(_Geom("LineString", coords=_parse_ring(body)))
        elif kind == "MULTILINESTRING":
            parts = [
                _Geom("LineString", coords=_parse_ring(_strip_parens(p)))
                for p in _split_top(body)
            ]
            out.append(_Geom("MultiLineString", geoms=parts))
        elif kind == "POLYGON":
            out.append(_parse_polygon_body(body))
        elif kind == "MULTIPOLYGON":
            parts = [
                _parse_polygon_body(_strip_parens(p)) for p in _split_top(body)
            ]
            out.append(_Geom("MultiPolygon", geoms=parts))
        else:
            raise ValueError(f"unsupported WKT type: {kind}")
    return out


@dataclass
class GeoLayers:
    """The four typed layers + GeoMeta-style row map.

    feature_types[i] / union_offsets[i]: per input row, which layer it
    landed in and its index there (geocolumn.py:30-66 union shape).

    ``linestrings`` / ``polygons`` are PART layers; ``ls_geom_offsets``
    / ``pg_geom_offsets`` map geometry index -> part range (the
    reference's geometry_offset level): a MULTILINESTRING /
    MULTIPOLYGON row owns several parts.  None means every geometry is
    its own single part (the common case and the pre-multi layout).
    """

    feature_types: np.ndarray
    union_offsets: np.ndarray
    point_x: np.ndarray
    point_y: np.ndarray
    multipoints: MultipointArrays
    linestrings: LinestringArrays
    polygons: PolygonArrays
    ls_geom_offsets: np.ndarray = None
    pg_geom_offsets: np.ndarray = None

    # ------------------------------------------- geometry-level views

    def _is_trivial(self, go) -> bool:
        return go is None or bool(np.all(np.diff(go) == 1))

    def linestring_layer(self):
        """Geometry-level linestring container: the part layer when
        every geometry is single-part, else MultiLinestringArrays."""
        from ..geometry import MultiLinestringArrays

        if self._is_trivial(self.ls_geom_offsets):
            return self.linestrings
        return MultiLinestringArrays(self.ls_geom_offsets, self.linestrings)

    def polygon_layer(self):
        from ..geometry import MultiPolygonArrays

        if self._is_trivial(self.pg_geom_offsets):
            return self.polygons
        return MultiPolygonArrays(self.pg_geom_offsets, self.polygons)

    def polygon_flat_layer(self) -> PolygonArrays:
        """Per-geometry SINGLE polygon whose ring set is the union of
        its parts' rings — the even-odd ray-cast over all rings equals
        membership in the multipolygon union (disjoint parts), so the
        predicate family can treat a multipolygon row as one polygon
        (the same flattened view reference bounding.py:19-80 uses)."""
        if self._is_trivial(self.pg_geom_offsets):
            return self.polygons
        return PolygonArrays(
            self.polygons.part_offsets[self.pg_geom_offsets],
            self.polygons.ring_offsets,
            self.polygons.x,
            self.polygons.y,
        )

    def points_df(self, spark, ids=None):
        """Points layer as a Spark DataFrame (row_id, x, y) — the
        distributed side of a spatial join."""
        from ..frames import local_frame

        rid = np.flatnonzero(self.feature_types == POINT)
        if ids is not None:
            rid = np.asarray(ids)[rid]
        return local_frame(spark, {"row_id": rid, "x": self.point_x, "y": self.point_y})

    def __len__(self):
        return len(self.feature_types)

    def row_vertices(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """All coordinate vertices of input row ``i`` as (xs, ys) —
        the rhs point set of the reference's contains mode semantics
        (contains_geometry_processor.py:160-240 counts rhs vertices,
        ring-closure duplicates included, as GeoPandasReader stores
        closed rings).  Empty arrays for missing rows."""
        ft = int(self.feature_types[i])
        k = int(self.union_offsets[i])
        if ft == POINT:
            return (
                np.asarray([self.point_x[k]], dtype=np.float64),
                np.asarray([self.point_y[k]], dtype=np.float64),
            )
        if ft == MULTIPOINT:
            s, e = int(self.multipoints.part_offsets[k]), int(
                self.multipoints.part_offsets[k + 1]
            )
            return self.multipoints.x[s:e], self.multipoints.y[s:e]
        if ft == LINESTRING:
            go = self.ls_geom_offsets
            p0, p1 = (k, k + 1) if go is None else (int(go[k]), int(go[k + 1]))
            s = int(self.linestrings.part_offsets[p0])
            e = int(self.linestrings.part_offsets[p1])
            return self.linestrings.x[s:e], self.linestrings.y[s:e]
        if ft == POLYGON:
            go = self.pg_geom_offsets
            p0, p1 = (k, k + 1) if go is None else (int(go[k]), int(go[k + 1]))
            s = int(self.polygons.ring_offsets[self.polygons.part_offsets[p0]])
            e = int(self.polygons.ring_offsets[self.polygons.part_offsets[p1]])
            return self.polygons.x[s:e], self.polygons.y[s:e]
        return np.empty(0, dtype=np.float64), np.empty(0, dtype=np.float64)

    def sizes(self) -> np.ndarray:
        """Vertex count per input row (reference GeoSeries.sizes,
        geoseries.py ``sizes`` property); 0 for missing rows."""
        out = np.zeros(len(self), dtype=np.int64)
        mp_off = self.multipoints.part_offsets
        ls_off = self.linestrings.part_offsets
        pg_part = self.polygons.part_offsets
        pg_ring = self.polygons.ring_offsets
        ls_go = self.ls_geom_offsets
        pg_go = self.pg_geom_offsets
        for i, (ft, k) in enumerate(zip(self.feature_types, self.union_offsets)):
            if ft == POINT:
                out[i] = 1
            elif ft == MULTIPOINT:
                out[i] = mp_off[k + 1] - mp_off[k]
            elif ft == LINESTRING:
                p0, p1 = (k, k + 1) if ls_go is None else (ls_go[k], ls_go[k + 1])
                out[i] = ls_off[p1] - ls_off[p0]
            elif ft == POLYGON:
                p0, p1 = (k, k + 1) if pg_go is None else (pg_go[k], pg_go[k + 1])
                out[i] = pg_ring[pg_part[p1]] - pg_ring[pg_part[p0]]
        return out

    def iloc(self, indices) -> "GeoLayers":
        """Positional row selection (reference GeoSeries.iloc) — the
        selected rows become a fresh, compact GeoLayers."""
        geoms = to_geoms(self)
        return from_geopandas([geoms[int(i)] for i in np.asarray(indices)])


def align(ids_a, ids_b):
    """Index alignment of two geometry collections (reference
    GeoSeries.align semantics): returns (index, pos_a, pos_b) where
    ``index`` is the sorted union of both id sets and pos_* are the
    positional indices into each input (-1 where the id is absent).
    Feed pos_* to ``GeoLayers.iloc`` (mapping -1 to a missing row) or
    use them as the join keys of a DataFrame-native align."""
    ids_a = np.asarray(ids_a)
    ids_b = np.asarray(ids_b)
    union = np.union1d(ids_a, ids_b)
    pos_a = np.full(len(union), -1, dtype=np.int64)
    pos_b = np.full(len(union), -1, dtype=np.int64)
    pos_a[np.searchsorted(union, ids_a)] = np.arange(len(ids_a))
    pos_b[np.searchsorted(union, ids_b)] = np.arange(len(ids_b))
    return union, pos_a, pos_b


# ------------------------------------------------------------------ export


def _fmt(v: float) -> str:
    """Shortest round-trip decimal (repr of a Python float)."""
    return repr(float(v))


def _fmt_ring(xs, ys) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in zip(xs, ys))


def to_geoms(layers: GeoLayers):
    """Inverse of ``from_geopandas``: per-row shapely-protocol geometry
    objects rebuilt from the flat layers (None for missing rows).
    Multi-part rows round-trip as MultiLineString / MultiPolygon."""
    mp_off = layers.multipoints.part_offsets
    mp_x, mp_y = layers.multipoints.x, layers.multipoints.y
    ls_off = layers.linestrings.part_offsets
    ls_x, ls_y = layers.linestrings.x, layers.linestrings.y
    pg_part = layers.polygons.part_offsets
    pg_ring = layers.polygons.ring_offsets
    pg_x, pg_y = layers.polygons.x, layers.polygons.y
    ls_go = layers.ls_geom_offsets
    pg_go = layers.pg_geom_offsets

    def _chain(p):
        s, e = ls_off[p], ls_off[p + 1]
        return _Geom("LineString", coords=list(zip(ls_x[s:e], ls_y[s:e])))

    def _poly(p):
        rings = []
        for r in range(pg_part[p], pg_part[p + 1]):
            s, e = pg_ring[r], pg_ring[r + 1]
            rings.append(_Geom("LinearRing", coords=list(zip(pg_x[s:e], pg_y[s:e]))))
        return _Geom("Polygon", exterior=rings[0], interiors=rings[1:])

    out = []
    for ft, k in zip(layers.feature_types, layers.union_offsets):
        if ft == POINT:
            out.append(_Geom("Point", coords=[(layers.point_x[k], layers.point_y[k])]))
        elif ft == MULTIPOINT:
            s, e = mp_off[k], mp_off[k + 1]
            out.append(
                _Geom(
                    "MultiPoint",
                    geoms=[
                        _Geom("Point", coords=[(mp_x[i], mp_y[i])]) for i in range(s, e)
                    ],
                )
            )
        elif ft == LINESTRING:
            p0, p1 = (k, k + 1) if ls_go is None else (int(ls_go[k]), int(ls_go[k + 1]))
            parts = [_chain(p) for p in range(p0, p1)]
            out.append(
                parts[0] if len(parts) == 1
                else _Geom("MultiLineString", geoms=parts)
            )
        elif ft == POLYGON:
            p0, p1 = (k, k + 1) if pg_go is None else (int(pg_go[k]), int(pg_go[k + 1]))
            parts = [_poly(p) for p in range(p0, p1)]
            out.append(
                parts[0] if len(parts) == 1
                else _Geom("MultiPolygon", geoms=parts)
            )
        else:
            out.append(None)
    return out


def to_wkt(layers: GeoLayers) -> list:
    """Per-row WKT strings (None for missing rows) — the
    engine-portable serialization of ``to_geoms``."""
    out = []
    for g in to_geoms(layers):
        if g is None:
            out.append(None)
        elif g.geom_type == "Point":
            out.append(f"POINT ({_fmt(g.x)} {_fmt(g.y)})")
        elif g.geom_type == "MultiPoint":
            body = ", ".join(f"({_fmt(p.x)} {_fmt(p.y)})" for p in g.geoms)
            out.append(f"MULTIPOINT ({body})")
        elif g.geom_type == "LineString":
            xs, ys = zip(*g.coords)
            out.append(f"LINESTRING ({_fmt_ring(xs, ys)})")
        elif g.geom_type == "MultiLineString":
            body = ", ".join(
                "(" + _fmt_ring(*zip(*p.coords)) + ")" for p in g.geoms
            )
            out.append(f"MULTILINESTRING ({body})")
        elif g.geom_type == "MultiPolygon":
            parts = []
            for part in g.geoms:
                rings = [part.exterior] + list(part.interiors or [])
                parts.append(
                    "(" + ", ".join(
                        "(" + _fmt_ring(*zip(*r.coords)) + ")" for r in rings
                    ) + ")"
                )
            out.append(f"MULTIPOLYGON ({', '.join(parts)})")
        else:  # Polygon
            rings = [g.exterior] + list(g.interiors or [])
            body = ", ".join(
                "(" + _fmt_ring(*zip(*r.coords)) + ")" for r in rings
            )
            out.append(f"POLYGON ({body})")
    return out


def to_arrow(layers: GeoLayers):
    """GeoArrow dense-union export (reference GeoColumn.to_arrow,
    core/_column/geocolumn.py:68-78, child layout io/pygeoarrow.py:7-28):
    an Arrow dense UnionArray whose type codes are the Feature_Enum
    values and whose four children are

    - ``points``:   list<float64>                 — [x, y]
    - ``mpoints``:  list<list<float64>>           — [[x, y], ...]
    - ``lines``:    list<list<list<float64>>>     — chains of [x, y]
    - ``polygons``: list<list<list<list<float64>>>> — parts > rings > [x, y]

    Missing rows: the reference's NONE=-1 meta has no dense-union
    type-code encoding (codes must be >= 0), so a None row is emitted
    as type code POINT whose child entry is NULL — ``from_arrow``
    decodes a null child back to a NONE row, making the round trip
    exact.
    """
    import pyarrow as pa

    types: list[int] = []
    offsets: list[int] = []
    points: list = []
    mpoints: list = []
    lines: list = []
    polygons: list = []

    def _ring(r):
        return [[float(x), float(y)] for x, y in r.coords]

    for g in to_geoms(layers):
        if g is None:
            types.append(POINT)
            offsets.append(len(points))
            points.append(None)  # null child entry == NONE row
            continue
        t = g.geom_type
        if t == "Point":
            types.append(POINT)
            offsets.append(len(points))
            points.append([float(g.x), float(g.y)])
        elif t == "MultiPoint":
            types.append(MULTIPOINT)
            offsets.append(len(mpoints))
            mpoints.append([[float(p.x), float(p.y)] for p in g.geoms])
        elif t in ("LineString", "MultiLineString"):
            types.append(LINESTRING)
            offsets.append(len(lines))
            parts = [g] if t == "LineString" else list(g.geoms)
            lines.append([_ring(p) for p in parts])
        else:  # Polygon / MultiPolygon
            types.append(POLYGON)
            offsets.append(len(polygons))
            parts = [g] if t == "Polygon" else list(g.geoms)
            polygons.append(
                [
                    [_ring(p.exterior)] + [_ring(h) for h in (p.interiors or [])]
                    for p in parts
                ]
            )

    f64 = pa.float64()
    return pa.UnionArray.from_dense(
        pa.array(types, type=pa.int8()),
        pa.array(offsets, type=pa.int32()),
        [
            pa.array(points, type=pa.list_(f64)),
            pa.array(mpoints, type=pa.list_(pa.list_(f64))),
            pa.array(lines, type=pa.list_(pa.list_(pa.list_(f64)))),
            pa.array(polygons, type=pa.list_(pa.list_(pa.list_(pa.list_(f64))))),
        ],
        ["points", "mpoints", "lines", "polygons"],
    )


def from_arrow(union) -> GeoLayers:
    """Inverse of ``to_arrow``: rebuild GeoLayers from a GeoArrow
    dense-union array (the reference's from_pyarrow_lists layout,
    io/pygeoarrow.py:30-52)."""
    types = union.type_codes.to_pylist()
    off = getattr(union, "offsets", None)
    if off is None:  # older pyarrow spelling
        off = union.value_offsets
    offsets = off.to_pylist()
    kids = [union.field(i).to_pylist() for i in range(4)]

    def _chain(c):
        return _Geom("LineString", coords=[tuple(p) for p in c])

    def _poly(rings):
        rs = [_Geom("LinearRing", coords=[tuple(p) for p in r]) for r in rings]
        return _Geom("Polygon", exterior=rs[0], interiors=rs[1:])

    geoms = []
    for t, o in zip(types, offsets):
        v = kids[t][o]
        if v is None:  # null child entry encodes a NONE row
            geoms.append(None)
        elif t == POINT:
            geoms.append(_Geom("Point", coords=[tuple(v)]))
        elif t == MULTIPOINT:
            geoms.append(
                _Geom(
                    "MultiPoint",
                    geoms=[_Geom("Point", coords=[tuple(p)]) for p in v],
                )
            )
        elif t == LINESTRING:
            parts = [_chain(c) for c in v]
            geoms.append(
                parts[0] if len(parts) == 1
                else _Geom("MultiLineString", geoms=parts)
            )
        else:
            parts = [_poly(rings) for rings in v]
            geoms.append(
                parts[0] if len(parts) == 1
                else _Geom("MultiPolygon", geoms=parts)
            )
    return from_geopandas(geoms)


def to_geopandas(layers: GeoLayers):
    """Rebuild a geopandas.GeoSeries (reference GeoSeries.to_geopandas,
    geoseries.py:452-630).  Requires shapely/geopandas; raises
    ImportError in environments without them — ``to_wkt``/``to_geoms``
    are the dependency-free exports."""
    import geopandas as gpd  # noqa: F401  (optional dependency)
    from shapely import wkt as _shapely_wkt

    return gpd.GeoSeries(
        [None if w is None else _shapely_wkt.loads(w) for w in to_wkt(layers)]
    )


def from_geopandas(geoms) -> GeoLayers:
    """Bucket an iterable of shapely(-protocol) geometries — e.g.
    ``gdf.geometry`` of a GeoDataFrame — into the 4 flat layers
    (GeoPandasReader semantics: each multipolygon part keeps its own
    rings; multilinestrings flatten to their parts)."""
    # accept a GeoDataFrame / GeoSeries without importing geopandas
    if hasattr(geoms, "geometry") and not hasattr(geoms, "geom_type"):
        geoms = geoms.geometry
    ftypes, uoff = [], []
    px, py = [], []
    mp_off, mp_x, mp_y = [0], [], []
    ls_off, ls_x, ls_y = [0], [], []
    ls_geom = [0]
    pg_part, pg_ring, pg_x, pg_y = [0], [0], [], []
    pg_geom = [0]

    def _add_ring(ring):
        cs = list(ring.coords)
        pg_x.extend(c[0] for c in cs)
        pg_y.extend(c[1] for c in cs)
        pg_ring.append(len(pg_x))

    def _add_chain(part):
        cs = list(part.coords)
        ls_x.extend(c[0] for c in cs)
        ls_y.extend(c[1] for c in cs)
        ls_off.append(len(ls_x))

    def _add_poly_part(part):
        _add_ring(part.exterior)
        for hole in part.interiors or []:
            _add_ring(hole)
        pg_part.append(len(pg_ring) - 1)

    for g in geoms:
        if g is None or (hasattr(g, "is_empty") and g.is_empty):
            ftypes.append(NONE)
            uoff.append(-1)
            continue
        kind = g.geom_type
        if kind == "Point":
            ftypes.append(POINT)
            uoff.append(len(px))
            px.append(g.x)
            py.append(g.y)
        elif kind == "MultiPoint":
            ftypes.append(MULTIPOINT)
            uoff.append(len(mp_off) - 1)
            for p in g.geoms:
                mp_x.append(p.x)
                mp_y.append(p.y)
            mp_off.append(len(mp_x))
        elif kind == "LineString":
            ftypes.append(LINESTRING)
            uoff.append(len(ls_geom) - 1)
            _add_chain(g)
            ls_geom.append(len(ls_off) - 1)
        elif kind == "MultiLineString":
            # geometry_offset level: each part keeps its own chain —
            # NEVER concatenated (a bridged chain would add a phantom
            # segment between parts; reference geopandas_reader.py
            # records the same two-level offsets)
            ftypes.append(LINESTRING)
            uoff.append(len(ls_geom) - 1)
            for part in g.geoms:
                _add_chain(part)
            ls_geom.append(len(ls_off) - 1)
        elif kind == "Polygon":
            ftypes.append(POLYGON)
            uoff.append(len(pg_geom) - 1)
            _add_poly_part(g)
            pg_geom.append(len(pg_part) - 1)
        elif kind == "MultiPolygon":
            # geometry_offset level: each part keeps its own ring set
            ftypes.append(POLYGON)
            uoff.append(len(pg_geom) - 1)
            for part in g.geoms:
                _add_poly_part(part)
            pg_geom.append(len(pg_part) - 1)
        else:
            raise ValueError(f"unsupported geometry type: {kind}")

    return GeoLayers(
        feature_types=np.asarray(ftypes, dtype=np.int8),
        union_offsets=np.asarray(uoff, dtype=np.int64),
        point_x=np.asarray(px, dtype=np.float64),
        point_y=np.asarray(py, dtype=np.float64),
        multipoints=MultipointArrays(mp_off, mp_x, mp_y),
        linestrings=LinestringArrays(ls_off, ls_x, ls_y),
        polygons=PolygonArrays(pg_part, pg_ring, pg_x, pg_y),
        ls_geom_offsets=np.asarray(ls_geom, dtype=np.int64),
        pg_geom_offsets=np.asarray(pg_geom, dtype=np.int64),
    )
