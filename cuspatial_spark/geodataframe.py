"""GeoDataFrame facade — geometry columns + payload columns together.

Mirrors the reference's GeoDataFrame surface
(/root/reference/python/cuspatial/cuspatial/core/geodataframe.py:21-110):
construct from a geopandas.GeoDataFrame (or a dict of columns), access
geometry columns as GeoSeries, export back with ``to_geopandas``.

Spark-first shape: payload columns live in an ordinary
``pyspark.sql.DataFrame`` (``payload_df`` — the distributed side);
geometry columns are driver-side GeoSeries (the broadcastable side of
every spatial join).  ``points_df(col)`` lifts a point-geometry column
into the payload frame for distributed joins.
"""

from __future__ import annotations

import numpy as np

from .frames import local_frame
from .geoseries import GeoSeries
from .io.geopandas import POINT, from_geopandas as _ingest


def _is_geometry_like(values) -> bool:
    v0 = next((v for v in values if v is not None), None)
    return v0 is not None and hasattr(v0, "geom_type")


class GeoDataFrame:
    """Driver-side container of named GeoSeries + payload columns."""

    def __init__(self, spark, data: dict, index=None):
        self.spark = spark
        self._geometry: dict[str, GeoSeries] = {}
        self._payload: dict[str, list] = {}
        n = None
        for name, values in data.items():
            if isinstance(values, GeoSeries):
                self._geometry[name] = values
                m = len(values)
            else:
                values = list(values)
                if _is_geometry_like(values):
                    self._geometry[name] = GeoSeries(spark, _ingest(values))
                else:
                    self._payload[name] = values
                m = len(values)
            if n is None:
                n = m
            elif n != m:
                raise ValueError(f"column {name!r} length {m} != {n}")
        self._n = n or 0
        if index is not None and len(index) != self._n:
            raise ValueError(f"index length {len(index)} != {self._n}")
        self._index = list(index) if index is not None else None

    # ------------------------------------------------------ constructors

    @classmethod
    def from_geopandas(cls, spark, gdf) -> "GeoDataFrame":
        """From a geopandas.GeoDataFrame (or anything with ``columns``
        and column access): geometry-typed columns become GeoSeries,
        everything else payload."""
        data = {c: list(gdf[c]) for c in gdf.columns}
        return cls(spark, data)

    # ---------------------------------------------------------- basics

    def __len__(self):
        return self._n

    @property
    def columns(self) -> list:
        return list(self._payload) + list(self._geometry)

    @property
    def geometry_columns(self) -> list:
        return list(self._geometry)

    def __getitem__(self, name: str):
        if name in self._geometry:
            return self._geometry[name]
        return self._payload[name]

    @property
    def index(self) -> list:
        return list(self._index) if self._index is not None else list(range(self._n))

    @index.setter
    def index(self, values):
        values = list(values)
        if len(values) != self._n:
            raise ValueError(f"index length {len(values)} != {self._n}")
        self._index = values

    def reset_index(self, drop: bool = False) -> "GeoDataFrame":
        """Reference geodataframe.py:240-321 (single-level index):
        drop=True returns the frame reindexed 0..n-1; drop=False also
        inserts the old index as the leading 'index' payload column."""
        data: dict = {}
        if not drop:
            if "index" in self._payload or "index" in self._geometry:
                # reference (pandas/cudf) semantics: refuse rather
                # than silently clobbering either column
                raise ValueError("cannot insert index, already exists")
            data["index"] = self.index
        data.update(self._payload)
        for name, gs in self._geometry.items():
            # geometry columns get a fresh 0..n-1 index too
            data[name] = GeoSeries(self.spark, gs.layers)
        return GeoDataFrame(self.spark, data)

    # ------------------------------------------------------------ spark

    def payload_df(self):
        """Payload columns as a Spark DataFrame with ``row_id``."""
        cols = {"row_id": np.arange(self._n)}
        cols.update(self._payload)
        return local_frame(self.spark, cols)

    def points_df(self, geometry: str):
        """Payload + (x, y) of a POINT geometry column as one Spark
        DataFrame — the distributed side of a spatial join."""
        gs = self._geometry[geometry]
        layers = gs.layers
        if not np.all(layers.feature_types == POINT):
            raise ValueError(f"column {geometry!r} is not all POINT rows")
        cols = {"row_id": np.arange(self._n)}
        cols.update(self._payload)
        cols["x"] = layers.point_x[layers.union_offsets]
        cols["y"] = layers.point_y[layers.union_offsets]
        return local_frame(self.spark, cols)

    def spatial_join(
        self,
        polygons,
        geometry: str,
        polygon_col: str = "polygon_index",
        **join_kwargs,
    ):
        """Flagship distributed containment join with the payload
        carried through: every payload column of this frame comes back
        alongside ``polygon_col`` for each (point, polygon) containment
        pair.  Packages the ``points_df`` + ``point_in_polygon_join``
        + keep_columns dance as one call.

        ``polygons`` is a PolygonArrays layer or a polygon-kind
        GeoSeries.  The tile-grid domain defaults to the polygon
        layer's bounding box (points outside it cannot match); pass
        x_min/x_max/y_min/y_max/tile_level/... via ``join_kwargs`` to
        override.  Returns a Spark DataFrame — the distributed side
        stays distributed."""
        from .geoseries import GeoSeries as _GS
        from .plans import point_in_polygon_join

        if isinstance(polygons, _GS):
            polygons = polygons.layers.polygon_flat_layer()
        pts = self.points_df(geometry)
        bounds = {"x_min", "x_max", "y_min", "y_max"}
        given = bounds & set(join_kwargs)
        if given != bounds:
            # derive every bound the caller did not pass — a PARTIAL
            # override must never silently fall back to the join's
            # [0, 1] defaults for the others
            minx, miny, maxx, maxy = polygons.bounding_boxes()
            pad = 1e-9 + 1e-9 * max(
                abs(float(minx.min())), abs(float(maxx.max())),
                abs(float(miny.min())), abs(float(maxy.max())),
            )
            derived = dict(
                x_min=float(minx.min()) - pad, x_max=float(maxx.max()) + pad,
                y_min=float(miny.min()) - pad, y_max=float(maxy.max()) + pad,
            )
            for k, v in derived.items():
                join_kwargs.setdefault(k, v)
        keep = ["row_id"] + list(self._payload)
        out = point_in_polygon_join(
            pts, polygons, keep_columns=keep, **join_kwargs
        )
        if polygon_col != "polygon_id":
            out = out.withColumnRenamed("polygon_id", polygon_col)
        return out

    # ----------------------------------------------------------- export

    def to_geopandas(self):
        """geopandas.GeoDataFrame (requires geopandas/shapely;
        reference geodataframe.py:82-110)."""
        import geopandas as gpd

        data = dict(self._payload)
        for name, gs in self._geometry.items():
            data[name] = gs.to_geopandas()
        return gpd.GeoDataFrame(data)

    def to_wkt(self) -> dict:
        """Dependency-free export: payload lists + per-geometry WKT."""
        out = dict(self._payload)
        for name, gs in self._geometry.items():
            out[name] = gs.to_wkt()
        return out

    def to_pandas(self):
        """pandas DataFrame: payload columns + geometry columns as
        (shapely-protocol) objects (reference geodataframe.py:70-80),
        dependency-free."""
        import pandas as pd

        data = dict(self._payload)
        for name, gs in self._geometry.items():
            data[name] = gs.to_geoms()
        return pd.DataFrame(data)

    def to_arrow(self):
        """pyarrow.Table: payload columns as plain Arrow arrays,
        geometry columns as GeoArrow dense unions (the reference's
        GeoColumn.to_arrow layout per column, geocolumn.py:68-78)."""
        import pyarrow as pa

        names, arrays = [], []
        for name, values in self._payload.items():
            names.append(name)
            arrays.append(pa.array(values))
        for name, gs in self._geometry.items():
            names.append(name)
            arrays.append(gs.to_arrow())
        return pa.Table.from_arrays(arrays, names=names)
