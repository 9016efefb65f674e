"""Differential tests of the point-in-polygon joins against brute forces
written from their contracts:

* the default refine (``point_in_polygon_join``) is plain
  crossings parity over every ring segment;
* ``edge_exact=True`` and the shuffle join (``salt`` 0 and 3) are
  ``kernels.pip`` (4-ULP on-edge exclusion) over every pair;
* only points inside the closed AOI with finite coordinates match:
  out-of-AOI, null and NaN points get no row, on every plan;
* duplicate polygon ids give one row per polygon, and the output
  columns are ``keep_columns`` in their given order, then
  ``polygon_id``.
"""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cuspatial_spark.geometry import PolygonArrays
from cuspatial_spark.kernels.pip import point_in_polygon_pairs
from cuspatial_spark.plans import point_in_polygon_join
from cuspatial_spark.plans.shuffle_join import point_in_polygon_join_shuffle

AOI = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0)
SCHEMA = "point_id long, tag string, x double, y double"
PLANS = ["jvm", "kernel", "shuffle0", "shuffle3"]


def _polygon_frame(spark, polys: PolygonArrays):
    """The layer as the shuffle join's rows (id, local ring offsets, xy)."""
    rows = []
    po, ro = polys.part_offsets, polys.ring_offsets
    for p in range(len(polys)):
        r = ro[po[p]:po[p + 1] + 1]
        xy = np.empty(2 * (r[-1] - r[0]))
        xy[::2], xy[1::2] = polys.x[r[0]:r[-1]], polys.y[r[0]:r[-1]]
        rows.append((int(polys.ids[p]), (r - r[0]).tolist(), xy.tolist()))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["polygon_id", "ring_offsets", "xy"]),
        "polygon_id long, ring_offsets array<long>, xy array<double>",
    )


def _run(spark, plan, pts, polys, keep, max_depth, tile_level):
    kw = dict(AOI, max_depth=max_depth, tile_level=tile_level, keep_columns=keep)
    if plan in ("jvm", "kernel"):
        return point_in_polygon_join(pts, polys, edge_exact=plan == "kernel", **kw)
    salt = int(plan[-1])
    return point_in_polygon_join_shuffle(pts, _polygon_frame(spark, polys), salt=salt, **kw)


def _inside_aoi(points):
    return [
        p for p in points
        if p[2] is not None and p[3] is not None
        and AOI["x_min"] <= p[2] <= AOI["x_max"] and AOI["y_min"] <= p[3] <= AOI["y_max"]
    ]


def _parity_pairs(points, polys: PolygonArrays) -> list:
    """(point_id, polygon_id) by crossings parity over every segment."""
    po, ro = polys.part_offsets, polys.ring_offsets
    out = []
    for pid, _, px, py in _inside_aoi(points):
        for p in range(len(polys)):
            odd = False
            for r in range(po[p], po[p + 1]):
                s, e = ro[r], ro[r + 1]
                for i in range(s, e):
                    j = e - 1 if i == s else i - 1
                    ax, ay, bx, by = polys.x[i], polys.y[i], polys.x[j], polys.y[j]
                    if (ay > py) != (by > py) and (
                        ((px - ax) * (by - ay) < (bx - ax) * (py - ay)) != (ay > py)
                    ):
                        odd = not odd
            if odd:
                out.append((pid, int(polys.ids[p])))
    return sorted(out)


def _kernel_pairs(points, polys: PolygonArrays) -> list:
    """(point_id, polygon_id) by ``kernels.pip`` over every pair."""
    pts = _inside_aoi(points)
    n = len(polys)
    pair_pt = np.repeat(np.arange(len(pts)), n)
    pair_poly = np.tile(np.arange(n), len(pts))
    hits = point_in_polygon_pairs(
        np.array([p[2] for p in pts], dtype=np.float64)[pair_pt],
        np.array([p[3] for p in pts], dtype=np.float64)[pair_pt],
        pair_poly, polys.part_offsets, polys.ring_offsets, polys.x, polys.y,
    )
    return sorted(
        (pts[i][0], int(polys.ids[p])) for i, p in zip(pair_pt[hits], pair_poly[hits])
    )


def _collect(spark, points, polys, keep, partitions, max_depth, tile_level):
    """Every plan's rows, from one job: plan -> sorted (point_id,
    polygon_id) pairs, after checking columns and carried values."""
    pts = spark.createDataFrame(points, SCHEMA).repartition(partitions)
    cols = [*(keep or pts.columns), "polygon_id"]
    outs = []
    for plan in PLANS:
        out = _run(spark, plan, pts, polys, keep, max_depth, tile_level)
        assert out.columns == cols, plan
        outs.append(out.select(F.lit(plan).alias("__plan"), F.struct(*cols).alias("r")))
    union = outs[0]
    for out in outs[1:]:
        union = union.unionByName(out)
    by_pid = {p[0]: p for p in points}
    got = {plan: [] for plan in PLANS}
    for row in union.collect():
        r = row["r"].asDict()
        src = dict(zip(["point_id", "tag", "x", "y"], by_pid[r["point_id"]]))
        assert all(r[c] == src[c] for c in cols[:-1]), (row["__plan"], r)
        got[row["__plan"]].append((r["point_id"], r["polygon_id"]))
    return {plan: sorted(v) for plan, v in got.items()}


def test_out_of_aoi_points_match_nothing(spark):
    """A point outside the AOI used to carry the sentinel Morton key
    into the top-right tile and match any polygon whose clipped cover
    reached that tile.  Points on ``x_max``/``y_max`` stay in."""
    polys = PolygonArrays(
        [0, 1, 2], [0, 4, 8],
        [7.0, 10.0, 10.0, 7.0, -2.0, 1.0, 1.0, -2.0],
        [7.0, 7.0, 10.0, 10.0, -2.0, -2.0, 1.0, 1.0],
    )
    points = [
        (0, "out-hi", 9.0, 9.0),
        (1, "out-lo", -1.0, -1.0),
        (2, "in-hi", 7.5, 7.5),
        (3, "in-lo", 0.5, 0.5),
        (4, "x_max", 8.0, 7.5),
        (5, "nan", math.nan, 7.5),
        (6, "null", None, 7.5),
    ]
    expect = [(2, 0), (3, 1), (4, 0)]
    got = _collect(spark, points, polys, ["point_id", "tag"], 2, 8, 3)
    assert got == {plan: expect for plan in PLANS}


coord = st.one_of(
    st.floats(min_value=-2.0, max_value=10.0, allow_nan=False, width=64),
    st.sampled_from([0.0, 8.0, 2.0, 4.0, 1.0]),  # AOI edges, tile and polygon edges
)
hostile = st.one_of(coord, st.sampled_from([None, math.nan, math.inf, -math.inf]))
vertex = st.one_of(
    st.tuples(st.floats(-3.0, 11.0, width=64), st.floats(-3.0, 11.0, width=64)),
    st.tuples(st.sampled_from([0.0, 1.0, 4.0, 8.0, 9.0]),
              st.sampled_from([0.0, 1.0, 4.0, 8.0, 9.0])),
)


@st.composite
def rings(draw, min_size):
    ring = draw(st.lists(vertex, min_size=min_size, max_size=6))
    if ring and draw(st.booleans()):  # a zero-length segment
        k = draw(st.integers(0, len(ring) - 1))
        ring.insert(k, ring[k])
    if ring and draw(st.booleans()):  # closed ring
        ring.append(ring[0])
    return ring


@st.composite
def layers(draw):
    """Polygons of 1-3 rings (holes, empty and trailing-empty rings),
    reaching past the AOI, with duplicate and unsorted ids."""
    geoms = []
    for _ in range(draw(st.integers(1, 4))):
        geoms.append([draw(rings(1))] + draw(st.lists(rings(0), max_size=2)))
    ids = draw(st.lists(st.integers(0, 3), min_size=len(geoms), max_size=len(geoms)))
    part_offsets = np.cumsum([0] + [len(g) for g in geoms])
    ring_list = [r for g in geoms for r in g]
    ring_offsets = np.cumsum([0] + [len(r) for r in ring_list])
    xy = [v for r in ring_list for v in r]
    return PolygonArrays(part_offsets, ring_offsets, [v[0] for v in xy], [v[1] for v in xy], ids)


@st.composite
def point_sets(draw):
    return [(i, f"t{i}", draw(hostile), draw(hostile)) for i in range(draw(st.integers(0, 25)))]


@st.composite
def keeps(draw):
    perm = draw(st.permutations(["point_id", "tag", "x", "y"]))
    k = draw(st.integers(1, 4))
    return draw(st.one_of(st.none(), st.just(list(dict.fromkeys([*perm[:k], "point_id"])))))


@settings(max_examples=30, deadline=None)
@given(
    points=point_sets(),
    polys=layers(),
    keep=keeps(),
    partitions=st.sampled_from([1, 3, 8]),
    grid=st.sampled_from([(4, 0), (6, 2), (8, 3)]),
)
def test_matches_brute_force(spark, points, polys, keep, partitions, grid):
    got = _collect(spark, points, polys, keep, partitions, *grid)
    assert got["jvm"] == _parity_pairs(points, polys)
    expect = _kernel_pairs(points, polys)
    for plan in ("kernel", "shuffle0", "shuffle3"):
        assert got[plan] == expect, plan


@pytest.mark.parametrize("plan", PLANS)
def test_empty_points(spark, plan):
    polys = PolygonArrays([0, 1], [0, 4], [1.0, 3.0, 3.0, 1.0], [1.0, 1.0, 3.0, 3.0])
    pts = spark.createDataFrame([], SCHEMA)
    assert _run(spark, plan, pts, polys, ["tag", "point_id"], 6, 2).collect() == []
