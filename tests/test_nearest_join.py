"""Differential tests of ``point_to_nearest_linestring_join`` against a
NumPy brute force written from the join's contract:

* a point's candidates are the linestrings whose bbox, expanded by the
  radius, meets the point's tile (cell ranges clipped to the grid);
  out-of-AOI points sit in the sentinel (last) tile;
* a point gets one row, for its nearest candidate, and none when it has
  no candidate or a null, NaN or infinite coordinate;
* equidistant candidates resolve to the smallest linestring id;
* the output columns are ``keep_columns`` in their given order, then
  ``linestring_id`` and ``distance``;
* progressive widening and the per-call cap change none of the above.
"""

import math
from unittest import mock

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from cuspatial_spark.geometry import LinestringArrays
from cuspatial_spark.kernels.segment import point_segment_distance_squared
from cuspatial_spark.plans import point_to_nearest_linestring_join
from cuspatial_spark.plans import tile_join

MAX_DEPTH, TILE_LEVEL = 6, 2
AOI = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0)
SCALE = 8.0 / ((1 << MAX_DEPTH) + 2)  # the join's default scale
SCHEMA = "pid long, tag string, x double, y double"


def _point_tile(px, py):
    n = 1 << TILE_LEVEL
    if px < 0.0 or px > 8.0 or py < 0.0 or py > 8.0:
        return n - 1, n - 1
    shift = MAX_DEPTH - TILE_LEVEL
    cmax = (1 << MAX_DEPTH) - 1
    return (
        min(math.floor(px / SCALE), cmax) >> shift,
        min(math.floor(py / SCALE), cmax) >> shift,
    )


def _brute_force(points, lines: LinestringArrays, radius: float) -> dict:
    """pid -> (linestring_id, distance) under the join's contract."""
    n = 1 << TILE_LEVEL
    tile_side = SCALE * (1 << (MAX_DEPTH - TILE_LEVEL))

    def cells(lo, hi):
        return (
            min(max(math.floor(lo / tile_side), 0), n - 1),
            min(max(math.floor(hi / tile_side), 0), n - 1),
        )

    po = lines.part_offsets
    out = {}
    for pid, _, px, py in points:
        if px is None or py is None or not (math.isfinite(px) and math.isfinite(py)):
            continue
        tx, ty = _point_tile(px, py)
        best = None
        for j in range(len(lines)):
            xs, ys = lines.x[po[j]:po[j + 1]], lines.y[po[j]:po[j + 1]]
            x0, x1 = cells(xs.min() - radius, xs.max() + radius)
            y0, y1 = cells(ys.min() - radius, ys.max() + radius)
            if not (x0 <= tx <= x1 and y0 <= ty <= y1):
                continue
            d2 = point_segment_distance_squared(px, py, xs[:-1], ys[:-1], xs[1:], ys[1:])
            cand = (float(np.sqrt(np.min(d2))), int(lines.ids[j]))
            best = cand if best is None else min(best, cand)
        if best is not None:
            out[pid] = (best[1], best[0])
    return out


def _run(spark, points, lines, radius, keep, progressive, partitions):
    pdf = pd.DataFrame(points, columns=["pid", "tag", "x", "y"])
    df = spark.createDataFrame(pdf, schema=SCHEMA).repartition(partitions)
    out = point_to_nearest_linestring_join(
        df, lines, radius, **AOI, max_depth=MAX_DEPTH, tile_level=TILE_LEVEL,
        keep_columns=keep, progressive=progressive,
    )
    assert out.columns == [*keep, "linestring_id", "distance"]
    return out.collect()


coord = st.one_of(
    st.floats(min_value=-2.0, max_value=10.0, allow_nan=False, width=64),
    st.sampled_from([0.0, 8.0, 2.0, 4.0]),  # AOI edges and tile boundaries
)
hostile = st.one_of(coord, st.sampled_from([None, math.nan, math.inf, -math.inf]))
line_xy = st.lists(
    st.tuples(st.floats(-1.0, 9.0, width=64), st.floats(-1.0, 9.0, width=64)),
    min_size=2, max_size=5,
)


@st.composite
def layers(draw):
    geoms = draw(st.lists(line_xy, min_size=1, max_size=5))
    if draw(st.booleans()):  # an equidistant twin of the first line
        geoms.append(list(geoms[0]))
    ids = draw(st.lists(st.integers(0, 10**6), min_size=len(geoms),
                        max_size=len(geoms), unique=True))
    offsets = np.cumsum([0] + [len(g) for g in geoms])
    xy = [v for g in geoms for v in g]
    return LinestringArrays(offsets, [v[0] for v in xy], [v[1] for v in xy], ids)


@st.composite
def point_sets(draw):
    n = draw(st.integers(0, 30))
    return [
        (i, f"t{i}", draw(hostile), draw(hostile)) for i in range(n)
    ]


@settings(max_examples=40, deadline=None)
@given(
    points=point_sets(),
    lines=layers(),
    radius=st.sampled_from([0.0, 0.3, 1.5, 4.0, 20.0]),  # 20: a vacuous cover
    keep=st.permutations(["tag", "y", "pid"]),
    progressive=st.booleans(),
    partitions=st.sampled_from([1, 3, 8]),
    cap=st.sampled_from([None, 1, 7]),
)
def test_matches_brute_force(spark, points, lines, radius, keep, progressive,
                             partitions, cap):
    with mock.patch.object(
        tile_join, "MAX_SEGMENT_EVALS", cap or tile_join.MAX_SEGMENT_EVALS
    ):
        rows = _run(spark, points, lines, radius, keep, progressive, partitions)
    expect = _brute_force(points, lines, radius)
    got = {r["pid"]: (r["linestring_id"], r["distance"]) for r in rows}
    assert len(rows) == len(got)
    assert got == expect
    by_pid = {p[0]: p for p in points}
    for r in rows:
        assert r["tag"] == by_pid[r["pid"]][1] and r["y"] == by_pid[r["pid"]][3]


def test_hot_tile_over_cap_is_bit_equal(spark):
    """One tile holding every point and every line, with a per-call cap
    far below the tile's candidate segment count: chunked output is
    bit-identical to the unchunked run and to the brute force."""
    rng = np.random.default_rng(11)
    n_lines, per = 40, 6
    base = rng.uniform(0.2, 1.6, size=(n_lines, 1, 2))
    walk = base + rng.uniform(-0.1, 0.1, size=(n_lines, per, 2)).cumsum(axis=1)
    lines = LinestringArrays(
        np.arange(n_lines + 1) * per, walk[..., 0].ravel(), walk[..., 1].ravel(),
        rng.permutation(10 * n_lines)[:n_lines],
    )
    points = [
        (i, f"t{i}", float(px), float(py))
        for i, (px, py) in enumerate(rng.uniform(0.0, 1.9, size=(500, 2)))
    ]
    segs_per_point = n_lines * (per - 1)
    full = _run(spark, points, lines, 0.0, ["pid"], False, 4)
    with mock.patch.object(tile_join, "MAX_SEGMENT_EVALS", segs_per_point // 3):
        chunked = _run(spark, points, lines, 0.0, ["pid"], False, 4)
    with mock.patch.object(tile_join, "MAX_SEGMENT_EVALS", 3 * segs_per_point):
        multi = _run(spark, points, lines, 0.0, ["pid"], False, 4)

    def as_map(rows):
        return {r["pid"]: (r["linestring_id"], r["distance"]) for r in rows}

    assert len(full) == 500
    assert as_map(chunked) == as_map(full) == as_map(multi)
    assert as_map(full) == _brute_force(points, lines, 0.0)

