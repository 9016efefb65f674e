"""Distributed spatial join: tile equi-join filter + vectorized refine.

This is the scale path that replaces the reference's single-GPU BFS
(detail/join/quadtree_bbox_filtering.cuh) with a plan Catalyst can
optimize end-to-end:

  points:   morton tile key (pure-JVM bit expr, codegen)  ->  tile col
  polygons: bbox -> set of covered tiles (driver-side NumPy, tiny)
  filter:   points ⋈ exploded polygon-tile table
            - polygon side small  -> broadcast hash join (NO shuffle)
            - polygon side large  -> shuffle hash join on tile, with
              optional salting (shuffle_join.py)
  refine:   crossings-parity ray cast as a JVM expression over a
            broadcast segment table, or, with edge_exact, the
            Arrow-batched kernel (kernels.pip.point_in_polygon_pairs)

Each point carries exactly one tile, so a (point, polygon) pair is
produced at most once — no post-join dedup is needed.  A polygon is
replicated only to the tiles its bbox covers (the quadtree filter
phase's job, done as an equi-join).

At 100 TB the only wide operation is the optional shuffle join; the
broadcast path is shuffle-free: scan -> codegen filter/keys ->
broadcast joins -> codegen ray cast (or mapInPandas) -> sink.

The nearest-linestring join needs no join operator at all: the
linestring cover is a driver-side CSR (tile -> candidate lines) that
one Arrow-batched kernel looks each point's tile up in, so its plan is
scan -> codegen keys -> mapInPandas -> sink.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..frames import local_frame
from ..functions.expressions import morton_key_expr, tile_expr
from ..geometry import LinestringArrays, PolygonArrays
from ..kernels.pip import point_in_polygon_pairs
from ..kernels.quadtree import min_scale
from ..kernels.segment import point_linestring_distance_pairs
from ..kernels.zorder import z_order


def assign_tiles(
    points: DataFrame,
    x: str,
    y: str,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float,
    max_depth: int,
    tile_level: int,
    key_col: str = "morton_key",
    tile_col: str = "tile",
) -> DataFrame:
    """Adds the full-depth Morton key and the coarse tile id (top
    2*tile_level bits) as JVM-side columns."""
    key = morton_key_expr(F.col(x), F.col(y), x_min, x_max, y_min, y_max, scale, max_depth)
    df = points.withColumn(key_col, key)
    return df.withColumn(tile_col, tile_expr(F.col(key_col), max_depth, tile_level))


def tiles_covering_bboxes(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    x_min: float,
    y_min: float,
    scale: float,
    max_depth: int,
    tile_level: int,
) -> tuple[np.ndarray, np.ndarray]:
    """For each bbox, the Morton tile ids (at tile_level) its rectangle
    covers.  Returns (bbox_index, tile) flat arrays.  Vectorized per
    bbox over the covered cell grid; cells are clipped to the AOI grid
    range so out-of-AOI bbox area is ignored (the point-in-polygon
    plans give out-of-AOI points tile -1, so they never match)."""
    tile_scale = scale * (1 << (max_depth - tile_level))
    n_cells = 1 << tile_level
    tx0 = np.clip(np.floor((minx - x_min) / tile_scale).astype(np.int64), 0, n_cells - 1)
    tx1 = np.clip(np.floor((maxx - x_min) / tile_scale).astype(np.int64), 0, n_cells - 1)
    ty0 = np.clip(np.floor((miny - y_min) / tile_scale).astype(np.int64), 0, n_cells - 1)
    ty1 = np.clip(np.floor((maxy - y_min) / tile_scale).astype(np.int64), 0, n_cells - 1)

    counts = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    bbox_idx = np.repeat(np.arange(len(minx), dtype=np.int64), counts)
    # per-bbox local grid enumeration
    flat = np.arange(int(counts.sum()), dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)))
    local = flat - np.repeat(starts[:-1], counts)
    w = np.repeat(tx1 - tx0 + 1, counts)
    cx = np.repeat(tx0, counts) + local % w
    cy = np.repeat(ty0, counts) + local // w
    tiles = z_order(cx.astype(np.uint16), cy.astype(np.uint16)).astype(np.int64)
    return bbox_idx, tiles


def _pip_points(
    points: DataFrame,
    x: str,
    y: str,
    keep_columns: list[str] | None,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    scale: float | None,
    max_depth: int,
    tile_level: int,
) -> tuple[DataFrame, list[str], list[str], float]:
    """The point side of both point-in-polygon plans: ``need`` (``keep``
    plus the coordinates) and the tile.  Returns ``(points, keep, need,
    scale)``.

    A point outside the closed AOI gets tile -1, which no polygon
    covers; its sentinel Morton key would put it in the top-right tile,
    to match whatever polygon covers that tile.  The bounds are those
    of ``morton_key_expr``'s sentinel, so points on ``x_max``/``y_max``
    stay in; null and NaN coordinates fail them.  The rule is a value,
    not a Filter, because Catalyst pushes a filter below a projection
    that derives the coordinates and so computes them twice."""
    if scale is None:
        scale = min_scale(x_min, x_max, y_min, y_max, max_depth)
    keep = keep_columns if keep_columns is not None else list(points.columns)
    need = list(dict.fromkeys(keep + [x, y]))
    px, py = F.col(x), F.col(y)
    x_min, x_max, y_min, y_max = map(float, (x_min, x_max, y_min, y_max))
    inside = (px >= x_min) & (px <= x_max) & (py >= y_min) & (py <= y_max)
    pts = assign_tiles(points, x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level)
    tile = F.when(inside, F.col("tile")).otherwise(F.lit(-1)).alias("tile")
    return pts.select(*need, tile), keep, need, scale


PIP_JOIN_SCHEMA_SUFFIX = [StructField("polygon_id", LongType(), False)]


SEGS_SCHEMA = "array<struct<ax:double,ay:double,bx:double,by:double>>"


def _polygon_segments_df(spark: SparkSession, polygons: PolygonArrays) -> DataFrame:
    """The polygon layer as a one-row-per-polygon broadcastable
    DataFrame ``(__poly_idx, polygon_id, __segs array<struct>)``.

    Measured (tools/threshold_bench.py): embedding the layer as a
    LITERAL Catalyst map costs super-linear driver plan-build time
    (16 s at 1k segments, 117 s at 10k); as ordinary broadcast-join
    DATA the plan is constant-size, and the refine expression runs
    identically JVM-side over the joined array column.
    """
    po = np.asarray(polygons.part_offsets)
    ro = np.asarray(polygons.ring_offsets)
    px = np.asarray(polygons.x, dtype=np.float64)
    py = np.asarray(polygons.y, dtype=np.float64)
    # vectorized ring-closing predecessor: vertex i pairs with i-1,
    # except each ring's first vertex, which pairs with the ring's
    # last; degenerate (zero-length) segments are masked out
    n = int(ro[-1]) if len(ro) else 0
    idx = np.arange(n, dtype=np.int64)
    prev = idx - 1
    ring = ro[1:] > ro[:-1]  # empty rings own no vertex to re-point
    prev[ro[:-1][ring]] = ro[1:][ring] - 1
    ax, ay, bx, by = px[idx], py[idx], px[prev], py[prev]
    keep = (ax != bx) | (ay != by)
    # polygon p owns the kept segments of vertices ro[po[p]]:ro[po[p+1]]
    kept_before = np.concatenate(([0], np.cumsum(keep)))
    segs = pa.ListArray.from_arrays(
        kept_before[ro[po]].astype(np.int32),
        pa.StructArray.from_arrays(
            [ax[keep], ay[keep], bx[keep], by[keep]], names=["ax", "ay", "bx", "by"]
        ),
    )
    return local_frame(
        spark,
        [np.arange(len(polygons)), polygons.ids, segs],
        f"__poly_idx long, polygon_id long, __segs {SEGS_SCHEMA}",
    )


def _pip_jvm_hit_expr(segs, x, y):
    """Ray-cast crossings parity as a pure JVM expression over an
    ``array<struct<ax,ay,bx,by>>`` column (same formula/order as
    kernels/pip.py and the SQL oracle).  Runs inside the JVM with zero
    Python — the fast path that sidesteps the serialized Arrow/Python
    boundary.

    Difference vs the kernel: no ULP on-edge exclusion — a point lying
    exactly ON a polygon edge gets parity-dependent membership instead
    of a guaranteed False.  Measure-zero for real data; use
    edge_exact=True when exact edge semantics matter.

    The point rides in the fold's accumulator rather than being read
    from the outer row inside the lambda.  Spark canonicalizes a
    higher-order function by renumbering its lambda variables from 0,
    in the same id space as attributes, so an outer column with a low
    expression id (a fresh session's first columns) reads as a lambda
    variable; constraint inference then sees a predicate over the
    segment side alone, pushes it below the join and the plan fails at
    run time with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND.
    """

    def step(acc, s):
        px, py = acc["x"], acc["y"]
        crosses = ((s["ay"] > py) != (s["by"] > py)) & (
            ((px - s["ax"]) * (s["by"] - s["ay"]) < (s["bx"] - s["ax"]) * (py - s["ay"]))
            != (s["ay"] > py)
        )
        return F.struct(
            (acc["n"] + F.when(crosses, 1).otherwise(0)).alias("n"),
            px.alias("x"), py.alias("y"),
        )

    crossings = F.aggregate(
        segs, F.struct(F.lit(0).alias("n"), x.alias("x"), y.alias("y")), step,
        lambda acc: acc["n"],
    )
    return crossings % 2 == 1


def point_in_polygon_join(
    points: DataFrame,
    polygons: PolygonArrays,
    x: str = "x",
    y: str = "y",
    x_min: float = 0.0,
    x_max: float = 1.0,
    y_min: float = 0.0,
    y_max: float = 1.0,
    scale: float | None = None,
    max_depth: int = 15,
    tile_level: int = 8,
    keep_columns: list[str] | None = None,
    edge_exact: bool = False,
) -> DataFrame:
    """Distributed containment join: returns the selected point columns
    plus ``polygon_id`` for every (point, polygon) containment pair.
    Points outside the closed AOI, or with a null or NaN coordinate,
    match nothing.

    The polygon layer is broadcast (the common web-scale shape: points
    >> polygons).  Equivalent to the reference pipeline
    quadtree_on_points + join_quadtree_and_bounding_boxes +
    quadtree_point_in_polygon, with the tile grid playing the role of
    the quadtree's leaf quadrants.

    The refine follows the edge semantic alone.  By default the
    crossings-parity ray cast runs as a JVM higher-order expression
    over a broadcast-joined segment table, with no Python; a point
    exactly ON an edge gets parity-dependent membership.
    ``edge_exact=True`` runs the Arrow-batched NumPy kernel instead,
    which keeps the reference's 4-ULP on-edge exclusion (such a point
    is deterministically outside); golden-parity claims set it.  The
    kernel is not a fast path: tools/threshold_bench.py measured the
    JVM refine faster at every layer size tried.
    """
    from ..geometry import require_single_part

    require_single_part(polygons, "point_in_polygon_join")
    pts, keep, need, scale = _pip_points(
        points, x, y, keep_columns, x_min, x_max, y_min, y_max, scale, max_depth, tile_level
    )
    spark = points.sparkSession
    minx, miny, maxx, maxy = polygons.bounding_boxes()
    bbox_idx, tiles = tiles_covering_bboxes(
        minx, miny, maxx, maxy, x_min, y_min, scale, max_depth, tile_level
    )
    poly_tiles = local_frame(spark, [tiles, bbox_idx], "tile long, __poly_idx long")
    candidates = pts.join(F.broadcast(poly_tiles), on="tile", how="inner").select(
        *need, "__poly_idx"
    )

    if not edge_exact:
        seg_df = _polygon_segments_df(spark, polygons)
        hit = _pip_jvm_hit_expr(F.col("__segs"), F.col(x), F.col(y))
        return (
            candidates.join(F.broadcast(seg_df), on="__poly_idx")
            .where(hit)
            .select(*keep, "polygon_id")
        )

    out_schema = StructType([points.schema[c] for c in keep] + PIP_JOIN_SCHEMA_SUFFIX)
    poly_offsets, ring_offsets = polygons.part_offsets, polygons.ring_offsets
    px, py, pids = polygons.x, polygons.y, polygons.ids

    def refine_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hits = point_in_polygon_pairs(
                pdf[x].to_numpy(), pdf[y].to_numpy(),
                pdf["__poly_idx"].to_numpy(),
                poly_offsets, ring_offsets, px, py,
            )
            out = pdf.loc[hits, keep].copy()
            out["polygon_id"] = pids[pdf["__poly_idx"].to_numpy()[hits]]
            yield out

    return candidates.mapInPandas(refine_fn, schema=out_schema)


PROGRESSIVE_THRESHOLD = 16.0
"""``progressive='auto'`` widens the radius in rounds when the
full-radius tile cover averages more than this many linestrings per
tile."""

MAX_SEGMENT_EVALS = 1 << 18
"""Point-to-segment distance evaluations per kernel call (about 60 MB
of NumPy temporaries).  A batch's points are chunked to stay under it,
so a hot tile bounds a task's memory instead of growing it; a single
point whose candidates alone exceed it is evaluated on its own."""


def _line_cover(
    linestrings: LinestringArrays, radius: float,
    x_min: float, y_min: float, scale: float, max_depth: int, tile_level: int,
) -> tuple[np.ndarray | None, np.ndarray, np.ndarray, np.ndarray]:
    """The radius cover as a CSR ``(tiles, offsets, lines, segs)``: tile
    ``tiles[k]`` has candidate line indices
    ``lines[offsets[k]:offsets[k + 1]]``, ordered by linestring id, with
    ``segs[k]`` segments among them.  ``tiles`` is None when the cover
    is vacuous (every line covers every tile): then the single slot
    holds the whole layer for every point."""
    minx, miny, maxx, maxy = linestrings.bounding_boxes(radius)
    line_idx, tiles = tiles_covering_bboxes(
        minx, miny, maxx, maxy, x_min, y_min, scale, max_depth, tile_level
    )
    ids = np.asarray(linestrings.ids)
    nl = len(linestrings)
    # a bbox covers each tile at most once, so a cover this large means
    # every line covers every tile
    if nl and len(tiles) == nl << (2 * tile_level):
        keys, offs, lines = None, np.array([0, nl]), np.lexsort((np.arange(nl), ids))
    else:
        order = np.lexsort((line_idx, ids[line_idx], tiles))
        keys, starts = np.unique(tiles[order], return_index=True)
        offs, lines = np.append(starts, len(order)), line_idx[order]
    nseg = np.maximum(np.diff(linestrings.part_offsets), 1) - 1
    seg_cum = np.concatenate(([0], np.cumsum(nseg[lines])))
    return keys, offs, lines, np.diff(seg_cum[offs])


def _row_chunks(weights: np.ndarray, cap: int) -> Iterator[tuple[int, int]]:
    """Consecutive row ranges [s, e) whose weights sum to at most cap
    (a range is never empty, so a row heavier than cap stands alone)."""
    cum = np.cumsum(weights)
    s = 0
    while s < len(weights):
        base = cum[s - 1] if s else 0
        e = max(int(np.searchsorted(cum, base + cap, side="right")), s + 1)
        yield s, e
        s = e


def _nearest_in_cover(
    px: np.ndarray, py: np.ndarray, tile: np.ndarray | None,
    cover: tuple, linestrings: LinestringArrays, cap: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per point, the nearest of the candidate lines of its tile:
    ``(rows, line, distance)`` for the points with at least one
    candidate.  Points with a NaN or infinite coordinate get none.
    Equidistant candidates resolve to the smallest linestring id (the
    CSR order); the result does not depend on ``cap``."""
    keys, offs, lines, segs = cover
    ok = np.isfinite(px) & np.isfinite(py)
    if keys is None:
        slot = np.zeros(len(px), dtype=np.int64)
    elif len(keys) == 0:
        ok[:] = False
        slot = np.zeros(len(px), dtype=np.int64)
    else:
        slot = np.minimum(np.searchsorted(keys, tile), len(keys) - 1)
        ok &= keys[slot] == tile
    rows = np.flatnonzero(ok)
    slot = slot[rows]
    start, count = offs[slot], offs[slot + 1] - offs[slot]
    best_line = np.empty(len(rows), dtype=np.int64)
    best_d = np.empty(len(rows), dtype=np.float64)
    for s, e in _row_chunks(segs[slot], cap):
        c = count[s:e]
        run = np.cumsum(c) - c  # each point's first pair
        pair = np.repeat(np.arange(s, e), c)
        line = lines[start[pair] + np.arange(len(pair)) - np.repeat(run, c)]
        d = point_linestring_distance_pairs(
            px[rows[pair]], py[rows[pair]], line,
            linestrings.part_offsets, linestrings.x, linestrings.y,
        )
        m = np.fmin.reduceat(d, run)
        at = np.minimum.reduceat(
            np.where(d == np.repeat(m, c), np.arange(len(d)), len(d)), run
        )
        at = np.where(at == len(d), run, at)  # all-NaN candidates: the first
        best_line[s:e] = line[at]
        best_d[s:e] = d[at]
    return rows, best_line, best_d


def point_to_nearest_linestring_join(
    points: DataFrame,
    linestrings: LinestringArrays,
    expansion_radius: float,
    x: str = "x",
    y: str = "y",
    x_min: float = 0.0,
    x_max: float = 1.0,
    y_min: float = 0.0,
    y_max: float = 1.0,
    scale: float | None = None,
    max_depth: int = 15,
    tile_level: int = 8,
    keep_columns: list[str] | None = None,
    progressive: bool | str = "auto",
) -> DataFrame:
    """Distributed nearest-linestring: returns ``keep_columns`` (in that
    order) plus ``linestring_id`` and ``distance`` for every reachable
    point.

    Contract.  A point's candidates are the linestrings whose bbox,
    expanded by ``expansion_radius``, meets the point's tile (the
    reference's bbox filter, core/spatial/join.py:317-320 semantics);
    the point gets one row, for its nearest candidate, and no row when
    it has none.  Out-of-AOI points carry the sentinel Morton key, so
    they fall in the last tile.  Points with a null, NaN or infinite
    coordinate get no row.  Equidistant candidates resolve to the
    smallest linestring id.

    Plan.  The radius cover is sorted driver-side into a CSR (tile ->
    candidate lines by id), the Morton tile is a JVM expression, and
    one Arrow-batched NumPy kernel per batch looks each point's tile up
    in the CSR and keeps the per-point minimum of
    ``kernels.segment.point_linestring_distance_pairs`` over its
    candidates: scan -> codegen project -> MapInPandas, with no join
    and no shuffle.  When the cover is vacuous (every line covers every
    tile) the tile expression is skipped and every point gets the whole
    layer.  A batch is chunked to at most ``MAX_SEGMENT_EVALS`` segment
    evaluations per kernel call.

    Progressive radius widening (the 100-TB candidate bound): a large
    ``expansion_radius`` makes every point a candidate of every line
    whose expanded bbox covers its tile — with an AOI-sized radius, an
    undeclared cross join.  With ``progressive`` the join runs in rounds
    with radius tile, 2*tile, 4*tile, ..., expansion_radius.  A round's
    candidates provably contain EVERY linestring whose true distance is
    <= that round's radius (a bbox expanded by r around a line at
    distance <= r covers the point, hence the point's tile), so a point
    whose round minimum is < r (strictly: a line at exactly r could sit
    on a cover boundary) is resolved; only the others, an exponentially
    shrinking set, go on to the doubled radius.  Out-of-AOI points are
    not where their sentinel tile is, so they wait for the final round,
    which makes the result identical to the single round's.  Each
    non-final round is checkpointed, since its output feeds both the
    result and the next round.  ``progressive='auto'`` widens only when
    the full-radius cover averages more than ``PROGRESSIVE_THRESHOLD``
    lines per tile.
    """
    from ..geometry import require_single_part

    require_single_part(linestrings, "point_to_nearest_linestring_join")
    if scale is None:
        scale = min_scale(x_min, x_max, y_min, y_max, max_depth)
    keep = keep_columns if keep_columns is not None else [c for c in points.columns]
    need = list(dict.fromkeys(keep + [x, y]))
    grid = (x_min, y_min, scale, max_depth, tile_level)

    tile_size = scale * (1 << (max_depth - tile_level))
    if progressive == "auto":
        keys, offs, _, _ = _line_cover(linestrings, expansion_radius, *grid)
        covered = len(linestrings) << (2 * tile_level) if keys is None else offs[-1]
        progressive = covered / float(1 << (2 * tile_level)) > PROGRESSIVE_THRESHOLD
    radii = []
    if progressive:
        r = tile_size
        while r < expansion_radius:
            radii.append(r)
            r *= 2.0
    radii.append(float(expansion_radius))

    def nearest_round(pts: DataFrame, radius: float, carry: bool) -> DataFrame:
        """One radius round.  The final (or only) round returns ``keep``
        + result for the points with a candidate; a carry round returns
        ``need`` + result for every point, with linestring_id -1 and
        distance inf where it has none."""
        cover = _line_cover(linestrings, radius, *grid)
        cap = MAX_SEGMENT_EVALS
        cols = need if carry else keep
        schema = StructType(
            [pts.schema[c] for c in cols]
            + [
                StructField("linestring_id", LongType(), False),
                StructField("distance", DoubleType(), False),
            ]
        )
        src = pts.select(*need)
        if cover[0] is not None:
            src = assign_tiles(
                src, x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level,
                key_col="__key", tile_col="__tile",
            ).select(*need, "__tile")

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                px = pdf[x].to_numpy(np.float64, na_value=np.nan)
                py = pdf[y].to_numpy(np.float64, na_value=np.nan)
                tile = (
                    None if cover[0] is None
                    else pdf["__tile"].to_numpy(np.int64, na_value=-1)
                )
                rows_all = np.flatnonzero(np.isfinite(px) & np.isfinite(py))
                if carry:
                    # an out-of-AOI point sits in the sentinel tile, not
                    # where it lies, so a round cannot prove its minimum
                    # global: it waits for the final round
                    inside = (px >= x_min) & (px <= x_max) & (py >= y_min) & (py <= y_max)
                    px = np.where(inside, px, np.nan)
                rows, line, d = _nearest_in_cover(px, py, tile, cover, linestrings, cap)
                ids = np.asarray(linestrings.ids)[line]
                if carry:
                    lid = np.full(len(pdf), -1, dtype=np.int64)
                    dist = np.full(len(pdf), np.inf)
                    lid[rows], dist[rows] = ids, d
                    rows, ids, d = rows_all, lid[rows_all], dist[rows_all]
                out = pdf[cols].take(rows)
                out["linestring_id"] = ids
                out["distance"] = d
                yield out

        return src.mapInPandas(kernel, schema=schema)

    out_cols = [*keep, "linestring_id", "distance"]
    results: list[DataFrame] = []
    carry = points
    for radius in radii[:-1]:
        scored = nearest_round(carry, radius, carry=True).localCheckpoint(eager=False)
        results.append(scored.where(F.col("distance") < radius).select(*out_cols))
        carry = scored.where(F.col("distance") >= radius).select(*need)
    results.append(nearest_round(carry, radii[-1], carry=False))

    out = results[0]
    for part in results[1:]:
        out = out.unionByName(part)
    return out
