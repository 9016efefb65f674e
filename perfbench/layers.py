"""Per-layer probes of the traced run that do not fit inside a workload
operation: the tile filter's work and precision, the NumPy kernels on
a fixed in-process sample, and the sources scan rate.  Each calls the
layer's public functions directly."""

from __future__ import annotations

import numpy as np
import pandas as pd

from harness import noop, repeat_median

KERNEL_PAIRS = 200_000
REPEATS = 3


def _scale(max_depth: int, aoi: dict) -> float:
    # the default of point_in_polygon_join
    return max(aoi["x_max"] - aoi["x_min"], aoi["y_max"] - aoi["y_min"]) / ((1 << max_depth) + 2)


def tile_filter(tracer, points, polys, aoi: dict, max_depth: int, tile_level: int) -> dict:
    """plans layer: assign_tiles to the noop sink (median time), and the
    candidate pairs of assign_tiles ⋈ tiles_covering_bboxes against the
    refined pairs of point_in_polygon_join."""
    from pyspark.sql import functions as F

    from cuspatial_spark.plans import point_in_polygon_join
    from cuspatial_spark.plans.tile_join import assign_tiles, tiles_covering_bboxes

    spark = points.sparkSession
    scale = _scale(max_depth, aoi)
    args = (aoi["x_min"], aoi["x_max"], aoi["y_min"], aoi["y_max"], scale, max_depth, tile_level)

    def assign():
        with tracer.span("assign_tiles", "plans"):
            noop(assign_tiles(points, "x", "y", *args))

    assign_s = repeat_median(assign, REPEATS)
    minx, miny, maxx, maxy = polys.bounding_boxes()
    with tracer.span("tiles_covering_bboxes", "plans"):
        bbox_idx, tiles = tiles_covering_bboxes(
            minx, miny, maxx, maxy, aoi["x_min"], aoi["y_min"], scale, max_depth, tile_level
        )
    cover = spark.createDataFrame(
        pd.DataFrame({"tile": tiles, "poly": bbox_idx}), "tile long, poly long")
    tiled = assign_tiles(points, "x", "y", *args)
    n_points = points.count()
    candidates = tiled.join(F.broadcast(cover), "tile").count()
    pairs = point_in_polygon_join(
        points, polys, **aoi, max_depth=max_depth, tile_level=tile_level
    ).count()
    return {
        "plans.assign_tiles_s": assign_s,
        "plans.candidates_per_point": candidates / max(n_points, 1),
        "plans.filter_precision": pairs / max(candidates, 1),
    }


def kernel_rates(tracer, polys, lines, seed: int, radius: float, aoi: dict) -> dict:
    """kernels layer: the PIP and point-to-linestring kernels on a
    seeded sample of bbox-candidate pairs, pairs per second."""
    from cuspatial_spark.kernels.pip import point_in_polygon_pairs
    from cuspatial_spark.kernels.segment import point_linestring_distance_pairs

    rng = np.random.default_rng([seed, 3])

    def sample(bounds):
        minx, miny, maxx, maxy = bounds
        n = KERNEL_PAIRS
        xs = rng.uniform(aoi["x_min"], aoi["x_max"], 4 * n)
        ys = rng.uniform(aoi["y_min"], aoi["y_max"], 4 * n)
        pt, g = [], []
        for j in range(len(minx)):
            hit = np.nonzero((xs >= minx[j]) & (xs <= maxx[j]) & (ys >= miny[j]) & (ys <= maxy[j]))[0]
            pt.append(hit)
            g.append(np.full(len(hit), j, dtype=np.int64))
        pt, g = np.concatenate(pt), np.concatenate(g)
        keep = rng.permutation(len(pt))[:n]
        return xs[pt[keep]], ys[pt[keep]], g[keep]

    px, py, pg = sample(polys.bounding_boxes())

    def pip():
        with tracer.span("point_in_polygon_pairs", "kernels"):
            point_in_polygon_pairs(px, py, pg, polys.part_offsets, polys.ring_offsets, polys.x, polys.y)

    lx, ly, lg = sample(lines.bounding_boxes(radius))

    def segdist():
        with tracer.span("point_linestring_distance_pairs", "kernels"):
            point_linestring_distance_pairs(lx, ly, lg, lines.part_offsets, lines.x, lines.y)

    pip()
    segdist()
    return {
        "kernels.pip_pairs_per_s": len(px) / repeat_median(pip, REPEATS),
        "kernels.point_linestring_per_s": len(lx) / repeat_median(segdist, REPEATS),
    }


def scan_rate(tracer, make_df, rows: int) -> dict:
    """sources layer: a sources-built DataFrame to the noop sink, rows/s."""

    def scan():
        with tracer.span("scan", "sources"):
            noop(make_df())

    return {"sources.scan_rows_per_s": rows / repeat_median(scan, REPEATS)}
