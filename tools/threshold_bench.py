"""Time the two point-in-polygon refines of plans/tile_join over
square-grid polygon layers of increasing size.

``point_in_polygon_join`` picks its refine from the edge semantic
alone: ``edge_exact=False`` runs the crossings-parity ray cast as a JVM
higher-order expression over a broadcast segment table,
``edge_exact=True`` the Arrow-batched NumPy kernel.  This tool runs
both over a fixed cached point workload and prints one JSON line per
(n_segments, edge_exact) cell:

    python tools/threshold_bench.py [n_points] [n_polys...]

A square has 4 segments and 5 vertices.  The master is
``local[$SPARK_GRAFT_CPUS]`` (default: the number of CPUs).

History: the JVM refine once embedded the layer as LITERAL Catalyst
expressions, whose plan-build time grew super-linearly (15.9 s at 1k
segments, 117 s at 10k); the broadcast segment table made it constant.
A former automatic refine choice sent layers over 200k vertices to the
kernel; this tool measured the JVM refine faster at every size, so the
switch is gone (BASELINE.md, "Refine-path threshold validation").
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def square_grid_layer(n_polys: int):
    """n_polys small squares (4 segments each) tiled over [0,8)^2."""
    from cuspatial_spark.geometry import PolygonArrays

    side = int(np.ceil(np.sqrt(n_polys)))
    cell = 8.0 / side
    part_offsets = np.arange(n_polys + 1)
    ring_offsets = np.arange(0, 5 * n_polys + 1, 5)
    xs, ys = [], []
    for p in range(n_polys):
        gx, gy = (p % side) * cell, (p // side) * cell
        w = cell * 0.8
        xs.extend([gx, gx + w, gx + w, gx, gx])
        ys.extend([gy, gy, gy + w, gy + w, gy])
    return PolygonArrays(part_offsets, ring_offsets, xs, ys)


def main():
    from pyspark.sql import SparkSession, functions as F

    from cuspatial_spark.plans import point_in_polygon_join

    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    sizes = (
        [int(s) for s in sys.argv[2:]]
        if len(sys.argv) > 2
        else [250, 1000, 2500, 5000, 10000]
    )
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    pts = (
        spark.range(n_points)
        .select(
            F.col("id").alias("point_id"),
            ((F.col("id") * 2654435761 % 1000003) / 1000003.0 * 8.0).alias("x"),
            ((F.col("id") * 40503 % 999983) / 999983.0 * 8.0).alias("y"),
        )
        .repartition(2 * cores)
        .cache()
    )
    pts.count()

    for n_polys in sizes:
        layer = square_grid_layer(n_polys)
        n_segs = 4 * n_polys
        for edge_exact in (False, True):
            t0 = time.time()
            df = point_in_polygon_join(
                pts, layer, x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0,
                max_depth=12, tile_level=5, keep_columns=["point_id"],
                edge_exact=edge_exact,
            )
            df._jdf.queryExecution().executedPlan()  # force plan build
            t_plan = time.time() - t0
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.time() - t1
            print(json.dumps({
                "n_polys": n_polys, "n_segments": n_segs, "edge_exact": edge_exact,
                "plan_sec": round(t_plan, 3), "exec_sec": round(t_exec, 3),
                "total_sec": round(t_plan + t_exec, 3), "n_points": n_points,
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
