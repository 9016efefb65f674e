"""Tiled / z-ordered table writer.

Writes a points table spatially clustered: rows range-partitioned by
their full-depth Morton key (so files are z-order-contiguous, the
batch analogue of the reference's Morton sort,
detail/index/construction/phase_1.cuh) and directory-partitioned by
the coarse tile id.  Readers then get:

- partition pruning for `points_in_spatial_window` and tile joins
  (the tile is a directory key);
- intra-file locality for any per-tile refine (rows of one quadrant
  are adjacent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.quadtree import min_scale
from ..plans.tile_join import assign_tiles


def write_tiled(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    max_depth: int = 15,
    tile_level: int = 6,
    scale: float | None = None,
    mode: str = "overwrite",
    cluster: str = "morton",
) -> None:
    """cluster='morton' (default) range-partitions files by the
    quadtree key — file key-ranges ARE quadrants, aligning exactly
    with the tile join.  cluster='hilbert' range-partitions by the
    S2-style Hilbert key instead: every file covers a spatially
    connected, low-perimeter region (no Z-order diagonal jumps), which
    minimizes files touched per window/kNN scan; the directory `tile`
    key stays Morton-derived so partition pruning is unchanged."""
    if scale is None:
        scale = min_scale(x_min, x_max, y_min, y_max, max_depth)
    out = assign_tiles(df, x, y, x_min, x_max, y_min, y_max, scale, max_depth, tile_level)
    if cluster == "hilbert":
        from ..functions.expressions import with_hilbert_key

        # clamp BOTH sides: a point below x_min/y_min would otherwise
        # yield a negative cell index whose Hilbert key is garbage and
        # gets persisted into the files (morton_key_expr maps
        # out-of-AOI points to a sentinel; here they clamp to the AOI
        # edge cell, keeping the key valid and the sort order sane)
        cmax = (1 << max_depth) - 1
        out = out.withColumn(
            "__hi",
            F.greatest(
                F.least(F.floor((F.col(x) - x_min) / scale), F.lit(cmax)), F.lit(0)
            ).cast("long"),
        ).withColumn(
            "__hj",
            F.greatest(
                F.least(F.floor((F.col(y) - y_min) / scale), F.lit(cmax)), F.lit(0)
            ).cast("long"),
        )
        out = with_hilbert_key(out, "__hi", "__hj", max_depth, key_col="hilbert_key")
        out = out.drop("__hi", "__hj")
        sort_key = "hilbert_key"
    elif cluster == "morton":
        sort_key = "morton_key"
    else:
        raise ValueError(f"unknown cluster curve: {cluster!r}")
    (
        out.repartitionByRange(sort_key)
        .sortWithinPartitions(sort_key)
        .write.mode(mode)
        .partitionBy("tile")
        .parquet(path)
    )


def read_tiled(spark, path: str) -> DataFrame:
    """Read back a tiled table; `tile` is a partition column, so tile
    predicates prune directories."""
    return spark.read.parquet(path)
