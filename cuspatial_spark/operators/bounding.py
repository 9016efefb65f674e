"""Bounding-box operators.

Reference: core/spatial/bounding.py:19-140 and core/trajectory.py:92-168.
For layer DataFrames these are pure groupBy min/max aggregations
(map-side partial agg for free); for driver-side geometry arrays they
delegate to the `*Arrays.bounding_boxes` helpers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from ..geometry import LinestringArrays, PolygonArrays


def polygon_bounding_boxes(polygons, spark=None) -> "DataFrame":
    """PolygonArrays -> bbox DataFrame (minx, miny, maxx, maxy)."""
    if isinstance(polygons, PolygonArrays):
        minx, miny, maxx, maxy = polygons.bounding_boxes()
        cols = {"polygon_id": polygons.ids, "minx": minx, "miny": miny,
                "maxx": maxx, "maxy": maxy}
        if spark is None:
            import pandas as pd

            return pd.DataFrame(cols)
        return local_frame(spark, cols)
    # vertex-level DataFrame (geom_id, x, y)
    return polygons.groupBy("geom_id").agg(
        F.min("x").alias("minx"), F.min("y").alias("miny"),
        F.max("x").alias("maxx"), F.max("y").alias("maxy"),
    )


def linestring_bounding_boxes(linestrings, expansion_radius: float, spark=None):
    """Bbox per linestring expanded by a radius on all sides
    (reference core/spatial/bounding.py:83-140)."""
    if isinstance(linestrings, LinestringArrays):
        minx, miny, maxx, maxy = linestrings.bounding_boxes(expansion_radius)
        cols = {"linestring_id": linestrings.ids, "minx": minx, "miny": miny,
                "maxx": maxx, "maxy": maxy}
        if spark is None:
            import pandas as pd

            return pd.DataFrame(cols)
        return local_frame(spark, cols)
    r = float(expansion_radius)
    return (
        linestrings.groupBy("geom_id")
        .agg(
            (F.min("x") - r).alias("minx"), (F.min("y") - r).alias("miny"),
            (F.max("x") + r).alias("maxx"), (F.max("y") + r).alias("maxy"),
        )
    )


def trajectory_bounding_boxes(
    df: DataFrame, object_id: str = "object_id", x: str = "x", y: str = "y"
) -> DataFrame:
    """Reference core/trajectory.py:92-168 — pure built-in agg."""
    return df.groupBy(object_id).agg(
        F.min(x).alias("minx"), F.min(y).alias("miny"),
        F.max(x).alias("maxx"), F.max(y).alias("maxy"),
    )
