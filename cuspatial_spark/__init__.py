"""cuspatial_spark — a PySpark-native spatial-join + tiling engine.

From-scratch re-expression of cuSpatial's query semantics
(rapidsai/cuspatial, reference snapshot at /root/reference) on the
Spark DataFrame API: geometry travels in GeoArrow-flat layer columns,
hot kernels are vectorized NumPy over Arrow batches, everything
relational is Catalyst built-ins.

Public surface (mirrors cuspatial/__init__.py:15-43):

- operators.*: parity operators (quadtree_on_points, point_in_polygon,
  join_quadtree_and_bounding_boxes, quadtree_point_in_polygon,
  quadtree_point_to_nearest_linestring, points_in_spatial_window,
  haversine_distance, directed_hausdorff_distance, sinusoidal_projection,
  derive_trajectories, trajectory_distances_and_speeds,
  trajectory/polygon/linestring_bounding_boxes, ...)
- plans.*: distributed scale-path plans (tile equi-join + refine)
- functions.*: pure Catalyst column expressions (morton keys, tiles,
  haversine, window predicates)
- geometry: Polygon/Linestring/Multipoint layer containers plus the
  MultiLinestring/MultiPolygon geometry_offset level
- GeoSeries / GeoDataFrame: the GeoPandas-shaped switch surface
"""

from . import functions, geometry, operators, plans  # noqa: F401
from .geometry import (  # noqa: F401
    LinestringArrays,
    MultiLinestringArrays,
    MultipointArrays,
    MultiPolygonArrays,
    PolygonArrays,
)
from .geodataframe import GeoDataFrame  # noqa: F401
from .geoseries import GeoSeries  # noqa: F401

from .worker import guard_import_caches

__version__ = "0.1.0"

guard_import_caches()
