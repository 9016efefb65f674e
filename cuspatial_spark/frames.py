"""Driver-side tables as Spark DataFrames, built through Arrow.

``spark.createDataFrame`` over Python rows or a pandas frame (with
``spark.sql.execution.arrow.pyspark.enabled`` off, Spark's default)
plans a ``LogicalRDD`` over pickled rows; every job that reads it —
each broadcast of a side table included — first runs a Python job of
``defaultParallelism`` tasks to re-serialize those rows.  A
``pyarrow.Table`` becomes a ``LocalRelation`` instead: the rows live in
the plan, broadcasting them starts no Python worker, and the table is
built column-wise from NumPy without a per-row Python loop.
"""

from __future__ import annotations

from collections.abc import Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
from pyspark.sql.types import StructField, StructType


def _arrow_column(values, typ: pa.DataType | None) -> pa.Array:
    if isinstance(values, pa.Array):
        return values if typ is None or values.type == typ else values.cast(typ)
    if hasattr(values, "to_numpy"):
        # pa.array over a pandas object masks NaN to null; over the
        # NumPy array a NaN stays a NaN, as in a Python-row frame
        values = values.to_numpy()
    return pa.array(values, type=typ)


def local_frame(
    spark: SparkSession,
    columns: Mapping | list | tuple,
    schema: str | StructType | None = None,
) -> DataFrame:
    """A DataFrame over driver-side columns, planned as a
    ``LocalRelation``.

    ``columns`` maps field names to NumPy arrays, lists, pandas Series
    or pyarrow arrays (a list or tuple is taken in schema order).
    ``schema`` — DDL or a ``StructType`` — fixes every field's type and
    nullability; values are cast to it safely (an overflowing ``int`` or
    a truncating float-to-integer cast raises).  Without a schema the
    fields take the Arrow type of their values and are nullable, the
    inference a pandas frame gets.  Empty columns give an empty frame
    with the schema; NaN stays NaN, ``None`` is null.
    """
    if schema is None:
        if not isinstance(columns, Mapping):
            raise TypeError("local_frame without a schema needs named columns")
        arrays = [_arrow_column(v, None) for v in columns.values()]
        schema = StructType(
            [StructField(name, from_arrow_type(a.type), True) for name, a in zip(columns, arrays)]
        )
    else:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        arrow_schema = to_arrow_schema(schema)
        values = [columns[f.name] for f in schema] if isinstance(columns, Mapping) else columns
        if len(values) != len(schema):
            raise ValueError(f"{len(values)} columns for {len(schema)} schema fields")
        arrays = [_arrow_column(v, f.type) for v, f in zip(values, arrow_schema)]
    table = pa.Table.from_arrays(arrays, names=schema.fieldNames())
    return spark.createDataFrame(table, schema=schema)
