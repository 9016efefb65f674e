"""Driver-side tables and the worker import-cache guard.

* Every driver-side table goes through ``frames.local_frame`` (an AST
  scan), which equals ``createDataFrame`` over pickled rows on the types
  it replaces, and no engine plan reads a Python-serialized RDD.
* ``worker.guard_import_caches``: an unchanged archive is not re-read,
  a rewritten one is, and a Spark task that runs after an engine kernel
  sees the guarded method.
"""

import ast
import math
import os
import sys
import zipfile
import zipimport
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from cuspatial_spark.frames import local_frame
from cuspatial_spark.worker import _unless_unchanged

ROOT = Path(__file__).resolve().parents[1]


# ------------------------------------------------------------------ lint

def _create_dataframe_calls(path: Path) -> list[str]:
    """``createDataFrame(`` calls in a file outside ``local_frame``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    allowed: set[int] = set()
    if path.name == "frames.py":
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(id(n) for n in ast.walk(node))
    return [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_driver_tables_use_the_helper():
    files = sorted((ROOT / "cuspatial_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    found = [site for f in files for site in _create_dataframe_calls(f)]
    assert found == [], "build driver-side tables with frames.local_frame"


def _python_rdd_leaves(df) -> list[str]:
    """Leaves of the analyzed plan that scan an RDD fed by Python (the
    pickled-row ``createDataFrame`` path).  A ``localCheckpoint`` is a
    ``LogicalRDD`` too, over JVM data, and is not counted."""
    out = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
            out.append(leaf.toString())
    return out


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """A tiny scale-factor directory with the columns the entry
    queries below read."""
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("sf")
    spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.col("id").alias("ts"),
    ).write.parquet(str(d / "events.parquet"))
    spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the quick brown fox "), F.col("id").cast("string")).alias("text"),
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture
def arrow_off(spark):
    """Spark's default: pandas input to ``createDataFrame`` is pickled
    row by row, not converted through Arrow."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, before)


def test_plans_read_no_python_rdd(spark, sf_dir, arrow_off):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from cuspatial_spark.plans import point_in_polygon_join
    from cuspatial_spark.textops.packing import pack_sequences

    pts = spark.range(100).select(
        "id", (F.col("id") % 8).cast("double").alias("x"), (F.col("id") % 5).cast("double").alias("y")
    )
    docs = spark.range(100).select(F.col("id").alias("doc_id"), (F.col("id") % 9).alias("n_tokens"))
    plans = {
        "point_in_polygon_join": point_in_polygon_join(
            pts, entry._polygons(), **entry.AOI
        ),
        "pack_sequences": pack_sequences(docs, seq_len=16),
        "q_pip_join": entry.q_pip_join(spark, sf_dir),
        "q_bpe_tokens": entry.q_bpe_tokens(spark, sf_dir),
    }
    for name, df in plans.items():
        assert _python_rdd_leaves(df) == [], name


# ------------------------------------------------- equality with rows

CASES = {
    "nan_and_null": (
        "a double, b double, c double",
        [(1.0, float("nan"), float("nan")), (float("nan"), None, 1.0), (None, 2.5, 2.0)],
        {"a": [1.0, float("nan"), None], "b": [float("nan"), None, 2.5],
         "c": np.array([np.nan, 1.0, 2.0])},
    ),
    "empty": ("a long, b string", [], {"a": np.array([], dtype=np.int64), "b": []}),
    "nested_list_struct": (
        "i long, segs array<struct<ax:double,ay:double,bx:double,by:double>>",
        [(0, [(0.0, 1.0, 2.0, 3.0), (4.0, 5.0, 6.0, float("nan"))]), (1, []), (2, None)],
        {
            "i": np.arange(3),
            "segs": pa.ListArray.from_arrays(
                pa.array([0, 2, 2, 2], pa.int32()),
                pa.StructArray.from_arrays(
                    [np.array([0.0, 4.0]), np.array([1.0, 5.0]),
                     np.array([2.0, 6.0]), np.array([3.0, np.nan])],
                    names=["ax", "ay", "bx", "by"],
                ),
                mask=pa.array([False, False, True]),
            ),
        },
    ),
    "int_vs_long": (
        "small int, big long",
        [(1, 2**40), (-(2**31), -1)],
        {"small": np.array([1, -(2**31)], dtype=np.int64), "big": np.array([2**40, -1])},
    ),
    "not_null": (
        "k long NOT NULL, v boolean",
        [(1, True), (2, None)],
        {"k": np.array([1, 2]), "v": [True, None]},
    ),
}


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b and type(a) is type(b)


@pytest.mark.parametrize("case", sorted(CASES))
def test_helper_equals_pickled_rows(spark, case):
    schema, rows, columns = CASES[case]
    # the first column of every case orders the rows; NaN and null sort
    # the same way on both sides
    old = spark.createDataFrame(rows, schema=schema)
    new = local_frame(spark, columns, schema)
    assert new.schema == old.schema
    key = old.columns[0]
    got = [tuple(r) for r in new.orderBy(key).collect()]
    want = [tuple(r) for r in old.orderBy(key).collect()]
    assert _same(got, want), (got, want)


def test_helper_rejects_lossy_casts(spark):
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [np.array([2**40])], "a int")
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [np.array([1.5])], "a long")


def test_helper_infers_like_pandas(spark):
    df = local_frame(
        spark,
        {"i": np.arange(3), "x": np.array([0.5, np.nan, 1.0]), "s": ["a", None, "c"],
         "b": np.array([True, False, True])},
    )
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema] == [
        ("i", "bigint", True), ("x", "double", True), ("s", "string", True), ("b", "boolean", True)
    ]
    assert math.isnan(df.orderBy("i").collect()[1]["x"])


# ------------------------------------------------------------- guard

def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_guard_rereads_only_a_changed_archive(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"first_mod": "X = 1\n"})
    reads = []
    original = zipimport.zipimporter.invalidate_caches

    def counted(self):
        reads.append(self.archive)
        original(self)

    guarded = _unless_unchanged(counted)
    importer = zipimport.zipimporter(str(archive))
    for _ in range(3):
        guarded(importer)
    assert len(reads) == 1
    assert importer.find_spec("second_mod") is None

    _write_zip(archive, {"first_mod": "X = 1\n", "second_mod": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    guarded(importer)
    assert len(reads) == 2
    assert importer.find_spec("second_mod") is not None
    guarded(importer)
    assert len(reads) == 2


def test_guard_is_off_on_the_driver():
    from cuspatial_spark.worker import guard_import_caches

    assert guard_import_caches() is False
    assert not getattr(zipimport.zipimporter.invalidate_caches, "guarded", False)


def test_task_after_a_kernel_sees_the_guard(spark):
    import pandas as pd

    from cuspatial_spark.kernels.pip import point_in_polygon_pairs

    def kernel(batches):
        for pdf in batches:
            hits = point_in_polygon_pairs(
                pdf["id"].to_numpy(dtype=float), pdf["id"].to_numpy(dtype=float),
                np.zeros(len(pdf), dtype=np.int64),
                np.array([0, 1]), np.array([0, 4]),
                np.array([0.0, 4.0, 4.0, 0.0]), np.array([0.0, 0.0, 4.0, 4.0]),
            )
            yield pd.DataFrame({"pid": [os.getpid()], "hits": [int(hits.sum())]})

    def report(batches):
        import zipimport as zi

        for _ in batches:
            guarded = bool(getattr(zi.zipimporter.invalidate_caches, "guarded", False))
            yield pd.DataFrame({"pid": [os.getpid()], "guarded": [guarded]})

    parts = spark.sparkContext.defaultParallelism * 2
    ran_kernel = {
        r["pid"] for r in spark.range(0, 64, 1, parts).mapInPandas(kernel, "pid long, hits long").collect()
    }
    after = spark.range(0, 64, 1, parts).mapInPandas(report, "pid long, guarded boolean").collect()
    seen = [r["guarded"] for r in after if r["pid"] in ran_kernel]
    assert seen, "no worker ran both jobs"
    assert all(g is (sys.version_info < (3, 13)) for g in seen)
