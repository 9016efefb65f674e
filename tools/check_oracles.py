"""Local replica of the correctness gate: run every queries() entry on
Spark and its oracle_sql() in DuckDB, compare row count, schema width,
and order-insensitive values.

Usage: python3 tools/check_oracles.py SF_DIR [SF_DIR ...] [name,name,...]

Each SF_DIR (a scale factor's parquet directory) is checked in turn;
an argument that is not a directory restricts the run to the named
queries.  Exits non-zero if any query mismatches at any scale factor."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def check(spark, E, sf_dir: str, only: list[str] | None) -> list[str]:
    """Runs the queries against their oracles over one scale factor's
    parquet directory; returns the names that failed."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"[SPARK-ERROR] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"[SQL-ERROR ] {name}: {str(e)[:300]}")
            continue
        g, x = norm(got), norm(exp)
        if list(g.columns) != list(x.columns):
            failures.append(name)
            print(f"[SCHEMA    ] {name}: spark={list(g.columns)} oracle={list(x.columns)}")
            continue
        if len(g) != len(x):
            failures.append(name)
            print(f"[ROWCOUNT  ] {name}: spark={len(g)} oracle={len(x)}")
            continue
        mismatch = None
        for c in g.columns:
            a, b = g[c].to_numpy(), x[c].to_numpy()
            if np.issubdtype(np.asarray(a).dtype, np.floating) or np.issubdtype(np.asarray(b).dtype, np.floating):
                ok = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
                if not ok:
                    d = np.abs(a.astype(float) - b.astype(float))
                    mismatch = (c, float(np.nanmax(d)), int((d > 0).sum()))
                    break
            else:
                if not (a == b).all():
                    bad = (a != b)
                    mismatch = (c, f"{a[bad][:3]} vs {b[bad][:3]}", int(bad.sum()))
                    break
        if mismatch:
            failures.append(name)
            print(f"[VALUES    ] {name}: col={mismatch[0]} err={mismatch[1]} n_bad={mismatch[2]}")
        else:
            print(f"[OK        ] {name}: {len(g)} rows")

    n = len([q for q in qs if not only or q in only])
    print(f"\n{n - len(failures)}/{n} queries match ({sf_dir})")
    return failures


def main():
    args = sys.argv[1:]
    sf_dirs = [a for a in args if os.path.isdir(a)]
    only = [n for a in args if not os.path.isdir(a) for n in a.split(",")] or None
    if not sf_dirs:
        sys.exit(__doc__)

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    failed = False
    for sf_dir in sf_dirs:
        failed |= bool(check(spark, E, sf_dir, only))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
