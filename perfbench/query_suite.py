"""query_suite: headline queries of ``__spark_entry__`` over seeded
tables in rounds, the seed setting each round's query order.

The seeded ``events`` / ``documents`` / ``embeddings`` parquet tables
(the sizes and distributions of the repository's sf0.1 test tables) are
written once, before set-up.  Set-up reads them through the suite's
input builders (``_points``, ``_docs``, ``_emb``: parquet scan, hash
spread, derived geotags) to the noop sink.  Each operation
builds one query with ``queries()[name]`` (the ``operators``,
``textops``, ``similarity`` and ``plans`` constructors) and runs it to
the noop sink.  Correctness compares every query's first execution
with its ``oracle_sql()`` in DuckDB, order-insensitively, with the
normalisation of ``tools/check_oracles.py``.
"""

from __future__ import annotations

import os
import random

import numpy as np

import datagen
import layers
from harness import ROOT, median, noop, per_op, quantile, timed

TABLES = ["events", "documents", "embeddings"]
# the subset of the repository's 27 headline queries that fits the run
# time and still reaches every layer: plans (pip_join, the full-cover
# nearest_linestring), operators (spatial_window, trajectory_stats),
# textops (text_signals, bpe_tokens) and similarity (ann_topk);
# trajectory_stats, text_signals and bpe_tokens carry the open
# scan-spread regressions
QUERIES = [
    "pip_join", "nearest_linestring", "spatial_window", "trajectory_stats",
    "text_signals", "bpe_tokens", "ann_topk",
]


def _oracle_norm():
    """The result normalisation of tools/check_oracles.py, the
    repository's oracle gate."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def compare(norm, got, exp) -> int:
    """Mismatching values (or rows) between the normalised frames, with
    the exact value comparison of tools/check_oracles.py."""
    g, x = norm(got), norm(exp)
    if list(g.columns) != list(x.columns):
        return max(len(g), len(x), 1)
    if len(g) != len(x):
        return abs(len(g) - len(x))
    bad = 0
    for c in g.columns:
        a, b = g[c].to_numpy(), x[c].to_numpy()
        if np.issubdtype(np.asarray(a).dtype, np.floating) or np.issubdtype(np.asarray(b).dtype, np.floating):
            a, b = a.astype(float), b.astype(float)
            bad += int((~((a == b) | (np.isnan(a) & np.isnan(b)))).sum())
        else:
            bad += int((a != b).sum())
    return bad


class QuerySuite:
    name = "query_suite"

    def __init__(self, spark, seed: int, work: str, cores: int):
        import __spark_entry__ as E

        self.E = E
        self.spark, self.seed, self.work, self.cores = spark, seed, work, cores
        self.data = os.path.join(work, "tables")
        self.datagen_s = timed(lambda: datagen.write_query_tables(self.data, seed))[0]
        self.query_fns = E.queries()
        self.ops = {q: self._op(q) for q in QUERIES}

    def setup(self) -> None:
        for build in (self.E._points, self.E._docs, self.E._emb):
            noop(build(self.spark, self.data))

    def order(self, cycle: int):
        names = list(QUERIES)
        random.Random(self.seed * 1000 + cycle).shuffle(names)
        return names

    def known_defects(self) -> list[dict]:
        return []

    def _op(self, q: str):
        def run(tr):
            df = tr.build("operators", lambda: self.query_fns[q](self.spark, self.data))
            tr.action("spark", lambda: noop(df))
        return run

    def check(self) -> dict:
        import duckdb

        oracles = self.E.oracle_sql()
        norm = _oracle_norm()
        con = duckdb.connect()
        mismatches, checked = 0, 0
        per_query = {}
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in self.order(-1):
                got = self.query_fns[q](self.spark, self.data).toPandas()
                bad = compare(norm, got, con.execute(oracles[q]).fetchdf())
                per_query[q] = {"rows": len(got), "mismatches": bad}
                mismatches += bad
                checked += len(got)
        finally:
            con.close()
        return {"mismatches": mismatches, "checked": checked, "details": per_query}

    def report(self, records) -> dict:
        warm = [r["s"] for r in records]
        return {
            "datagen_s": (self.datagen_s, "s", 1),
            "query_p50_s": (median(warm), "s", len(warm)),
            "query_p90_s": (quantile(warm, 0.9), "s", len(warm)),
        }

    def layer_metrics(self, tracer, records) -> dict:
        E = self.E
        pts = E._points(self.spark, self.data).select("event_id", "x", "y")
        out = layers.tile_filter(tracer, pts, E._polygons(), E.AOI, E.MAX_DEPTH, E.TILE_LEVEL)
        out.update(layers.kernel_rates(tracer, E._polygons(), E._linestrings(), self.seed, 16.0, E.AOI))
        # the suite's input scan: events parquet + derived geotags
        out.update(layers.scan_rate(
            tracer, lambda: E._points(self.spark, self.data), datagen.SF01["n_events"]))
        return out

    def traced_report(self, records) -> dict:
        return {f"query.{q}.p50_s": (median(v), "s", len(v)) for q, v in per_op(records).items()}
