"""The flagship pipeline, scan to checkpointed write: the ``checkpoint``
operation of the join_steady workload.

Set-up writes the pages table (url, warc_ts, html, text, lang) from
``sources.synth_webpages`` to parquet.  The operation reads that
parquet (uncached), runs ``geotag_points``, joins with
``point_in_polygon_join`` keeping (url, warc_ts, text, lang) and writes
the pairs with an ``ops.CheckpointedJob`` (bucketed parquet plus a
fsync'd manifest) into a fresh directory.
"""

from __future__ import annotations

import json
import os

import datagen
from harness import Tracer, median, per_op, remove_tree

N_PAGES = 30_000
N_BUCKETS = 2
KEEP = ["url", "warc_ts", "text", "lang"]


class CheckpointPipeline:
    def __init__(self, spark, polys, work: str, cores: int):
        self.spark, self.polys, self.work, self.cores = spark, polys, work, cores
        self.pages = None
        self.runs = 0
        self.manifests: list[list[dict]] = []
        self.bytes_per_text_byte = 0.0

    def setup(self) -> None:
        from cuspatial_spark.sources import synth_webpages

        if self.pages is not None:
            remove_tree(self.pages)
        self.pages = os.path.join(self.work, f"pages-{self.runs}")
        self.runs += 1
        synth_webpages(self.spark, N_PAGES, partitions=self.cores).write.parquet(self.pages)

    # ------------------------------------------------------------ operation
    def source(self):
        from cuspatial_spark.sources import geotag_points

        return geotag_points(self.spark.read.parquet(self.pages), **datagen.AOI)

    def _join(self, **kw):
        from cuspatial_spark.plans import point_in_polygon_join

        return point_in_polygon_join(self.source(), self.polys, **datagen.AOI, **kw)

    def _run_job(self, tr, out_dir: str) -> list[dict]:
        from cuspatial_spark.ops import CheckpointedJob

        joined = tr.build("plans", lambda: self._join(keep_columns=KEEP))
        job = CheckpointedJob(self.spark, out_dir, key_col="url", n_buckets=N_BUCKETS)
        res = tr.action("ops", lambda: job.run(joined, lambda df: df))
        with open(res["manifest"]) as f:
            return [json.loads(line) for line in f]

    def op(self, tr):
        self.runs += 1
        out_dir = os.path.join(self.work, f"out-{self.runs}")
        try:
            self.manifests.append(self._run_job(tr, out_dir))
        finally:
            remove_tree(out_dir)

    # ------------------------------------------------------------ correctness
    def check(self) -> dict:
        """First execution, checked: every bucket ``ok`` in the manifest,
        manifest rows = rows written = the pair count of the join with
        the independent kernel refine, and every written ``text``
        byte-equal to its source url's ``text``."""
        from pyspark.sql import functions as F

        out_dir = os.path.join(self.work, "check-out")
        manifest = self._run_job(Tracer(False), out_dir)
        src = self.spark.read.parquet(self.pages).select("url", F.col("text").alias("src_text"))
        bad = F.col("src_text").isNull() | (F.col("text").cast("binary") != F.col("src_text").cast("binary"))
        row = (
            self.spark.read.parquet(out_dir).join(src, "url", "left")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(bad.cast("long")).alias("bad"),
                 F.sum(F.octet_length("text")).alias("text_bytes"))
            .collect()[0]
        )
        n_out, bad_text, text_bytes = row["n"], row["bad"] or 0, row["text_bytes"] or 0
        pairs = self._join(keep_columns=["url"], edge_exact=True).count()
        not_ok = N_BUCKETS - sum(1 for e in manifest if e.get("status") == "ok")
        mismatches = bad_text + abs(n_out - pairs) + not_ok + abs(sum(e["rows"] for e in manifest) - n_out)
        disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(out_dir) for f in files if f.endswith(".parquet")
        )
        remove_tree(out_dir)
        self.bytes_per_text_byte = disk / max(text_bytes, 1)
        return {
            "mismatches": mismatches,
            "checked": n_out + pairs,
            "details": {"rows_written": n_out, "pairs": pairs, "text_mismatches": bad_text,
                        "bytes_written": disk},
        }

    # ------------------------------------------------------------ reports
    def report(self, records) -> dict:
        s = per_op(records)["checkpoint"]
        return {"pages_per_s": (N_PAGES / median(s), "pages/s", len(s))}

    def layer_metrics(self, records) -> dict:
        """``records``: the traced loop's, with the file scans of each
        operation; a source pass is one scan of the pages parquet."""
        entries = [e for m in self.manifests for e in m]
        pages = os.path.abspath(self.pages).rstrip("/")
        passes = [r["file_scans"].get(pages, 0) for r in records
                  if r["op"] == "checkpoint" and "file_scans" in r]
        return {
            "sources.bytes_written_per_text_byte": self.bytes_per_text_byte,
            "ops.bucket_rows_per_s":
                sum(e["rows"] for e in entries) / max(sum(e["seconds"] for e in entries), 1e-9),
            "ops.source_passes": median(passes),
        }

    def traced_report(self) -> dict:
        entries = [e["seconds"] for m in self.manifests for e in m]
        return {"ops.bucket_s": (median(entries), "s", len(entries))}
