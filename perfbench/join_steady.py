"""join_steady: the join engine over geotagged pages, and the flagship
pipeline that writes its pairs.

Set-up caches ``sources.synth_webpages`` + ``geotag_points`` projected
to (url, x, y) and writes a smaller pages table to parquet.  The
operations run against a jittered 100-polygon lattice:

* ``pip``: ``point_in_polygon_join`` over the cached points with the
  default refine (the JVM expression at this layer size);
* ``pip_exact``: the same join with ``edge_exact=True`` (Arrow kernel
  refine, the Python crossing);
* ``nearest``: ``point_to_nearest_linestring_join`` over a seeded
  quarter of the cached points, the polygon rings read as linestrings;
* ``checkpoint``: parquet scan -> geotag -> join -> ``ops``
  checkpointed write (see checkpoint.py).

``legacy_steady`` replays the steady-state input shape of the
repository's frozen bench (``spark.range`` points with arithmetic x, y
and ``keep_columns=["page_id"]``) right after the session's first
``mapInPandas``; it is a probe of a known defect, attempted once per
run and reported, never retried on another path.
"""

from __future__ import annotations

import numpy as np

import datagen
import layers
import checkpoint
from harness import error_summary, median, noop, per_op, repeat_median, restart_spark, warm_up

N_PAGES = 125_000
RADIUS = 0.25
# side of the joins' tiles at their default max_depth 15, tile_level 8
TILE = (datagen.AOI["x_max"] - datagen.AOI["x_min"]) / ((1 << 15) + 2) * (1 << (15 - 8))
SAMPLE_MOD = 256  # the oracle sample: one url in SAMPLE_MOD
LEGACY_ROWS = 20_000
SCALING_RUNS = 3


class JoinSteady:
    name = "join_steady"

    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark, self.seed, self.work, self.cores = spark, seed, work, cores
        self.polys = datagen.polygon_lattice(seed)
        self.lines = datagen.rings_as_linestrings(self.polys)
        self.pts = None
        self.n_quarter = None
        self.pipeline = checkpoint.CheckpointPipeline(spark, self.polys, work, cores)
        self.ops = {"pip": self._pip, "pip_exact": self._pip_exact, "nearest": self._nearest,
                    "checkpoint": self.pipeline.op}

    # ------------------------------------------------------------ inputs
    def _pages(self, spark, n: int, partitions: int):
        from cuspatial_spark.sources import geotag_points, synth_webpages

        return geotag_points(synth_webpages(spark, n, partitions=partitions), **datagen.AOI).select(
            "url", "x", "y"
        )

    def setup(self) -> None:
        if self.pts is not None:
            self.pts.unpersist(blocking=True)
        self.pts = self._pages(self.spark, N_PAGES, 2 * self.cores).cache()
        self.pts.count()
        self.pipeline.setup()

    def _quarter(self):
        from pyspark.sql import functions as F

        return self.pts.where(F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(4)) == 0)

    def order(self, cycle: int):
        return list(self.ops)

    # ------------------------------------------------------------ operations
    def _join(self, edge_exact: bool):
        from cuspatial_spark.plans import point_in_polygon_join

        return point_in_polygon_join(
            self.pts, self.polys, **datagen.AOI, keep_columns=["url"], edge_exact=edge_exact
        )

    def _nearest_df(self):
        from cuspatial_spark.plans import point_to_nearest_linestring_join

        return point_to_nearest_linestring_join(
            self._quarter(), self.lines, RADIUS, **datagen.AOI, keep_columns=["url"]
        )

    def _pip(self, tr):
        df = tr.build("plans", lambda: self._join(False))
        tr.action("spark", lambda: noop(df))

    def _pip_exact(self, tr):
        df = tr.build("plans", lambda: self._join(True))
        tr.action("spark", lambda: noop(df))

    def _nearest(self, tr):
        df = tr.build("plans", self._nearest_df)
        tr.action("spark", lambda: noop(df))

    # ------------------------------------------------------------ known defect
    def known_defects(self) -> list[dict]:
        """Must run right after the session's warm-up."""
        from pyspark.sql import functions as F

        from cuspatial_spark.plans import point_in_polygon_join

        i = F.col("id")
        pts = self.spark.range(0, LEGACY_ROWS, 1, 2 * self.cores).select(
            i.alias("page_id"),
            ((i * 2654435761 % 104729) / 104729.0 * 8.0).alias("x"),
            ((i * 97003 % 999983) / 999983.0 * 8.0).alias("y"),
        )
        try:
            noop(point_in_polygon_join(pts, self.polys, **datagen.AOI, keep_columns=["page_id"]))
            return [{"op": "legacy_steady", "ok": True}]
        except Exception as e:
            return [{"op": "legacy_steady", "ok": False, "error": error_summary(e)}]

    # ------------------------------------------------------------ correctness
    def check(self) -> dict:
        """The first execution of every operation, checked in one job each:
        pip and pip_exact pair sets agree in full (count + order-free
        hash), both match a DuckDB ray-cast on a seeded sample of urls,
        and nearest agrees with a NumPy brute force on the sample (see
        ``_nearest_mismatches``)."""
        from pyspark.sql import functions as F

        in_sample = F.pmod(F.xxhash64("url", F.lit(self.seed + 1)), F.lit(SAMPLE_MOD)) == 0

        def summary(df, cols):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
                F.collect_list(F.when(in_sample, F.struct(*cols))).alias("sample"),
            ).collect()[0]
            return int(row["n"]), int(row["h"] or 0), [tuple(r) for r in row["sample"]]

        details = {}
        n_pip, h_pip, s_pip = summary(self._join(False), ["url", "polygon_id"])
        n_exact, h_exact, s_exact = summary(self._join(True), ["url", "polygon_id"])
        n_near, _, s_near = summary(self._nearest_df(), ["url", "linestring_id", "distance"])
        details.update(pip_pairs=n_pip, nearest_rows=n_near)

        quarter = F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(4)) == 0
        sample = self.pts.where(in_sample).withColumn("quarter", quarter).toPandas()
        self.n_quarter = self._quarter().count()

        details["pip_vs_pip_exact"] = 0 if (n_pip, h_pip) == (n_exact, h_exact) else max(1, abs(n_pip - n_exact))
        expect = self._ray_cast(sample)
        details["ray_cast_pip"] = len(set(s_pip) ^ expect)
        details["ray_cast_pip_exact"] = len(set(s_exact) ^ expect)
        details["nearest"] = self._nearest_mismatches(sample, s_near)
        pages = self.pipeline.check()
        details["checkpoint"] = pages["details"]
        mismatches = pages["mismatches"] + sum(
            details[k] for k in ("pip_vs_pip_exact", "ray_cast_pip", "ray_cast_pip_exact", "nearest"))
        checked = n_pip + 2 * len(expect) + int(sample["quarter"].sum()) + pages["checked"]
        return {"mismatches": mismatches, "checked": checked, "details": details}

    def _segments(self, closing: bool):
        """(polygon id, ax, ay, bx, by) of every ring segment."""
        ro = np.asarray(self.polys.ring_offsets)
        po = np.asarray(self.polys.part_offsets)
        rows = []
        for p in range(len(po) - 1):
            for r in range(po[p], po[p + 1]):
                s, e = int(ro[r]), int(ro[r + 1])
                for i in range(s, e):
                    if closing:
                        j = e - 1 if i == s else i - 1
                    elif i + 1 < e:
                        j = i + 1
                    else:
                        continue
                    ax, ay = self.polys.x[i], self.polys.y[i]
                    bx, by = self.polys.x[j], self.polys.y[j]
                    if ax != bx or ay != by:
                        rows.append((int(self.polys.ids[p]), ax, ay, bx, by))
        return rows

    def _ray_cast(self, sample) -> set:
        """(url, polygon id) pairs by crossing parity, in DuckDB."""
        import duckdb
        import pandas as pd

        segs = pd.DataFrame(self._segments(True), columns=["pid", "ax", "ay", "bx", "by"])
        pts = sample[["url", "x", "y"]]
        con = duckdb.connect()
        try:
            con.register("segs", segs)
            con.register("pts", pts)
            rows = con.execute("""
                SELECT url, pid FROM pts, segs
                WHERE ((ay > y) != (by > y))
                  AND (((x - ax) * (by - ay) < (bx - ax) * (y - ay)) != (ay > y))
                GROUP BY url, pid HAVING count(*) % 2 = 1
            """).fetchall()
        finally:
            con.close()
        return {(u, int(p)) for u, p in rows}

    def _nearest_mismatches(self, sample, rows) -> int:
        """Compares the nearest join's rows for the sample urls, both
        ways, with a NumPy brute force over every segment.  The join's
        contract: a point gets one row, the nearest of the linestrings
        whose bbox expanded by the radius meets the point's tile, and
        none if there is no such linestring.  So, per quarter point of
        the sample: a point inside some expanded bbox gets a row; a row's
        linestring has its expanded bbox within one tile of the point;
        its distance equals the point's exact distance to that
        linestring and is the minimum over every linestring whose
        expanded bbox holds the point (so within the radius it is the
        global nearest).  Rows of points outside the quarter, or a
        second row of a point, are mismatches too."""
        segs = np.asarray(self._segments(False))
        line_ids = np.unique(segs[:, 0].astype(np.int64))
        col = np.searchsorted(line_ids, segs[:, 0].astype(np.int64))
        ax, ay, bx, by = (segs[:, k][None, :] for k in range(1, 5))
        x = sample["x"].to_numpy()[:, None]
        y = sample["y"].to_numpy()[:, None]
        dx, dy = bx - ax, by - ay
        t = np.clip(((x - ax) * dx + (y - ay) * dy) / (dx * dx + dy * dy), 0.0, 1.0)
        seg_d = np.hypot(x - (ax + t * dx), y - (ay + t * dy))
        dist = np.full((len(sample), len(line_ids)), np.inf)
        np.minimum.at(dist.T, col, seg_d.T)

        lo_x = np.full(len(line_ids), np.inf)
        lo_y, hi_x, hi_y = lo_x.copy(), -lo_x, -lo_x
        for v in (1, 3):  # both ends of every segment
            np.minimum.at(lo_x, col, segs[:, v])
            np.minimum.at(lo_y, col, segs[:, v + 1])
            np.maximum.at(hi_x, col, segs[:, v])
            np.maximum.at(hi_y, col, segs[:, v + 1])

        def inside(pad):
            """(point, linestring): the point lies in the bbox grown by pad."""
            return (x >= lo_x - pad) & (x <= hi_x + pad) & (y >= lo_y - pad) & (y <= hi_y + pad)

        covers = inside(RADIUS)
        reach = inside(RADIUS + TILE)
        quarter = sample["quarter"].to_numpy()
        row_of = {u: i for i, u in enumerate(sample["url"])}
        bad, seen = 0, set()
        for u, line, d in rows:
            i = row_of.get(u)
            j = int(np.searchsorted(line_ids, int(line)))
            if (i is None or u in seen or not quarter[i] or j >= len(line_ids)
                    or line_ids[j] != int(line) or not reach[i, j]
                    or not np.isclose(d, dist[i, j], rtol=1e-12, atol=1e-12)
                    or (covers[i].any() and d > dist[i, covers[i]].min() * (1 + 1e-12) + 1e-12)):
                bad += 1
            seen.add(u)
        bad += sum(1 for i, u in enumerate(sample["url"])
                   if quarter[i] and covers[i].any() and u not in seen)
        return bad

    # ------------------------------------------------------------ reports
    def report(self, records) -> dict:
        s = per_op(records)
        out = {
            "pip_rows_per_s": (N_PAGES / median(s["pip"]), "rows/s", len(s["pip"])),
            "pip_exact_rows_per_s": (N_PAGES / median(s["pip_exact"]), "rows/s", len(s["pip_exact"])),
            "nearest_rows_per_s": (self.n_quarter / median(s["nearest"]), "rows/s", len(s["nearest"])),
        }
        out.update(self.pipeline.report(records))
        return out

    def layer_metrics(self, tracer, records) -> dict:
        out = layers.tile_filter(tracer, self.pts, self.polys, datagen.AOI, 15, 8)
        out.update(layers.kernel_rates(tracer, self.polys, self.lines, self.seed, RADIUS, datagen.AOI))
        # parquet read + geotag_points, the checkpoint operation's scan
        out.update(layers.scan_rate(tracer, self.pipeline.source, checkpoint.N_PAGES))
        out.update(self.pipeline.layer_metrics(records))
        return out

    def traced_report(self, records) -> dict:
        out = {f"plans.{k}_s": (median(v), "s", len(v)) for k, v in per_op(records).items()
               if k != "checkpoint"}
        out.update(self.pipeline.traced_report())
        return out

    def weak_scaling(self) -> dict:
        """T(local[1], N/4 pages) / T(local[cores], N pages) for pip, the
        second measured in a new SparkContext of the same JVM.  Leaves
        the session at local[1]; run last."""
        t_full = repeat_median(lambda: noop(self._join(False)), SCALING_RUNS)
        spark = restart_spark(self.spark, 1, self.work, "perfbench-scaling")
        self.spark = spark
        warm_up(spark)
        self.pts = self._pages(spark, N_PAGES // self.cores, 2).cache()
        self.pts.count()
        noop(self._join(False))
        t_one = repeat_median(lambda: noop(self._join(False)), SCALING_RUNS)
        return {"pip_weak_scaling_eff": (t_one / t_full, "ratio", SCALING_RUNS)}
