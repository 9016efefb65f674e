"""Benchmark of the cuspatial_spark engine.

    python3 perfbench/run.py --workload join_steady --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Each run is one ``local[nproc]``
Spark application and one client in a closed loop: the next operation
starts only after the previous one finished.  Workloads:

* ``join_steady``: tile-filtered joins over cached pages (``plans``,
  ``kernels``) and the flagship parquet scan -> geotag -> join ->
  checkpointed bucketed write (``sources``, ``ops``);
* ``query_suite``: headline queries of ``__spark_entry__`` over seeded
  tables (``operators``, ``textops``, ``similarity``, ``plans``).

A run: start the session and warm it up; generate the seeded inputs;
attempt the workload's known-defect probes; set the inputs up in the
engine several times (the median is ``setup_s``); execute every
operation once and check its output against an independent oracle
(``first_pass_s``, outside the loop); then run the closed loop for
``--seconds``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` first runs
the loop untraced, then again with spans around the calls into each
module and Spark's own counters per operation, then the per-layer
probes; it prints the per-layer metrics, including the tracing
overhead against its own untraced loop, and writes the spans to
``.perfbench/``.

Every metric is printed as a line ``<workload> <name> <value> <unit>
(n=<samples>)``; the last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SETUP_PASSES = 3


def _spec() -> tuple[dict, dict]:
    """Metric names -> units of BENCHMARK.json's end_to_end and per_layer."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def workloads():
    from join_steady import JoinSteady
    from query_suite import QuerySuite

    return {w.name: w for w in (JoinSteady, QuerySuite)}


WORKLOAD_NAMES = ["join_steady", "query_suite"]


def line(workload: str, name: str, value, unit: str, n=None) -> None:
    tail = f" (n={n})" if n is not None else ""
    print(f"{workload} {name} {value:.6g} {unit}{tail}", flush=True)


def crossing_and_spark(records, cores: int) -> dict:
    """Per round (sum over operation types of each type's median)."""
    rt = harness.round_total
    python_ms = rt(records, "python_ms")
    action = rt(records, "s")
    return {
        "plans.plan_jobs": rt(records, "plan_jobs"),
        "crossing.python_rows": rt(records, "python_rows"),
        "crossing.python_bytes": rt(records, "python_bytes_sent") + rt(records, "python_bytes_received"),
        "crossing.python_core_share": python_ms / 1000.0 / max(action * cores, 1e-9),
        "spark.jobs": rt(records, "jobs"),
        "spark.tasks": rt(records, "tasks"),
        "spark.shuffle_bytes": rt(records, "shuffle_bytes"),
    }


def run(args, per_layer: dict) -> dict:
    if not (os.path.isdir(os.path.join(harness.ROOT, "cuspatial_spark"))
            and os.path.isfile(os.path.join(harness.ROOT, "__spark_entry__.py"))):
        raise SystemExit(f"cuspatial_spark sources not found under {harness.ROOT}")

    cores = os.cpu_count() or 1
    work = os.path.join(harness.OUT_DIR, f"work-{os.getpid()}")
    harness.prepare_env(work)
    wl_name = args.workload
    t0 = time.perf_counter()
    spark = harness.start_spark(cores, work, f"perfbench-{wl_name}")
    wl = None
    try:
        harness.warm_up(spark)
        session_s = time.perf_counter() - t0
        meter = harness.HeapMeter(spark)
        wl = workloads()[wl_name](spark, args.seed, work, cores)
        defects = wl.known_defects()
        setup_times = []
        for _ in range(SETUP_PASSES):
            setup_times.append(harness.timed(wl.setup)[0])
            meter.sample()
        setup_s = harness.median(setup_times)
        # the first execution of every operation (code generation, JIT,
        # Python workers) is the checked one, outside the loop
        first_pass_s, check = harness.timed(wl.check)
        meter.sample()
        tracer = harness.Tracer(False)
        records = harness.closed_loop(wl.ops, args.seconds, wl.order, tracer, meter)
        result = {
            "session_s": session_s, "setup_s": setup_s, "first_pass_s": first_pass_s,
            "check": check, "defects": defects, "records": records, "report": wl.report(records),
        }
        if args.trace:
            probe = harness.SparkProbe(wl.spark)
            tracer = harness.Tracer(True, probe)
            traced = harness.closed_loop(wl.ops, args.seconds, wl.order, tracer)
            probe.close()
            layer = dict.fromkeys(per_layer, 0.0)
            layer.update(crossing_and_spark(traced, cores))
            layer["plans.plan_build_s"] = harness.median(tracer.durations("build"))
            layer["trace.overhead_share"] = (
                harness.round_total(traced) / harness.round_total(records) - 1.0)
            layer.update(wl.layer_metrics(tracer, traced))
            report = wl.traced_report(traced)
            report["crossing.python_s"] = (
                harness.round_total(traced, "python_ms") / 1000.0, "s", len(traced))
            result.update(traced=traced, layer=layer, spans=tracer.spans,
                          self_s=tracer.self_times(), traced_report=report)
            if hasattr(wl, "weak_scaling"):
                result["scaling"] = wl.weak_scaling()
        else:
            result["peak_rss_mb"], result["jvm_live_heap_mb"] = harness.peak_rss_mb(meter)
        return result
    finally:
        harness.stop_spark(wl.spark if wl is not None else spark)
        harness.remove_tree(work)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    end_to_end, per_layer = _spec()
    res = run(args, per_layer)
    w = args.workload
    check, records = res["check"], res["records"]
    loop_failed = sum(1 for r in records if "error" in r)
    defects_failed = sum(1 for d in res["defects"] if not d["ok"])
    attempted = len(records) + len(res["defects"])

    line(w, "session_s", res["session_s"], "s", 1)
    line(w, "setup_s", res["setup_s"], "s", SETUP_PASSES)
    line(w, "first_pass_s", res["first_pass_s"], "s", 1)
    line(w, "round_s", harness.round_total(records), "s", len(records))
    line(w, "round_cpu_s", harness.round_total(records, "cpu_s"), "s", len(records))
    for name, (value, unit, n) in sorted(res["report"].items()):
        line(w, name, value, unit, n)
    for d in res["defects"]:
        status = "ok" if d["ok"] else f"FAILED: {d['error']}"
        print(f"{w} known-defect probe {d['op']}: {status}", flush=True)
    line(w, "ops_failed_share", (loop_failed + defects_failed) / max(attempted, 1), "ratio", attempted)
    line(w, "oracle_mismatches", check["mismatches"], "count", check["checked"])

    if args.trace:
        for name, unit in per_layer.items():
            line(w, name, res["layer"][name], unit)
        for name, (value, unit, n) in sorted(res["traced_report"].items()):
            line(w, name, value, unit, n)
        for name, (value, unit, n) in res.get("scaling", {}).items():
            line(w, name, value, unit, n)
        for layer_name, s in sorted(res["self_s"].items()):
            line(w, f"self.{layer_name}_s", s, "s")
        metrics = {k: {"value": res["layer"][k], "unit": u} for k, u in per_layer.items()}
    else:
        line(w, "peak_rss_mb", res["peak_rss_mb"], "MB")
        line(w, "jvm_live_heap_mb", res["jvm_live_heap_mb"], "MB")
        metrics = {
            "round_cpu_s": harness.round_total(records, "cpu_s"),
            "setup_s": res["setup_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in end_to_end.items()}

    harness.write_json(
        os.path.join(harness.OUT_DIR, f"{w}-seed{args.seed}-trace{args.trace}.json"),
        res,
    )
    ok_records = [r for r in records if "error" not in r]
    print(json.dumps({
        "correct": check["mismatches"] == 0 and loop_failed == 0,
        "attempted": len(records),
        "failed": loop_failed,
        "metrics": metrics,
    }))
    return 0 if ok_records else 1


if __name__ == "__main__":
    sys.exit(main())
