"""CPU per query, split into driver, JVM and Python workers.

    python3 tools/worker_cpu.py --workload join_steady [--ops pip,checkpoint] [--seed 1] [--runs 3]
    python3 tools/worker_cpu.py --workload query_suite --ops pip_join,bpe_tokens

Builds the benchmark's inputs (``perfbench``: the join_steady pages and
polygons, or the seeded query_suite tables, where any
``__spark_entry__`` query over events/documents/embeddings can be
named), runs each operation once to warm it up and then ``--runs``
times to the noop sink, and prints one JSON object with the median
wall time and CPU seconds of each role per operation, read from
``/proc``:

* ``driver_cpu_s``: this Python process (plan building, py4j, collects);
* ``jvm_cpu_s``: the Spark JVM and the helper processes it forks;
* ``python_cpu_s``: the PySpark daemon and its workers, live or exited.

Spark's SQL metrics only see Python UDF nodes, so Python jobs that no
SQL node owns (an RDD of pickled rows under a broadcast, say) show up
only here.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import harness  # noqa: E402


def _procs() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, command, own ticks, reaped children's ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        out[int(d)] = (int(fields[1]), head.split("(", 1)[1], int(fields[11]) + int(fields[12]),
                       int(fields[13]) + int(fields[14]))
    return out


def _descendants(procs, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_by_role() -> dict[str, float]:
    """Cumulative CPU seconds of the driver, the JVM and the Python
    workers.  The JVM counts the short-lived helpers it forks and reaps
    (Hadoop's local file system runs ``chmod`` in a shell without its
    native library); the Python workers are the daemon and its workers,
    exited ones counted in the daemon's reaped-children times."""
    procs = _procs()
    me = os.getpid()
    ticks = {"driver": procs[me][2], "jvm": 0, "python": 0}
    for jvm in (p for p in _descendants(procs, me) if procs[p][1] == "java"):
        ticks["jvm"] += procs[jvm][2] + procs[jvm][3]
        for pid in _descendants(procs, jvm):
            role = "python" if procs[pid][1].startswith("python") else "jvm"
            ticks[role] += procs[pid][2] + procs[pid][3]
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in ticks.items()}


def measure(op, runs: int) -> dict:
    tracer = harness.Tracer(False)
    op(tracer)  # warm: code generation, JIT, the first Python workers
    samples = []
    for _ in range(runs):
        before, t0 = cpu_by_role(), time.perf_counter()
        op(tracer)
        wall, after = time.perf_counter() - t0, cpu_by_role()
        samples.append({"wall_s": wall, **{f"{k}_cpu_s": after[k] - before[k] for k in before}})
    return {k: round(statistics.median(s[k] for s in samples), 3) for k in samples[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("join_steady", "query_suite"), default="join_steady")
    ap.add_argument("--ops", default="", help="comma-separated; default: every operation of the workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args(argv)

    cores = os.cpu_count() or 1
    work = os.path.join(harness.OUT_DIR, f"worker-cpu-{os.getpid()}")
    harness.prepare_env(work)
    spark = harness.start_spark(cores, work, "worker-cpu")
    try:
        harness.warm_up(spark)
        if args.workload == "join_steady":
            from join_steady import JoinSteady as Workload
        else:
            from query_suite import QuerySuite as Workload
        wl = Workload(spark, args.seed, work, cores)
        wl.setup()
        names = [n for n in args.ops.split(",") if n] or list(wl.ops)
        result = {"workload": args.workload, "seed": args.seed, "runs": args.runs,
                  "cores": cores, "python": sys.version.split()[0], "ops": {}}
        for name in names:
            op = wl.ops.get(name) or (wl._op(name) if hasattr(wl, "_op") else None)
            if op is None:
                raise SystemExit(f"unknown operation {name!r} for {args.workload}")
            result["ops"][name] = measure(op, args.runs)
    finally:
        harness.stop_spark(spark)
        harness.remove_tree(work)
    print(json.dumps(result, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
