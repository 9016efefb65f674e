"""Shared machinery of the benchmark: the Spark session, the closed
loop, the tracer and the per-action Spark metrics.

Nothing here imports pyspark at module level: ``prepare_env`` must run
first so that the JVM, the Python workers and every temp file live
under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import contextlib
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
# A fixed, pre-touched Spark driver heap: how far G1 grows a heap it may
# resize varies by hundreds of MB between identical runs, which would
# swamp peak_rss_mb.  peak_rss_mb counts the heap at its measured peak
# live data instead of its resident size (see HeapMeter).
DRIVER_MEMORY = "1536m"


def prepare_env(work: str) -> None:
    """Points Python, the JVM and the Python workers at the checkout and
    keeps their scratch files under ``work``.  Must run before pyspark
    is imported."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the Python workers import cuspatial_spark from any cwd
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cores: int, work: str, app: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_spark(spark, cores: int, work: str, app: str):
    """A new SparkContext at another parallelism in the same JVM."""
    spark.stop()
    return start_spark(cores, work, app)


def stop_spark(spark) -> None:
    """Stops the session, then ends the JVM and waits for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes; py4j's own
        # shutdown can block on the callback server's sockets, and its
        # threads are daemons that end with the JVM's connections
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_up(spark) -> None:
    """The session's first job and first Python-worker crossing."""
    spark.range(1000).mapInPandas(lambda it: it, schema="id: long").count()


def error_summary(e: Exception) -> str:
    """The Spark error condition and message of an exception, one line."""
    import re

    text = str(e)
    java = getattr(e, "java_exception", None)
    if java is not None:
        text += " " + str(java.toString())
    m = re.search(r"\[[A-Z][A-Z0-9_.]+\][^\n]*", text)
    return (m.group(0) if m else text.strip().splitlines()[0])[:300]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def repeat_median(fn, n: int) -> float:
    return median([timed(fn)[0] for _ in range(n)])


# ---------------------------------------------------------------- memory

def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class HeapMeter:
    """Live data on the driver JVM's heap: the heap in use just after a
    garbage collection, which counts what the engine keeps (cached
    tables, broadcast state, leaks) and not the garbage a collector lets
    pile up before it runs.  ``sample`` reads the most recent collection
    of each collector; ``peak_mb`` adds a full collection and returns
    the maximum over all samples."""

    def __init__(self, spark):
        self.mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [str(p.getName()) for p in self.mf.getMemoryPoolMXBeans()
                      if str(p.getType().toString()) == "Heap memory"]
        self.gcs = list(self.mf.getGarbageCollectorMXBeans())
        self.samples: list[int] = []

    def sample(self) -> None:
        for gc in self.gcs:
            info = gc.getLastGcInfo()
            if info is None:
                continue
            after = info.getMemoryUsageAfterGc()
            self.samples.append(sum(after.get(p).getUsed() for p in self.pools if after.containsKey(p)))

    def committed_mb(self) -> float:
        return self.mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20

    def peak_mb(self) -> float:
        self.mf.getMemoryMXBean().gc()
        self.sample()
        return max(self.samples) / 2**20


def peak_rss_mb(meter: HeapMeter) -> tuple[float, float]:
    """(peak memory, peak live heap) in MB.  The first is the sum of the
    peak resident set (VmHWM) of this process and every process it
    started (the JVM and the Python daemon and workers), with the JVM's
    pre-touched heap, resident in full, replaced by its peak live data."""
    live = meter.peak_mb()
    return _vm_hwm_mb() - meter.committed_mb() + live, live


def cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    process it started, the JVM and the Python daemon and workers,
    counting exited workers through their parent's children times."""
    ticks = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb() -> float:
    total_kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans (name, layer, start, end, parent, op).  When
    disabled every call is a no-op, so the untraced run pays nothing
    but one function call per span."""

    def __init__(self, enabled: bool, probe: "SparkProbe | None" = None):
        self.enabled = enabled
        self.probe = probe
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = None
        self.t0 = time.perf_counter()

    def build(self, layer: str, fn):
        """Runs a plan constructor (Spark-driver work before any action) in a
        ``build`` span of ``layer``; its Spark jobs count as plan jobs."""
        with self.span("build", layer):
            if self.probe:
                self.probe.begin("build")
            out = fn()
        if self.probe:
            self.probe.begin("action")
        return out

    def action(self, layer: str, fn):
        """Runs the part of an operation that executes Spark jobs."""
        with self.span("action", layer):
            return fn()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "layer": layer,
            "start": time.perf_counter() - self.t0, "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self.op_id,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter() - self.t0

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus what child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]


class SparkProbe:
    """Per-operation Spark counters for the traced run, read without
    launching extra jobs: job and task counts from the status tracker
    (job groups), Python-crossing and shuffle SQL metrics from the
    executed plan of every query, delivered by a QueryExecutionListener
    through the py4j callback server."""

    class _Listener:
        def __init__(self, walk):
            self.q: queue.Queue = queue.Queue()
            self.walk = walk

        def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
            try:
                self.q.put(self.walk(qe.executedPlan()))
            except Exception as e:  # a listener must never throw into the JVM
                self.q.put({"error": repr(e)})

        def onFailure(self, func_name, qe, exception):  # noqa: N802
            self.q.put({"error": str(exception)})

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    SUMS = {
        "pythonNumRowsReceived": "python_rows",
        "pythonDataSent": "python_bytes_sent",
        "pythonDataReceived": "python_bytes_received",
        "pythonTotalTime": "python_ms",
        "shuffleBytesWritten": "shuffle_bytes",
    }

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.listener = self._Listener(self._walk)
        spark._jsparkSession.listenerManager().register(self.listener)
        self._group = 0
        self._pending: list[tuple[str, str]] = []

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def _walk(self, plan) -> dict:
        out = {v: 0 for v in self.SUMS.values()}
        scans: dict[str, int] = {}
        todo = [plan]
        while todo:
            node = todo.pop()
            name = node.nodeName()
            if node.getClass().getSimpleName() == "FileSourceScanExec":
                # count a file scan under each of its root paths
                for path in self._conv.asJava(node.relation().location().rootPaths()):
                    key = str(path.toUri().getPath()).rstrip("/")
                    scans[key] = scans.get(key, 0) + 1
            # only Python-crossing and exchange nodes carry these metrics;
            # skipping the rest saves most of the py4j round trips
            if any(k in name for k in ("Python", "Pandas", "Arrow", "Exchange")):
                metrics = self._conv.asJava(node.metrics())
                for key in metrics.keySet():
                    if key in self.SUMS:
                        out[self.SUMS[key]] += int(metrics.get(key).value())
            if name.startswith("AdaptiveSparkPlan"):
                todo.append(node.executedPlan())
            elif "QueryStage" in name:
                todo.append(node.plan())
            elif not name.startswith("ReusedExchange"):
                todo.extend(self._conv.asJava(node.children()))
        out["file_scans"] = scans
        return out

    def begin(self, kind: str) -> None:
        """Jobs from now on belong to a new group of ``kind`` ('build'
        or 'action')."""
        self._group += 1
        gid = f"{kind}-{self._group}"
        self._pending.append((kind, gid))
        self.sc.setJobGroup(gid, kind)

    def collect(self) -> dict:
        """Plan jobs, jobs, tasks, summed SQL metrics and file scans per
        root path of the groups begun since the last call (waits for the
        listener bus to deliver them)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        tracker = self.sc.statusTracker()
        out = {"plan_jobs": 0, "jobs": 0, "tasks": 0}
        out.update({v: 0 for v in self.SUMS.values()})
        out["file_scans"] = {}
        for kind, gid in self._pending:
            jobs = tracker.getJobIdsForGroup(gid)
            if kind == "build":
                out["plan_jobs"] += len(jobs)
                continue
            out["jobs"] += len(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    st = tracker.getStageInfo(s)
                    out["tasks"] += st.numTasks if st else 0
        self._pending = []
        while True:
            try:
                got = self.listener.q.get_nowait()
            except queue.Empty:
                break
            for path, n in got.pop("file_scans", {}).items():
                out["file_scans"][path] = out["file_scans"].get(path, 0) + n
            for k, v in got.items():
                if k in out:
                    out[k] += v
        self.sc._jsc.clearJobGroup()
        return out


# ---------------------------------------------------------------- loop

def closed_loop(ops, seconds: float, order, tracer: Tracer, meter: HeapMeter | None = None):
    """One client: each operation starts when the previous one ended.
    ``ops`` maps name -> fn(tracer); ``order(cycle)`` gives the names of
    one cycle.  The first cycle always completes; after it, operations
    start until ``seconds`` have passed.  ``meter`` samples the heap
    after each operation, outside its timing.  Returns per-op records
    with the wall time ``s`` and CPU time ``cpu_s`` of each."""
    probe = tracer.probe
    records: list[dict] = []
    t_end = time.perf_counter() + seconds
    cycle = 0
    while True:
        for name in order(cycle):
            if cycle > 0 and time.perf_counter() >= t_end:
                return records
            tracer.op_id = len(records)
            if probe:
                probe.begin("action")
            t0, c0 = time.perf_counter(), cpu_s()
            try:
                with tracer.span(name, "op"):
                    ops[name](tracer)
            except Exception as e:  # counted as failed, never retried another way
                records.append({"op": name, "error": error_summary(e)})
                continue
            rec = {"op": name, "s": time.perf_counter() - t0, "cpu_s": cpu_s() - c0}
            if probe:
                with tracer.span("collect-metrics", "trace"):
                    rec.update(probe.collect())
            records.append(rec)
            if meter:
                meter.sample()
        cycle += 1


def per_op(records, key: str = "s") -> dict[str, list[float]]:
    """Samples of ``key`` per operation type (failed operations have none)."""
    out: dict[str, list[float]] = {}
    for r in records:
        if key in r:
            out.setdefault(r["op"], []).append(r[key])
    return out


def round_total(records, key: str = "s") -> float:
    """Sum over operation types of each type's median."""
    return sum(median(v) for v in per_op(records, key).values())


# ---------------------------------------------------------------- output

def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
