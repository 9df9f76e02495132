"""Shared plumbing for the perfbench workloads: paths and environment,
the Spark session, the box stamp, memory, percentiles, per-job-group
Spark statistics and the span tracer.

Everything here is import-safe: no session, thread, file or socket is
opened until a function is called.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import resource
import shutil
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, "out")

# Driver heap for local[N]: every task thread shares it.  1g holds every
# workload's inputs several times over, and the heap is touched at
# start-up (start_spark), which costs about 1.5 s per GB on a 4-core
# box: a larger heap would lengthen every run's set-up for nothing.
DEFAULT_DRIVER_MEM = "1g"

# Percentiles the tail is chosen from: the highest one with at least
# TAIL_MIN_BEYOND samples above it.  The rungs are far apart so that a
# run's sample count, which moves a little with speed, stays between
# the same two rungs from run to run.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 60.0, 50.0)
TAIL_MIN_BEYOND = 10


class SetupError(RuntimeError):
    """The checkout does not hold the program the benchmark drives."""


def prepare(workload: str, seed: int) -> str:
    """Check the program is present, point every writer (Spark local
    dirs, Python tempfiles, Python workers' import path) inside the
    checkout, and return a fresh work directory for this run."""
    if not os.path.isfile(os.path.join(ROOT, "stdb_spark", "engine.py")):
        raise SetupError(f"no stdb_spark package under {ROOT}")
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too, skips the perf-data file
    # it would otherwise write under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if o
    )
    os.environ.setdefault("STDB_SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def start_spark(work: str):
    from stdb_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # A heap committed and touched at start-up makes the JVM's resident
    # set independent of when the collector chose to grow the heap, so
    # peak_rss_mb moves with off-heap and Python memory, not GC timing.
    heap = os.environ["STDB_SPARK_DRIVER_MEM"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits
    when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def python_loop_ns() -> float:
    """Fixed pure-Python loop, ns per iteration (median of 5): the box
    stamp that makes numbers from different machines comparable."""
    runs = []
    for _ in range(5):
        t0 = time.perf_counter_ns()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        runs.append((time.perf_counter_ns() - t0) / 200_000)
    return round(sorted(runs)[2], 2)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of every CPU since boot, from
    /proc/stat; (0, 0) where it cannot be read."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = ticks[7] if len(ticks) > 7 else 0
    # guest time is already counted in user and nice
    return steal, sum(ticks[:8])


def box_stamp(ticks_at_start: tuple[int, int]) -> dict:
    """The machine a result was taken on.  ``cpu_steal_share`` is the
    share of CPU time the hypervisor took away while the run lasted: on
    a shared VM, slow runs come with a high share."""
    steal, total = (b - a for a, b in zip(ticks_at_start, cpu_ticks()))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["STDB_SPARK_DRIVER_MEM"],
        "python_loop_ns_per_iter": python_loop_ns(),
        "cpu_steal_share": round(steal / total, 4) if total > 0 else 0.0,
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_kb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest ladder percentile with at least
    TAIL_MIN_BEYOND samples beyond it (the median when there are too
    few samples for any higher one)."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


# ---------------------------------------------------------------- spark
_STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "scan_rows": "inputRecords",
    "scan_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


class SparkStats:
    """Per-job-group totals from the driver's status store (it is kept
    with the UI disabled).  The store is filled asynchronously by the
    listener bus, so :meth:`read` first waits for the bus to drain;
    callers read once, after the timed work, never inside it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.jvm.java.util.ArrayList()

    def read(self, groups: list[str]) -> dict[str, dict]:
        """{group: {jobs, stages, tasks, executor_run_ms, ..., python_ms}}"""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        python_by_job = self._python_ms_by_job()
        return {g: self._group(g, python_by_job) for g in groups}

    def _group(self, group: str, python_by_job: dict[int, tuple[int, float]]) -> dict:
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in _STAGE_FIELDS}}
        execs = {}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            if jid in python_by_job:
                execs[python_by_job[jid][0]] = python_by_job[jid][1]
            sids = self.store.job(jid).stageIds()
            for i in range(sids.size()):
                datas = self.store.stageData(sids.apply(i), False, self._empty, False, None)
                for k in range(datas.size()):
                    sd = datas.apply(k)
                    out["stages"] += 1
                    for key, getter in _STAGE_FIELDS.items():
                        out[key] += int(getattr(sd, getter)())
        out["python_ms"] = sum(execs.values())
        return out

    def _python_ms_by_job(self) -> dict[int, tuple[int, float]]:
        """job id -> (SQL execution id, that execution's total of the
        Python-eval nodes' "time to run Python workers" metric)."""
        out = {}
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            metrics = ex.metrics()
            ids = [metrics.apply(m).accumulatorId() for m in range(metrics.size())
                   if metrics.apply(m).name() == "time to run Python workers"]
            if not ids:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            total = 0.0
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += _metric_ms(v.get())
            jobs = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(ex.jobs())
            for jid in jobs.keySet():
                out[int(jid)] = (ex.executionId(), total)
        return out


def _metric_ms(text: str) -> float:
    """Parse a rendered SQL timing metric ('total (min, med, max)\\n
    1.2 s (...)' or '350 ms') into milliseconds (the total)."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    tok = line.split("(")[0].strip().split()
    if len(tok) < 2:
        return 0.0
    try:
        val = float(tok[0].replace(",", ""))
    except ValueError:
        return 0.0
    scale = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}.get(tok[1], 0.0)
    return val * scale


# ---------------------------------------------------------------- trace
class Tracer:
    """In-memory spans around calls into the program's layers.

    A span records name, start, end, the span that caused it (parent)
    and the operation id it belongs to.  Spans nest per thread.  When
    disabled :meth:`wrap` installs nothing, so the untraced run executes
    the program's own functions; when enabled, spans are recorded only
    while ``active`` is set."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        if not self.active:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]  # nested spans share the operation id
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent,
            "op": op,
            "thread": threading.get_ident(),
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover
        (children run inside the parent on the same thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"]:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": (s["end"] or s["start"]) - t0}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, "self_s": self.self_times()}, fh)


def span_cost_s() -> float:
    """Seconds one recorded span costs (median of 5 batches)."""
    t = Tracer(True)
    t.active = True
    runs = []
    for _ in range(5):
        t.spans.clear()
        t0 = time.perf_counter()
        for _ in range(2000):
            with t.span("x"):
                pass
        runs.append((time.perf_counter() - t0) / 2000)
    return sorted(runs)[2]


def install_layer_spans(tracer: Tracer) -> None:
    """Spans around the public entry points of each program layer.
    Engine's own references to the parser and the apply pipeline are
    module globals, so wrapping them there nests those spans under
    ``engine``."""
    if not tracer.enabled:
        return
    from stdb_spark import engine, model
    from stdb_spark.sources import resp, storage, tcp

    for attr in ("query", "search", "suggest"):
        tracer.wrap(engine.Engine, attr, "engine")
    tracer.wrap(engine, "parse_query", "parser")
    tracer.wrap(engine, "apply_pipeline", "operators")
    for attr in ("load_table", "load_tables", "session_binding", "series_registry",
                 "events_as_samples", "events_as_event_stream"):
        tracer.wrap(model, attr, "model")
    tracer.wrap(resp.RESPStream, "feed", "resp.feed")
    tracer.wrap(tcp.TcpIngestServer, "flush", "tcp.flush")
    tracer.wrap(tcp, "raw_samples_to_narrow", "tcp.to_narrow")
    tracer.wrap(tcp, "raw_events_to_narrow", "tcp.to_narrow")
    tracer.wrap(storage, "write_samples", "storage.write")
    tracer.wrap(storage, "write_summary", "storage.summary_write")
    tracer.wrap(storage, "update_summary_incremental", "storage.summary_update")
    tracer.wrap(storage, "compact_partitions", "storage.compact")


def dir_stats(path: str) -> tuple[int, int, int]:
    """(data files, bytes, leaf partition dirs) of a parquet layout."""
    files = size = 0
    parts = set()
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
                parts.add(dirpath)
    return files, size, len(parts)


def emit(result: dict, report: dict, workload: str, seed: int, trace: bool) -> None:
    """Write the full report under out/, print it, then print the
    one-line result as the last line of stdout."""
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{workload}-seed{seed}-trace{int(trace)}.json"
    with open(os.path.join(OUT_DIR, name), "w") as fh:
        json.dump({"result": result, "report": report}, fh, indent=1, sort_keys=True)
    print(json.dumps({"report": report}, sort_keys=True), flush=True)
    print(json.dumps(result), flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
