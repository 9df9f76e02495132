"""One profiler for what a query did, and the warm-and-time discipline
every timing tool shares.

``Profiler.run(build)`` covers one window: ``build()`` (a registry
callable bound to its scale; it returns a DataFrame, or does its own work
and returns None) and the noop-sink write of the DataFrame it returns.
The record holds:

- ``build_ms``: wall time of ``build()``, with every job it launched;
- ``plan_ms``: driver time from the write's start to the submission of
  its first job (the status store's job ``submissionTime``), so nothing
  is planned a second time; the whole write when it launched no job;
- ``execute_ms``: the rest of the write; ``wall_ms`` = build + write;
- the window's jobs (``build_jobs`` of them launched by ``build()``;
  ``job_ids`` is their id range, first included, last excluded),
  stages and tasks, executor run and CPU time, scan rows and bytes,
  shuffle read and write bytes, spill bytes, the Python-eval nodes'
  "time to run Python workers" (``python_ms``) and the Java classes
  compiled (the ``CodegenMetrics`` compilation count).

Jobs are attributed by job id, not job group: every job the scheduler
numbers between the window's start and end is the window's, including
the micro-batches a stream entry runs on its stream thread (that thread
sets its own job group, the query's run id).  So windows must not
overlap, and no other thread may launch jobs while one is open.  Every
counter is read after the wall is recorded, once the listener bus has
drained; the status stores are kept with the UI disabled.

``profile_entries`` is the discipline for registry entries, one entry
at a time: an untimed noop write at each warm scale (sf0.001 first,
which compiles each plan shape cheaply, then the target, which builds
the write-time artifacts a deployed engine serves from), then N timed
windows and their median.
"""

from __future__ import annotations

import os
import time

# status-store StageData getter per record field
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


class Profiler:
    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._ctx = spark.sparkContext._jsc.sc()
        self._store = self._ctx.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._dag = self._ctx.dagScheduler()
        self._compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._empty = jvm.java.util.ArrayList()

    def _next_job(self) -> int:
        # py4j hands the scheduler's AtomicInteger over as its value
        return self._dag.nextJobId()

    def run(self, build) -> dict:
        """Profile ``build()`` and the noop write of what it returns."""
        classes = self._compiled.getCount()
        first = self._next_job()
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        built = self._next_job()
        start_ms = time.time() * 1e3
        t2 = time.perf_counter()
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        end = self._next_job()
        write_ms = (t3 - t2) * 1e3
        rec = self._read(range(first, end))
        rec["classes"] = self._compiled.getCount() - classes
        rec["job_ids"] = [first, end]
        rec["build_jobs"] = built - first
        plan_ms = write_ms
        if end > built:
            sub = self._store.job(built).submissionTime()
            if sub.isDefined():
                plan_ms = min(max(sub.get().getTime() - start_ms, 0.0), write_ms)
        rec["build_ms"] = round((t1 - t0) * 1e3, 1)
        rec["plan_ms"] = round(plan_ms, 1)
        rec["execute_ms"] = round(write_ms - plan_ms, 1)
        rec["wall_ms"] = round((t1 - t0) * 1e3 + write_ms, 1)
        return rec

    def descriptions(self, rec: dict) -> list[str]:
        """The descriptions of the jobs of ``rec``'s window, where set (a
        stream batch's names its query and batch id)."""
        descs = (self._store.job(jid).description() for jid in range(*rec["job_ids"]))
        return [d.get() for d in descs if d.isDefined()]

    def _read(self, job_ids) -> dict:
        """The counters of ``job_ids``, summed over every stage attempt."""
        self._ctx.listenerBus().waitUntilEmpty(30_000)
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in _STAGE_FIELDS}}
        executions = set()
        for jid in job_ids:
            pair = self._store.jobWithAssociatedSql(jid)
            job, sql_id = pair._1(), pair._2()
            out["jobs"] += 1
            if sql_id.isDefined():
                executions.add(int(sql_id.get()))
            sids = job.stageIds()
            for i in range(sids.size()):
                datas = self._store.stageData(sids.apply(i), False, self._empty, False, None)
                for k in range(datas.size()):
                    sd = datas.apply(k)
                    out["stages"] += 1
                    for key, getter in _STAGE_FIELDS.items():
                        out[key] += int(getattr(sd, getter)())
        out["python_ms"] = round(sum(self._python_ms(e) for e in executions), 1)
        return out

    def _python_ms(self, execution_id: int) -> float:
        """The SQL execution's total of its Python-eval nodes' "time to
        run Python workers" metric."""
        ex = self._sql_store.execution(execution_id)
        if not ex.isDefined():
            return 0.0
        metrics = ex.get().metrics()
        ids = [metrics.apply(m).accumulatorId() for m in range(metrics.size())
               if metrics.apply(m).name() == "time to run Python workers"]
        if not ids:
            return 0.0
        values = self._sql_store.executionMetrics(execution_id)
        total = 0.0
        for acc in ids:
            v = values.get(acc)
            if v.isDefined():
                total += _metric_ms(v.get())
        return total


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


def warm_dirs(sf_dir: str) -> list[str]:
    """The sf0.001 scale beside ``sf_dir`` (where present and not
    ``sf_dir`` itself), then ``sf_dir``."""
    small = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.001")
    return [small, sf_dir] if os.path.isdir(small) and small != os.path.abspath(sf_dir) else [sf_dir]


def profile_entries(spark, names, sf_dir: str, runs: int = 1, warm_at=None):
    """Profile each entry of ``names`` in turn: warm it at each of
    ``warm_at`` (default ``warm_dirs(sf_dir)``; a warm failure is left for
    the timed run to report), then time it ``runs`` times at ``sf_dir``.
    An entry's timed runs follow its own warm-up directly: Spark's
    generated-code cache holds 100 classes
    (``spark.sql.codegen.cache.maxEntries``), so with every warm run
    first the other entries' warm-ups evicted an entry's classes before
    it was timed (bench.py's 248 entries at sf0.01 on a 4-core VM
    compiled 3,626 classes in their timed runs that way, and 84 warmed
    entry by entry).  Yields
    ``(name, result)`` per entry as it finishes: ``result["records"]``
    holds one :meth:`Profiler.run` record per run and
    ``result["median_s"]`` the median wall; an entry whose run raised has
    ``result["error"]`` instead and no further runs."""
    from stdb_spark.workloads import QUERIES

    prof = Profiler(spark)
    for name in names:
        fn = QUERIES[name]
        for d in warm_dirs(sf_dir) if warm_at is None else warm_at:
            try:
                fn(spark, d).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - reported by the timed run
                pass
        records = []
        try:
            for _ in range(runs):
                records.append(prof.run(lambda: fn(spark, sf_dir)))
        except Exception as exc:  # noqa: BLE001 - one broken entry must not end the run
            yield name, {"records": records, "error": f"{type(exc).__name__}: {exc}"}
            continue
        walls = sorted(r["wall_ms"] for r in records)
        yield name, {"records": records, "median_s": round(walls[len(walls) // 2] / 1e3, 3)}
