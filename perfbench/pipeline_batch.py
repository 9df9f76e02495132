"""pipeline_batch: noop-sink passes over a fixed list of registry
entries from the LLM-pipeline and streaming families, on seeded
synthetic tables (tables.py).

Set-up generates the tables and runs one pass that collects every
entry's rows: it compiles the plans, builds the write-time caches the
entries keep under ``.cache/`` and provides the answers the check
compares with each entry's DuckDB oracle (the same value-hash
comparison the registry's correctness gate makes; the oracles run on a
side thread during set-up).  The timed passes then run the entries, in
a seeded order, for a number of passes fixed by ``--seconds`` (one per
SECONDS_PER_PASS, at least MIN_PASSES), so the sample count does not
depend on how fast the program is.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import harness
import tables

# entry -> module family: the cheapest entry of each family, so that a
# warm pass takes about 5 s and a cold one about 20 s on 4 cores at
# this table size.
ENTRIES = {
    "rel_supplier_pagerank": "graph",
    "doc_exact_dedup": "dedup",
    "emb_ann_ivf": "similarity",
    "doc_tfidf_top_terms": "text",
    "stream_windowed_topk": "streaming",
}
FAMILIES = ("graph", "dedup", "similarity", "text", "streaming")
MIN_PASSES = 1
SECONDS_PER_PASS = 5.0  # about one warm pass on 4 cores
COLLECT_THREADS = 2  # set-up only: the timed passes run one entry at a time


def _canon_hash(df) -> str:
    """Order-insensitive value hash of a pandas frame: columns sorted by
    name, rows sorted, floats rounded to 6 digits, NULLs unified."""
    import numpy as np
    import pandas as pd

    df = df[sorted(df.columns)].copy()

    def norm(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, (list, tuple, np.ndarray)):
            return repr([norm(x) for x in list(v)])
        if not isinstance(v, (str, bytes)) and pd.api.types.is_scalar(v) and pd.isna(v):
            return "NULL"
        return repr(round(v, 6)) if isinstance(v, float) else repr(v)

    for c in df.columns:
        df[c] = df[c].map(norm)
    rows = sorted(",".join(r) for r in df.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_answers(sf_dir: str) -> dict:
    """Every entry's rows from its DuckDB oracle over the tables."""
    import duckdb

    from stdb_spark.workloads import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.basename(t)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        return {name: con.sql(ORACLES[name]).df() for name in ENTRIES}
    finally:
        con.close()


def check(answers: dict, wanted: dict, corrupt: bool) -> dict[str, bool]:
    ok = {}
    for i, (name, got) in enumerate(answers.items()):
        if got is None:
            ok[name] = False
            continue
        want = wanted[name]
        if corrupt and i == 0:
            want = want.iloc[1:] if len(want) else want.assign(**{want.columns[0]: []})
        ok[name] = (len(got) == len(want) and sorted(got.columns) == sorted(want.columns)
                    and _canon_hash(got) == _canon_hash(want))
        if not ok[name]:
            print(f"wrong answer for {name}: {len(got)} rows vs {len(want)} expected", flush=True)
    return ok


class _StreamProgress:
    """Micro-batch progress of every streaming query a traced entry
    runs.  The stream entries start their queries on a child session,
    whose listener bus a StreamingQueryListener on this session never
    hears, so the progress is read from each query when
    ``awaitTermination`` returns instead."""

    def __init__(self, tracer):
        from pyspark.sql.streaming.query import StreamingQuery

        self.rows: list[tuple[float, int]] = []
        self._cls, self._orig = StreamingQuery, StreamingQuery.awaitTermination
        orig, rows = self._orig, self.rows

        def await_and_record(query, *a, **kw):
            done = orig(query, *a, **kw)
            if tracer.active:
                for p in query.recentProgress:
                    rows.append((p.durationMs.get("triggerExecution", 0),
                                 sum(s.numRowsTotal for s in p.stateOperators)))
            return done

        StreamingQuery.awaitTermination = await_and_record

    def close(self) -> None:
        self._cls.awaitTermination = self._orig


def _run_entry(ctx, fn, name: str, sf_dir: str, group: str | None) -> float:
    sc = ctx.spark.sparkContext
    if group:
        sc.setJobGroup(group, name, False)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(ENTRIES[name], group):
            fn(ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        if group:
            sc.setJobGroup(None, None)
    return time.perf_counter() - t0


def run(ctx) -> dict:
    from stdb_spark.workloads import QUERIES

    sf_dir = os.path.join(ctx.work, f"pb{ctx.seed}_{os.getpid()}")
    rows = tables.write_tables(ctx.seed, sf_dir, 0.2 if ctx.tiny else 1.0)
    oracle = ThreadPoolExecutor(1)
    wanted = oracle.submit(oracle_answers, sf_dir)
    oracle.shutdown(wait=False)
    cache_glob = os.path.join(harness.ROOT, ".cache", f"*_{os.path.basename(sf_dir)}_*")
    order = list(ENTRIES)
    random.Random(ctx.seed).shuffle(order)
    attempted = failed = 0

    def collect(name):
        try:
            return QUERIES[name](ctx.spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed entry is counted, not fatal
            print(f"{name} failed: {exc!r}"[:500], flush=True)
            return None

    try:
        # the cold pass only compiles and collects: entries share it,
        # slowest (the stream) first, so its cost is not paid serially
        slow_first = sorted(ENTRIES, key=lambda n: ENTRIES[n] != "streaming")
        with ThreadPoolExecutor(COLLECT_THREADS) as pool:
            answers = dict(zip(slow_first, pool.map(collect, slow_first)))
        attempted += len(answers)
        failed += sum(1 for got in answers.values() if got is None)
        setup_s = time.perf_counter() - ctx.t_start

        passes: list[dict[str, float]] = []
        traced: list[dict[str, float]] = []
        progress = _StreamProgress(ctx.tracer) if ctx.trace else None
        n_passes = max(MIN_PASSES, int(ctx.seconds // SECONDS_PER_PASS))
        # traced, every entry runs twice: half the passes keep the run as long
        for p in range(max(1, n_passes // 2) if ctx.trace else n_passes):
            times, times_traced = {}, {}
            for k, name in enumerate(order):
                # traced, each entry runs twice, untraced and traced, the
                # order alternating: the paired difference is the overhead
                modes = (((False, True) if (p + k) % 2 == 0 else (True, False))
                         if ctx.trace else (False,))
                for mode in modes:
                    attempted += 1
                    ctx.tracer.active = mode
                    try:
                        t = _run_entry(ctx, QUERIES[name], name, sf_dir,
                                       f"pb{p}:{name}" if mode else None)
                    except Exception as exc:  # noqa: BLE001
                        print(f"{name} failed: {exc!r}"[:500], flush=True)
                        failed += 1
                        continue
                    finally:
                        ctx.tracer.active = False
                    (times_traced if mode else times)[name] = t
            passes.append(times)
            traced.append(times_traced)
        if progress is not None:
            progress.close()
        ok = check(answers, wanted.result(), ctx.corrupt)
        failed += sum(1 for name, good in ok.items() if not good and answers[name] is not None)
    finally:
        for path in glob.glob(cache_glob):
            shutil.rmtree(path, ignore_errors=True)

    # A batch has no per-request latency, and one entry's time moves
    # 10-20% from run to run, so the latencies are taken per pass: the
    # mean entry time and the slowest entry (the straggler that bounds
    # the batch), each the median over passes.
    lat = [t for p in passes for t in p.values()]
    pass_s = [sum(p.values()) for p in passes]
    median_pass = harness.percentile(pass_s, 50)
    slowest = harness.percentile([max(p.values()) for p in passes], 50)
    per_entry = {n: harness.percentile([p[n] for p in passes if n in p], 50) for n in order}
    out = {
        "setup_s": setup_s,
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "latency_p50_ms": 1e3 * median_pass / len(order),
            "latency_tail_ms": 1e3 * slowest,
            "throughput_per_s": len(order) / median_pass,
        },
        "report": {
            "latency": {"what": "per pass: mean entry time (p50 metric) and slowest"
                                " entry (tail metric), median over passes",
                        "samples": len(passes), "tail_percentile": 100.0,
                        "entry_p50_s": harness.percentile(lat, 50)},
            "throughput": "entries per second over the median pass",
            "batch_total_s": median_pass,
            "passes": len(passes),
            "entry_median_s": per_entry,
            "tables": rows,
            "check": {"oracle": "duckdb registry oracle, value hash", "ok": ok},
        },
    }
    if ctx.trace:
        groups = [f"pb{p}:{n}" for p in range(len(traced)) for n in traced[p]]
        recs = list(ctx.stats.read(groups).values())
        n = max(len(recs), 1)
        tot = {k: sum(r[k] for r in recs) for k in recs[0]} if recs else {}
        run_s = tot.get("executor_run_ms", 0) / 1e3
        trig = [r[0] for r in progress.rows]
        stream_runs = len(passes) * sum(1 for e in order if ENTRIES[e] == "streaming")
        diffs = [t[e] - u[e] for t, u in zip(traced, passes) for e in t if e in u]
        layers = {
            "spark.jobs": tot.get("jobs", 0) / n,
            "spark.stages": tot.get("stages", 0) / n,
            "spark.tasks": tot.get("tasks", 0) / n,
            "spark.executor_run_s": run_s / n,
            "spark.executor_cpu_s": tot.get("executor_cpu_ns", 0) / 1e9 / n,
            "spark.core_busy_ratio": run_s / (sum(sum(t.values()) for t in traced) * ctx.cores),
            "spark.scan_rows": tot.get("scan_rows", 0) / n,
            "spark.scan_bytes": tot.get("scan_bytes", 0) / n,
            "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0) / n,
            "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0) / n,
            "spark.spill_bytes": (tot.get("spill_memory_bytes", 0)
                                  + tot.get("spill_disk_bytes", 0)) / n,
            "spark.python_eval_s": tot.get("python_ms", 0) / 1e3 / n,
            "streaming.trigger_ms": sum(trig) / len(trig) if trig else 0.0,
            "streaming.batches": len(trig) / max(stream_runs, 1),
            "streaming.state_rows": max((r[1] for r in progress.rows), default=0),
            "trace.overhead_p50_ms": 1e3 * harness.percentile(diffs, 50) if diffs else 0.0,
        }
        for fam in FAMILIES:
            layers[f"{fam}.s"] = sum(t for e, t in per_entry.items() if ENTRIES[e] == fam)
        out["layers"] = layers
    return out
