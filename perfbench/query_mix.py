"""query_mix: one client runs a closed loop of seeded JSON queries over
a synthetic TSDB, fetching each query's rows before sending the next.

Set-up writes the dataset through the program's own storage layer
(``storage.write_samples`` for samples and events, ``write_summary``
for the 1-day summaries, and the series registry), binds one Engine to
it and warms every query template once.  The timed loop cycles through
a fixed seeded list of distinct queries.  Expected answers come from
DuckDB SQL over the plain unpartitioned samples, computed once per
distinct query on a side thread during set-up, never during the timed
loop (the ewma apply is checked with the program's sequential reference
fold over DuckDB's rows).
"""

from __future__ import annotations

import math
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import harness
import tsdb
from tsdb import DAY_NS, HOUR_NS, METRICS, MIN_NS

# One block of the mix: template -> queries per block.  The timed loop
# cycles through seeded blocks, each a shuffled copy of this
# composition, so every seed runs the same share of each template and
# only the parameters and order change.  Narrow recent selects
# dominate, as on a dashboard.
# A run measures a number of whole blocks fixed by --seconds (one per
# SECONDS_PER_BLOCK, at least MIN_BLOCKS): every run holds the same
# shapes and the same sample count, whatever the program's speed, and
# the tail percentile (harness.tail) comes from the same rung.
MIN_BLOCKS = 2
SECONDS_PER_BLOCK = 5.0
#
# Joins are a quarter of the block.  With two blocks (34 queries) the
# p60 tail falls in the middle of the joins' latency plateau, not on
# the step between two templates, where per-run noise in the ordering
# would swing it by a third.
BLOCK = {
    "select": 4,
    "select_backward_limit": 1,
    "select_apply": 1,
    "select_events": 1,
    "aggregate": 1,
    "group_agg_rollup": 1,
    "group_agg_leaf": 1,
    "join": 4,
    "group_agg_join": 1,
    "search": 1,
    "suggest": 1,
}
N_BLOCKS = 4  # distinct blocks generated; longer runs cycle through them
WARM_THREADS = 4  # set-up only: the timed loop has one client
JOIN_PAIRS = (("cpu_user", "cpu_sys"), ("net_rx", "net_tx"))
EVENT_PATTERNS = ("error|timeout", "oom", "^restart", "reset by peer", "gc pause [0-9]+ms")
AGG_FUNCS = ["min", "max", "mean", "count"]


# ------------------------------------------------------------- generator
class MixGen:
    """Seeded query specs.  Hosts are drawn Zipf-popular; ranges end
    near the newest data (exponential lag, mean 12 h)."""

    def __init__(self, seed: int, spec: tsdb.TsdbSpec):
        self.rng = random.Random(seed)
        self.spec = spec
        w = [1.0 / (r + 1) ** 1.1 for r in range(spec.hosts)]
        order = list(range(spec.hosts))
        self.rng.shuffle(order)
        self.hosts = [tsdb.host(h) for h in order]
        self.host_w = w

    def _host(self) -> str:
        return self.rng.choices(self.hosts, self.host_w)[0]

    def _region(self) -> str:
        return f"r{self.rng.randrange(self.spec.regions)}"

    def _recent(self, span_ns: int, grain_ns: int) -> tuple[int, int]:
        lag = int(self.rng.expovariate(1.0 / (12 * HOUR_NS)))
        end = self.spec.end_ns - min(lag, self.spec.days * DAY_NS - span_ns)
        end -= (end - tsdb.T0_NS) % grain_ns
        return end - span_ns, end

    def _days(self, max_days: int) -> tuple[int, int]:
        k = self.rng.randint(2, min(max_days, self.spec.days))
        end_day = self.spec.days - self.rng.choice((0, 0, 1, 2))
        end_day = max(end_day, k)
        return tsdb.T0_NS + (end_day - k) * DAY_NS, tsdb.T0_NS + end_day * DAY_NS

    def spec_for(self, kind: str, v: int = 0) -> dict:
        """One query of template ``kind``.  ``v`` counts the template's
        earlier queries in the mix: the choices that set a query's cost
        (span, step, path, apply node) cycle with it, so every run of
        the same length holds the same shapes; hosts, metrics and lags
        are drawn."""
        r = self.rng
        m = r.choice(METRICS)
        if kind == "select":
            hosts = [self._host()] if v % 4 != 3 else sorted({self._host(), self._host()})
            span = (1, 3, 6, 12)[v % 4] * HOUR_NS
            b, e = self._recent(span, 5 * MIN_NS)
            q = {"kind": kind, "metric": m, "hosts": hosts, "begin": b, "end": e}
            if v % 4 == 1:
                q["gt"] = round(r.uniform(20, 80), 1)
            return q
        if kind == "select_backward_limit":
            b, e = self._recent((6, 24)[v % 2] * HOUR_NS, HOUR_NS)
            return {"kind": kind, "metric": m, "region": self._region(), "begin": b,
                    "end": e, "limit": (50, 200)[v % 2]}
        if kind == "select_apply":
            b, e = self._recent((12, 24)[v % 2] * HOUR_NS, HOUR_NS)
            node = ({"name": "sma", "window-width": r.choice((3, 6, 12))}
                    if v % 2 == 0 else {"name": "ewma", "decay": r.choice((0.1, 0.3))})
            return {"kind": kind, "metric": m, "hosts": [self._host()], "begin": b,
                    "end": e, "apply": node}
        if kind == "select_events":
            b, e = self._days(7)
            return {"kind": kind, "hosts": sorted({self._host() for _ in range(3)}),
                    "begin": b, "end": e, "regex": r.choice(EVENT_PATTERNS)}
        if kind == "aggregate":
            if v % 3 != 2:
                b, e = self._days(14)
            else:
                b, e = self._recent(r.choice((6, 30)) * HOUR_NS, HOUR_NS)
            return {"kind": kind, "metric": m, "region": self._region(), "begin": b,
                    "end": e, "funcs": AGG_FUNCS}
        if kind == "group_agg_rollup":
            b, e = self._days(14)
            return {"kind": kind, "metric": m, "region": self._region(), "begin": b,
                    "end": e, "step": "1d", "step_ns": DAY_NS, "funcs": AGG_FUNCS}
        if kind == "group_agg_leaf":
            step, step_ns = (("1h", HOUR_NS), ("15m", 15 * MIN_NS))[v % 2]
            b, e = self._recent((1, 2)[v // 2 % 2] * DAY_NS, HOUR_NS)
            return {"kind": kind, "metric": m, "hosts": [self._host()], "begin": b,
                    "end": e, "step": step, "step_ns": step_ns, "funcs": ["min", "max", "mean"]}
        if kind == "join":
            b, e = self._recent((3, 6, 12)[v % 3] * HOUR_NS, 5 * MIN_NS)
            return {"kind": kind, "metrics": list(r.choice(JOIN_PAIRS)),
                    "hosts": [self._host()], "begin": b, "end": e}
        if kind == "group_agg_join":
            if v % 2 == 0:
                b, e = self._days(7)
                step, step_ns = "1d", DAY_NS
            else:
                b, e = self._recent(DAY_NS, HOUR_NS)
                step, step_ns = "1h", HOUR_NS
            return {"kind": kind, "metrics": list(r.choice(JOIN_PAIRS)),
                    "hosts": [self._host()], "begin": b, "end": e, "step": step,
                    "step_ns": step_ns, "func": "mean"}
        if kind == "search":
            return {"kind": kind, "metric": m, "hosts": sorted({self._host() for _ in range(3)})}
        if kind == "suggest":
            return {"kind": kind, "metric": m, "prefix": f"h0{r.randrange(10)}"}
        raise ValueError(kind)

    def mix(self, blocks: int) -> list[dict]:
        out: list[dict] = []
        seen: dict[str, int] = {}
        for _ in range(blocks):
            kinds = [k for k, n in BLOCK.items() for _ in range(n)]
            self.rng.shuffle(kinds)
            for k in kinds:
                out.append(self.spec_for(k, seen.get(k, 0)))
                seen[k] = seen.get(k, 0) + 1
        return out

    def warm_set(self) -> list[dict]:
        """Every template once, plus the variants that take another code
        path: ewma (a Python UDF), and the leaf-scan aggregate and
        group-aggregate-join."""
        extra = [("select_apply", 1), ("aggregate", 2), ("group_agg_join", 1)]
        return [self.spec_for(k) for k in BLOCK] + [self.spec_for(k, v) for k, v in extra]


def summary_eligible(q: dict) -> bool:
    """Queries the engine can answer from the 1-day summaries: aligned
    day ranges for aggregate and day-step group-aggregate(-join)."""
    if q["kind"] not in ("aggregate", "group_agg_rollup", "group_agg_join"):
        return False
    aligned = (q["begin"] - tsdb.T0_NS) % DAY_NS == 0 and (q["end"] - tsdb.T0_NS) % DAY_NS == 0
    if q["kind"] == "aggregate":
        return aligned
    return aligned and q["step_ns"] % DAY_NS == 0


# ------------------------------------------------------------ JSON form
def to_json(q: dict) -> tuple[str, dict]:
    """(engine method, JSON query)."""
    k = q["kind"]
    rng = {"from": q.get("begin"), "to": q.get("end")}
    if k == "select":
        j = {"select": q["metric"], "where": {"host": q["hosts"]}, "range": rng}
        if "gt" in q:
            j["filter"] = {"gt": q["gt"]}
        return "query", j
    if k == "select_backward_limit":
        return "query", {"select": q["metric"], "where": {"region": [q["region"]]},
                         "range": {"from": q["end"], "to": q["begin"]}, "limit": q["limit"]}
    if k == "select_apply":
        return "query", {"select": q["metric"], "where": {"host": q["hosts"]}, "range": rng,
                         "apply": [q["apply"]]}
    if k == "select_events":
        return "query", {"select-events": tsdb.EVENT_METRIC, "where": {"host": q["hosts"]},
                         "range": rng, "filter": q["regex"]}
    if k == "aggregate":
        return "query", {"aggregate": {q["metric"]: q["funcs"]},
                         "where": {"region": [q["region"]]}, "range": rng}
    if k == "group_agg_rollup":
        return "query", {"group-aggregate": {"step": q["step"], "metric": q["metric"],
                                             "func": q["funcs"]},
                         "where": {"region": [q["region"]]}, "range": rng}
    if k == "group_agg_leaf":
        return "query", {"group-aggregate": {"step": q["step"], "metric": q["metric"],
                                             "func": q["funcs"]},
                         "where": {"host": q["hosts"]}, "range": rng}
    if k == "join":
        return "query", {"join": q["metrics"], "where": {"host": q["hosts"]}, "range": rng}
    if k == "group_agg_join":
        return "query", {"group-aggregate-join": {"step": q["step"], "metric": q["metrics"],
                                                  "func": q["func"]},
                         "where": {"host": q["hosts"]}, "range": rng}
    if k == "search":
        return "search", {"select": q["metric"], "where": {"host": q["hosts"]}}
    if k == "suggest":
        return "suggest", {"select": "tag-values", "metric": q["metric"], "tag": "host",
                           "starts-with": q["prefix"]}
    raise ValueError(k)


# ------------------------------------------------------------- expected
def _in(xs) -> str:
    return "(" + ", ".join(f"'{x}'" for x in xs) + ")"


_SQL_AGG = {"min": "min(value)", "max": "max(value)", "mean": "avg(value)",
            "count": "CAST(count(value) AS DOUBLE)"}
_TAGS = "' host=' || host || ' region=' || region"


def to_sql(q: dict) -> str:
    k = q["kind"]
    if k in ("select", "select_apply"):
        where = (f"metric = '{q['metric']}' AND host IN {_in(q['hosts'])}"
                 f" AND ts >= {q['begin']} AND ts < {q['end']}")
        if "gt" in q:
            where += f" AND value > {q['gt']}"
        if k == "select_apply" and q["apply"]["name"] == "sma":
            n = q["apply"]["window-width"]
            return (f"SELECT name AS series, ts, coalesce(sum(value) OVER (PARTITION BY name"
                    f" ORDER BY ts ROWS BETWEEN {n} PRECEDING AND 1 PRECEDING), 0) / {n}"
                    f" AS value FROM s WHERE {where}")
        return f"SELECT name AS series, ts, value FROM s WHERE {where} ORDER BY series, ts"
    if k == "select_backward_limit":
        return (f"SELECT name AS series, ts, value FROM s WHERE metric = '{q['metric']}'"
                f" AND region = '{q['region']}' AND ts <= {q['end']} AND ts > {q['begin']}"
                f" ORDER BY ts DESC, series DESC, value DESC LIMIT {q['limit']}")
    if k == "select_events":
        pat = q["regex"].replace("'", "''")
        return (f"SELECT name AS series, ts, body FROM e WHERE host IN {_in(q['hosts'])}"
                f" AND ts >= {q['begin']} AND ts < {q['end']}"
                f" AND regexp_matches(body, '{pat}')")
    if k == "aggregate":
        m = q["metric"]
        parts = [f"SELECT '{m}:{f}' || {_TAGS} AS series, {_SQL_AGG[f]} AS value FROM s"
                 f" WHERE metric = '{m}' AND region = '{q['region']}' AND ts >= {q['begin']}"
                 f" AND ts < {q['end']} GROUP BY host, region" for f in q["funcs"]]
        return " UNION ALL ".join(parts)
    if k in ("group_agg_rollup", "group_agg_leaf"):
        m, b, st = q["metric"], q["begin"], q["step_ns"]
        label = "|".join(f"{m}:{f}" for f in q["funcs"])
        cond = (f"region = '{q['region']}'" if "region" in q
                else f"host IN {_in(q['hosts'])}")
        aggs = ", ".join(f"{_SQL_AGG[f]} AS \"{f}\"" for f in q["funcs"])
        return (f"SELECT '{label}' || {_TAGS} AS series, {b} + {st} * ((ts - {b}) // {st})"
                f" AS ts, {aggs} FROM s WHERE metric = '{m}' AND {cond} AND ts >= {b}"
                f" AND ts < {q['end']} GROUP BY host, region, 2")
    if k == "join":
        m1, m2 = q["metrics"]
        return (f"SELECT '{m1}|{m2}' || {_TAGS} AS series, ts,"
                f" max(value) FILTER (WHERE metric = '{m1}') AS {m1},"
                f" max(value) FILTER (WHERE metric = '{m2}') AS {m2} FROM s"
                f" WHERE metric IN ('{m1}', '{m2}') AND host IN {_in(q['hosts'])}"
                f" AND ts >= {q['begin']} AND ts < {q['end']} GROUP BY host, region, ts")
    if k == "group_agg_join":
        (m1, m2), b, st = q["metrics"], q["begin"], q["step_ns"]
        return (f"SELECT '{m1}:mean|{m2}:mean' || {_TAGS} AS series,"
                f" {b} + {st} * ((ts - {b}) // {st}) AS ts,"
                f" avg(value) FILTER (WHERE metric = '{m1}') AS {m1},"
                f" avg(value) FILTER (WHERE metric = '{m2}') AS {m2} FROM s"
                f" WHERE metric IN ('{m1}', '{m2}') AND host IN {_in(q['hosts'])}"
                f" AND ts >= {b} AND ts < {q['end']} GROUP BY host, region, 2")
    if k == "search":
        return (f"SELECT DISTINCT name AS series FROM s WHERE metric = '{q['metric']}'"
                f" AND host IN {_in(q['hosts'])}")
    if k == "suggest":
        return (f"SELECT DISTINCT host AS name FROM s WHERE metric = '{q['metric']}'"
                f" AND starts_with(host, '{q['prefix']}')")
    raise ValueError(k)


def expected_rows(con, q: dict) -> list[tuple]:
    rows = con.execute(to_sql(q)).fetchall()
    if q["kind"] == "select_apply" and q["apply"]["name"] == "ewma":
        import numpy as np

        from stdb_spark.query.apply_nodes import _ewma_seq

        out, i = [], 0
        while i < len(rows):
            j = i
            while j < len(rows) and rows[j][0] == rows[i][0]:
                j += 1
            xs = np.array([r[2] for r in rows[i:j]], dtype=float)
            ys = _ewma_seq(xs, q["apply"]["decay"], False)
            out += [(r[0], r[1], float(y)) for r, y in zip(rows[i:j], ys)]
            i = j
        rows = out
    return rows


def expected_answers(plain_s: str, plain_e: str, queries: list[dict]) -> dict[int, list]:
    """Expected rows of every query, by index, from DuckDB over the
    plain files."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW s AS SELECT *, metric || {_TAGS} AS name"
                    f" FROM read_parquet('{plain_s}')")
        con.execute(f"CREATE VIEW e AS SELECT *, metric || {_TAGS} AS name"
                    f" FROM read_parquet('{plain_e}')")
        return {qi: expected_rows(con, q) for qi, q in enumerate(queries)}
    finally:
        con.close()


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _key(row: tuple) -> tuple:
    return tuple((1, "") if v is None else (0, v) for v in row)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive equality with a relative float tolerance
    (double sums and means depend on the engine's addition order)."""
    if len(got) != len(want):
        return False
    g, w = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y)) for x, y in zip(g, w))


# ------------------------------------------------------------- workload
def setup(ctx) -> dict:
    from stdb_spark.engine import Engine
    from stdb_spark import model
    from stdb_spark.sources import storage

    spark, work = ctx.spark, ctx.work
    spec = tsdb.TINY if ctx.tiny else tsdb.TsdbSpec()
    phases = {"session": time.perf_counter() - ctx.t_start}
    t = time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = now - t
        t = now

    plain_s = os.path.join(work, "plain_samples.parquet")
    plain_e = os.path.join(work, "plain_events.parquet")
    tsdb.write_plain(ctx.seed, spec, plain_s, plain_e)
    queries = MixGen(ctx.seed, spec).mix(N_BLOCKS)
    # the answers are computed beside the set-up below, which mostly
    # waits on a cold JVM, and are ready long before the loop ends
    oracle = ThreadPoolExecutor(1)
    want = oracle.submit(expected_answers, plain_s, plain_e,
                         queries[:measured_blocks(ctx) * sum(BLOCK.values())])
    oracle.shutdown(wait=False)
    phase("generate")
    paths = {k: os.path.join(work, k) for k in ("layout", "events", "summary", "registry")}
    samples = tsdb.narrow(spark, plain_s)
    # the registry is derived from the distinct series, not a pass over
    # every sample
    series = samples.select("series_id", "metric", "tags").dropDuplicates(["series_id"])
    writes = (
        lambda: storage.write_samples(samples, paths["layout"]),
        lambda: storage.write_samples(tsdb.narrow(spark, plain_e), paths["events"]),
        lambda: storage.write_summary(samples, paths["summary"]),
        lambda: model.series_registry(series).coalesce(1).write.parquet(paths["registry"]),
    )
    # the four outputs are independent; writing them side by side keeps
    # a cold JVM's first jobs from running one after another
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        for f in [pool.submit(w) for w in writes]:
            f.result()
    phase("write")
    rd = spark.read.parquet
    engine = Engine(
        spark,
        samples=rd(paths["layout"]),
        events=rd(paths["events"]),
        series=rd(paths["registry"]),
        summaries=rd(paths["summary"]),
        summary_step_ns=DAY_NS,
    )
    def warm(q):
        method, j = to_json(q)
        getattr(engine, method)(j).collect()

    # warm-up only compiles; it is shared the same way
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        list(pool.map(warm, MixGen(ctx.seed + 7919, spec).warm_set()))
    phase("warm")
    files, size, parts = harness.dir_stats(paths["layout"])
    return {"engine": engine, "queries": queries, "spec": spec, "want": want,
            "layout": {"files": files, "bytes": size, "partitions": parts},
            "setup_phases_s": phases}


def run_query(ctx, engine, q: dict, op: int, traced: bool) -> tuple[float, list, dict]:
    """Send one query and fetch its rows.  Returns (seconds, rows,
    per-layer record).  A traced query records spans and runs under two
    job groups, ``qm<op>:build`` and ``qm<op>:fetch``, whose status-store
    totals are read once the run is over (SparkStats.read)."""
    method, j = to_json(q)
    sc = ctx.spark.sparkContext
    tr = ctx.tracer
    rec: dict = {}
    if traced:
        sc.setJobGroup(f"qm{op}:build", "build", False)
    t0 = time.perf_counter()
    try:
        with tr.span("op", op):
            df = getattr(engine, method)(j)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"qm{op}:fetch", "fetch", False)
            with tr.span("driver.fetch", op):
                rows = df.collect()
        wall = time.perf_counter() - t0
    finally:
        if traced:
            sc.setJobGroup(None, None)
    if traced:
        rec = {"build_s": t1 - t0, "fetch_s": wall - (t1 - t0), "rows": len(rows),
               "groups": (f"qm{op}:build", f"qm{op}:fetch")}
        if summary_eligible(q):
            # only the summary table has a bucket_ts column
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            rec["summary_path"] = "bucket_ts" in plan
    return wall, [tuple(r) for r in rows], rec


def closed_loop(ctx, blocks: int, traced: bool) -> dict:
    """Run ``blocks`` whole blocks of the mix.  Traced, every query runs
    twice, untraced and traced, the order alternating, so the paired
    difference is the tracing overhead.  Returns latencies (untraced),
    traced latencies, (query index, rows) per execution, traced
    records and the elapsed seconds."""
    engine, queries = ctx.state["engine"], ctx.state["queries"]
    out = {"lat": [], "lat_traced": [], "results": [], "recs": []}
    t0 = time.perf_counter()
    for i in range(blocks * sum(BLOCK.values())):
        qi = i % len(queries)
        modes = ((False, True) if i % 2 == 0 else (True, False)) if traced else (False,)
        for mode in modes:
            op = i + (len(queries) if mode else 0)
            ctx.tracer.active = mode
            try:
                wall, rows, rec = run_query(ctx, engine, queries[qi], op, mode)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                print(f"query {qi} failed: {exc!r}"[:500], flush=True)
                out["results"].append((qi, None))
                continue
            finally:
                ctx.tracer.active = False
            out["results"].append((qi, rows))
            out["lat_traced" if mode else "lat"].append(wall)
            if mode:
                out["recs"].append(rec)
    out["elapsed"] = time.perf_counter() - t0
    return out


def check(ctx, results: list) -> tuple[int, dict]:
    """Compare every executed query with its expected answer; returns
    (failed, details)."""
    queries = ctx.state["queries"]
    want = dict(ctx.state["want"].result())
    if ctx.corrupt:
        # smoke-test hook: one deliberately wrong expected answer
        qi = results[0][0]
        want[qi] = want[qi][1:] or [("corrupted",)]
    checked: set[int] = set()
    failed, bad = 0, []
    for qi, rows in results:
        if rows is None:
            failed += 1
            continue
        checked.add(qi)
        if not same_rows(rows, want[qi]):
            failed += 1
            if qi not in bad:
                bad.append(qi)
                print(f"wrong answer for query {qi} ({queries[qi]['kind']}):"
                      f" {len(rows)} rows vs {len(want[qi])} expected", flush=True)
    return failed, {"wrong_queries": bad, "distinct_checked": len(checked)}


def query_layers(recs: list[dict], cores: int) -> dict:
    """Query-path per-layer metrics from traced query records: means per
    query for times and counts, totals turned into ratios where the
    ratio is the point."""
    n = max(len(recs), 1)
    tot: dict[str, float] = {}
    for r in recs:
        for part in ("build", "fetch"):
            for k, v in r[part].items():
                tot[k] = tot.get(k, 0) + v
    wall = sum(r["build_s"] + r["fetch_s"] for r in recs)
    rows = sum(r["rows"] for r in recs)
    eligible = [r["summary_path"] for r in recs if "summary_path" in r]
    run_s = tot.get("executor_run_ms", 0) / 1e3
    return {
        "engine.build_ms": 1e3 * sum(r["build_s"] for r in recs) / n,
        "engine.build_jobs": sum(r["build"]["jobs"] for r in recs) / n,
        "engine.summary_path_ratio": (sum(eligible) / len(eligible)) if eligible else 0.0,
        "driver.fetch_ms": 1e3 * sum(r["fetch_s"] for r in recs) / n,
        "driver.result_rows": rows / n,
        "spark.jobs": tot.get("jobs", 0) / n,
        "spark.stages": tot.get("stages", 0) / n,
        "spark.tasks": tot.get("tasks", 0) / n,
        "spark.executor_run_s": run_s / n,
        "spark.executor_cpu_s": tot.get("executor_cpu_ns", 0) / 1e9 / n,
        "spark.core_busy_ratio": run_s / (wall * cores) if wall else 0.0,
        "spark.scan_rows": tot.get("scan_rows", 0) / n,
        "spark.scan_bytes": tot.get("scan_bytes", 0) / n,
        "spark.scan_rows_per_result_row": tot.get("scan_rows", 0) / max(rows, 1),
        "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0) / n,
        "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0) / n,
        "spark.spill_bytes": (tot.get("spill_memory_bytes", 0) + tot.get("spill_disk_bytes", 0)) / n,
        "spark.python_eval_s": tot.get("python_ms", 0) / 1e3 / n,
    }


def measured_blocks(ctx) -> int:
    """Blocks an untraced run measures."""
    return max(MIN_BLOCKS, round(ctx.seconds / SECONDS_PER_BLOCK))


def run(ctx) -> dict:
    ctx.state = setup(ctx)
    setup_s = time.perf_counter() - ctx.t_start
    out: dict = {"setup_s": setup_s}
    n = measured_blocks(ctx)
    # traced, every query runs twice: half the blocks keep the run as long
    loop = closed_loop(ctx, max(1, n // 2) if ctx.trace else n, ctx.trace)
    lat, results, recs = loop["lat"], loop["results"], loop["recs"]
    if ctx.trace:
        stats = ctx.stats.read([g for r in recs for g in r["groups"]])
        for r in recs:
            r["build"], r["fetch"] = (stats[g] for g in r["groups"])
        layers = query_layers(recs, ctx.cores)
        layers["parser.parse_ms"] = 1e3 * ctx.tracer.total("parser") / max(len(recs), 1)
        diffs = [t - u for t, u in zip(loop["lat_traced"], lat)]
        layers["trace.overhead_p50_ms"] = 1e3 * harness.percentile(diffs, 50) if diffs else 0.0
        out["layers"] = layers
    failed, detail = check(ctx, results)
    kinds = [ctx.state["queries"][qi]["kind"] for qi, rows in results[::2 if ctx.trace else 1]
             if rows is not None]
    by_kind = {k: round(1e3 * harness.percentile([t for t, kk in zip(lat, kinds) if kk == k], 50), 1)
               for k in BLOCK if k in kinds}
    spec = ctx.state["spec"]
    pct, tail_v = harness.tail(lat) if lat else (50.0, float("nan"))
    out.update(
        attempted=len(results),
        failed=failed,
        e2e={
            "latency_p50_ms": 1e3 * harness.percentile(lat, 50) if lat else float("nan"),
            "latency_tail_ms": 1e3 * tail_v,
            "throughput_per_s": len(lat) / loop["elapsed"],
        },
        report={
            "latency": {"what": "query send until rows fetched", "samples": len(lat),
                        "tail_percentile": pct},
            "throughput": "completed queries per second, closed loop, 1 client",
            "dataset": {"samples": spec.samples, "series": spec.series, "days": spec.days,
                        "step_s": spec.step_ns // tsdb.NS, "layout": ctx.state["layout"]},
            "distinct_queries": len(ctx.state["queries"]),
            "template_p50_ms": by_kind,
            "sorted_ms": [round(1e3 * t) for t in sorted(lat)],
            "setup_phases_s": ctx.state["setup_phases_s"],
            "check": {"oracle": "duckdb over the plain unpartitioned samples", **detail},
        },
    )
    return out
