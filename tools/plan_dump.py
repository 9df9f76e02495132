#!/usr/bin/env python
"""Dump the optimized logical plans of the engine's queries, one file per
query, with expression ids stripped, so two trees' plans can be diffed.

Covers:
- every query_mix query of the given seeds (the timed mix and the
  warm-set variants), over the benchmark's own layout, summaries and
  registry, built as perfbench/query_mix.py builds them;
- every ``ts_*`` registry entry at ``SF_DIR``; the file of an entry that
  called the Engine starts with ``# engine``.

Usage:  python tools/plan_dump.py OUT_DIR SF_DIR [--seeds 1,2]
        python tools/plan_dump.py --compare OUT_A OUT_B

``--compare`` sorts the plans of two dumps into identical, equal up to
the grouping of AND conjuncts (the same conjuncts in the same order;
Catalyst nests them by the order in which it merged stacked Filters),
and different, and lists the different ones.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

_EXPR_ID = re.compile(r"#\d+L?")
# lambda variables are numbered by a process-wide counter
_LAMBDA_VAR = re.compile(r"(lambda [a-z]+)_\d+")


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return _LAMBDA_VAR.sub(r"\1_", _EXPR_ID.sub("#", text))


def _write(out: str, name: str, text: str) -> None:
    with open(os.path.join(out, name + ".txt"), "w") as f:
        f.write(text)


def dump_query_mix(spark, out: str, seeds: list[int], work: str) -> int:
    import query_mix as qm
    import tsdb

    from stdb_spark import model
    from stdb_spark.engine import Engine
    from stdb_spark.sources import storage

    n = 0
    spec = tsdb.TsdbSpec()
    for seed in seeds:
        d = os.path.join(work, f"qm{seed}")
        plain_s, plain_e = os.path.join(d, "plain_s.parquet"), os.path.join(d, "plain_e.parquet")
        os.makedirs(d)
        tsdb.write_plain(seed, spec, plain_s, plain_e)
        paths = {k: os.path.join(d, k) for k in ("layout", "events", "summary", "registry")}
        samples = tsdb.narrow(spark, plain_s)
        storage.write_samples(samples, paths["layout"])
        storage.write_samples(tsdb.narrow(spark, plain_e), paths["events"])
        storage.write_summary(samples, paths["summary"])
        series = samples.select("series_id", "metric", "tags").dropDuplicates(["series_id"])
        model.series_registry(series).coalesce(1).write.parquet(paths["registry"])
        rd = spark.read.parquet
        engine = Engine(
            spark,
            samples=rd(paths["layout"]),
            events=rd(paths["events"]),
            series=rd(paths["registry"]),
            summaries=rd(paths["summary"]),
            summary_step_ns=tsdb.DAY_NS,
        )
        mix = qm.MixGen(seed, spec).mix(qm.N_BLOCKS)
        warm = qm.MixGen(seed + 7919, spec).warm_set()
        for tag, qs in (("mix", mix), ("warm", warm)):
            for i, q in enumerate(qs):
                method, j = qm.to_json(q)
                text = _plan(getattr(engine, method)(j)).replace(d, "<work>")
                _write(out, f"qm_s{seed}_{tag}{i:03d}_{q['kind']}", text)
                n += 1
    return n


def dump_ts_entries(spark, out: str, sf_dir: str) -> tuple[int, int]:
    from stdb_spark import engine as engine_mod
    from stdb_spark.workloads import QUERIES

    called = []
    for meth in ("query", "search", "suggest"):
        orig = getattr(engine_mod.Engine, meth)

        def wrapped(self, q, _orig=orig):
            called.append(True)
            return _orig(self, q)

        setattr(engine_mod.Engine, meth, wrapped)
    n = n_engine = 0
    for name in sorted(k for k in QUERIES if k.startswith("ts_")):
        called.clear()
        try:
            text = _plan(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - the dump records it
            text = f"ERROR {type(exc).__name__}: {exc}"[:2000]
        head = "# engine\n" if called else ""
        n_engine += bool(called)
        _write(out, name, head + text)
        n += 1
    return n, n_engine


def _split(expr: str, sep: str) -> list[str]:
    """``expr`` split on ``sep`` outside parentheses."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(expr):
        depth += ch == "("
        depth -= ch == ")"
        if depth == 0 and expr.startswith(sep, i):
            parts.append(expr[start:i])
            start = i + len(sep)
    return parts + [expr[start:]]


def _wrapped(expr: str) -> bool:
    """Whether ``expr`` is one parenthesized group."""
    depth = 0
    for i, ch in enumerate(expr):
        depth += (ch == "(") - (ch == ")")
        if depth == 0:
            return i == len(expr) - 1 and i > 0
    return False


def _conjuncts(expr: str) -> list[str]:
    """The AND conjuncts of ``expr``, flattened through parentheses."""
    parts = _split(expr, " AND ")
    if len(parts) > 1:
        return [c for p in parts for c in _conjuncts(p)]
    if _wrapped(expr) and len(_split(expr[1:-1], " AND ")) > 1:
        return _conjuncts(expr[1:-1])
    return [expr]


def _same_up_to_and_grouping(a: str, b: str) -> bool:
    la, lb = a.splitlines(), b.splitlines()
    if len(la) != len(lb):
        return False
    for x, y in zip(la, lb):
        if x == y:
            continue
        head, _, cx = x.partition("Filter ")
        head_y, _, cy = y.partition("Filter ")
        if not cx or head != head_y or _conjuncts(cx) != _conjuncts(cy):
            return False
    return True


def compare(a: str, b: str) -> int:
    same, grouping, other = 0, 0, []
    for name in sorted(set(os.listdir(a)) | set(os.listdir(b))):
        try:
            x, y = (open(os.path.join(d, name)).read() for d in (a, b))
        except FileNotFoundError:
            other.append(name)
            continue
        if x == y:
            same += 1
        elif _same_up_to_and_grouping(x, y):
            grouping += 1
        else:
            other.append(name)
    print(f"identical {same}, AND grouping only {grouping}, different {len(other)}")
    for name in other:
        print("  different:", name)
    return 0


def main() -> int:
    args = sys.argv[1:]
    if args[:1] == ["--compare"]:
        return compare(args[1], args[2])
    seeds = [1, 2]
    if "--seeds" in args:
        i = args.index("--seeds")
        seeds = [int(s) for s in args[i + 1].split(",")]
        del args[i : i + 2]
    out, sf_dir = args
    os.makedirs(out, exist_ok=True)

    from stdb_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        n_qm = dump_query_mix(spark, out, seeds, work)
    n_ts, n_eng = dump_ts_entries(spark, out, sf_dir)
    print(f"query_mix plans: {n_qm}; ts_* plans: {n_ts} ({n_eng} call the Engine)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
