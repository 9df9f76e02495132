"""Mirror of the driver's correctness gate, but on a deliberately BARE
SparkSession (no session.get_spark confs) — this is what zeroed round 1:
the driver injects its own session into __spark_entry__.queries(), so
every conf the engine needs must be applied at runtime by the entry
points themselves (model.ensure_session_confs).

Usage:  python tools/driver_check.py [sf_dir] [name ...]
        python tools/driver_check.py [sf_dir] --sample N --seed S
Prints one line per query (pass/fail/err) and a JSON summary.

--sample N --seed S: check N registry entries drawn by a seeded shuffle
(seed = round number by convention) — the adversarial self-check of
VERDICT r6 directive #5: every round ships a fresh random-sample record
in CORRECTNESS_LOCAL.md on top of the fixed window + full local gate.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _hash(df: pd.DataFrame) -> str:
    import hashlib

    df = _canon(df.copy())

    def norm(v):
        # scalar-only isna: bare pd.isna(list/ndarray) raises the
        # ambiguous-truth ValueError, misreporting array-column queries
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, (list, tuple)):
            return repr([norm(x) for x in v])
        try:
            import numpy as np

            if isinstance(v, np.ndarray):
                return repr([norm(x) for x in v.tolist()])
        except ImportError:
            pass
        if not isinstance(v, (str, bytes)) and pd.api.types.is_scalar(v) and pd.isna(v):
            return "NULL"
        return repr(round(v, 6)) if isinstance(v, float) else repr(v)

    for c in df.columns:
        df[c] = df[c].map(norm)
    payload = "\n".join(",".join(r) for r in df.itertuples(index=False))
    return hashlib.md5(payload.encode()).hexdigest()


def _bytes(size: str) -> int:
    """A JVM memory size such as ``8g`` or ``4096m`` in bytes."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    size = size.strip().lower()
    if size[-1:] in units:
        return int(float(size[:-1]) * units[size[-1]])
    return int(size)


def _duckdb_mem_default(driver_mem: str | None) -> str:
    """DuckDB's memory limit when DUCKDB_MEM is unset: half of the
    machine's available memory less the driver heap (Spark's default
    1g unless DRIVER_CHECK_MEM sizes it), at least 1 GB.  DuckDB's own
    default is 80% of RAM inside this process, while the oracle's and
    Spark's result frames live outside its pool."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    free = avail_kb * 1024 - _bytes(driver_mem or "1g")
    return f"{max(free // 2, 1 << 30) >> 20}MB"


def _write_results(results: dict) -> None:
    with open("/tmp/driver_check.json", "w") as f:
        json.dump(results, f, indent=1, default=str)


def main() -> int:
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    sample_n = seed = None
    if "--sample" in args:
        i = args.index("--sample")
        sample_n = int(args[i + 1])
        del args[i : i + 2]
    if "--seed" in args:
        i = args.index("--seed")
        seed = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # BARE session: exactly what the driver hands us.  For LOCAL scale
    # replicas (sf1+) the default 1g driver heap of a bare local JVM is
    # the binding constraint, not the plans — DRIVER_CHECK_MEM sizes it
    # (must be set before the first session of the process).
    builder = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("driver-mirror")
        .config("spark.ui.enabled", "false")
    )
    mem = os.environ.get("DRIVER_CHECK_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()

    con = duckdb.connect()
    # DuckDB's default buffer pool is 80% of RAM; alongside a sized-up
    # JVM (DRIVER_CHECK_MEM) a long multi-query run can OOM the box —
    # the sf1 full-registry run died exactly this way at query 232.
    # DUCKDB_MEM caps it; unset, the cap comes from the memory the
    # machine has available when the run starts.
    ddb_mem = os.environ.get("DUCKDB_MEM") or _duckdb_mem_default(mem)
    con.execute(f"SET memory_limit='{ddb_mem}'")
    print(f"duckdb memory_limit={ddb_mem}", flush=True)
    for t in TABLES:
        # driver testdata ships single-file tables; locally generated
        # scale replicas (tools/gen_scale.py) are Spark-written
        # DIRECTORIES — glob their part files for DuckDB
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )

    import __spark_entry__ as entry

    qs = entry.queries()
    sqls = entry.oracle_sql()

    if sample_n is not None:
        import random

        rng = random.Random(seed if seed is not None else 0)
        names = sorted(qs)
        rng.shuffle(names)
        only = set(names[:sample_n])
        print(f"seeded sample (n={sample_n}, seed={seed}): {sorted(only)}")

    import time

    results: dict[str, dict] = {}
    npass = nfail = nerr = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            got = qs[name](spark, sf_dir).toPandas()
            if name in sqls:
                want = con.sql(sqls[name]).df()
                rec["rows_match"] = len(got) == len(want)
                rec["schema_match"] = sorted(got.columns) == sorted(want.columns)
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and _hash(got) == _hash(want)
                )
                rec["spark_rows"], rec["oracle_rows"] = len(got), len(want)
                if rec["hash_match"]:
                    npass += 1
                    status = "pass"
                else:
                    nfail += 1
                    status = (
                        f"FAIL rows={rec['rows_match']} schema={rec['schema_match']}"
                        f" ({len(got)} vs {len(want)})"
                    )
            else:
                rec["rows_only"] = len(got)
                npass += 1
                status = f"rows-only ({len(got)})"
        except Exception:
            rec["err"] = traceback.format_exc()[-1500:]
            nerr += 1
            status = "ERR " + rec["err"].strip().splitlines()[-1][:140]
        rec["sec"] = round(time.perf_counter() - t0, 2)
        # this process's peak resident set so far (Linux: KB); the file
        # is rewritten after every entry, so a killed run names its last
        rec["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss >> 10
        results[name] = rec
        _write_results(results)
        print(f"{name:42s} {status}  [{rec['sec']}s]", flush=True)
        if "err" in rec and (
            "Connection refused" in rec["err"]
            or "Java gateway process" in rec["err"]
            or "Py4JNetworkError" in rec["err"]
        ):
            # the JVM is gone (heap OOM at scale, kernel kill, ...) —
            # every later entry would err identically; abort so the
            # log ends at the entry that killed it instead of burying
            # it under hundreds of connection-refused lines
            print(
                f"ABORT: Spark JVM died during {name!r} — remaining"
                " entries skipped (restart with a bigger"
                " DRIVER_CHECK_MEM / DUCKDB_MEM)",
                flush=True,
            )
            break

    print(
        json.dumps(
            {"pass": npass, "fail": nfail, "err": nerr, "total": npass + nfail + nerr}
        )
    )
    _write_results(results)
    spark.stop()
    return 0 if nfail + nerr == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
