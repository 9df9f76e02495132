"""Scale rehearsal: time the heaviest suite queries at sf0.1 and at
the 10x local replica (tools/gen_scale.py -> .cache/sf1), print the
per-query scaling ratio.  A linear-shape query should land near 10x
(minus fixed scheduling overhead, so usually below); anything well
above 10x is flagged SUPER-LINEAR for a plan fix or a documented cap.

Usage: python tools/scale_rehearsal.py [name ...]   (default: the
round-3 slowest-10 + the round-4 two-phase rewrites + engine cores)
Env: SPARK_SCALE_BIG overrides the big-side dir (e.g. .cache/sf10 from
`python tools/gen_scale.py 100` for a 100x rehearsal); SPARK_SCALE_EXPECT
sets the linearity flag threshold (default 14, i.e. 1.4x the 10x step).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    # r3 slowest-10 at sf0.1 (VERDICT "deliberate shapes are linear")
    "doc_dedup_clusters",
    "doc_dedup_cluster_sizes",
    "ingest_layout_write",
    "doc_dup_span_scrub",
    "doc_hamming_near_dups",
    "doc_ngram_jaccard_pairs",
    "doc_char_entropy",
    "emb_semantic_dedup",
    "doc_simhash",
    "doc_minhash_lsh_candidates",
    # r4 two-phase rewrites (prove the new shapes scale)
    "rel_order_value_deciles",
    "rel_rfm_segments",
    "rel_basket_pairs",
    "doc_boilerplate_lines",
    "sp_knn_grid",
    # engine cores
    "ts_group_aggregate",
    "ts_join_pivot",
    "ts_ewma",
    "ts_holt_winters",
    "rel_q1_pricing_summary",
    # r4 continuation additions (behavioral/rollup/graph/streaming)
    "ts_event_funnel",
    "ts_retention_matrix",
    "ts_event_transitions",
    "ts_time_rollup",
    "rel_revenue_rollup",
    "rel_supplier_pagerank",
    "stream_funnel",
    "ingest_versioned_timetravel",
]


def main() -> None:
    # the big side (10x-100x replicas) needs more heap than the bench
    # steady-state default; callers can still override explicitly
    os.environ.setdefault("STDB_SPARK_DRIVER_MEM", "24g")
    names = sys.argv[1:] or DEFAULT
    from stdb_spark import model

    base = model.default_sf_dir()
    big = os.environ.get("SPARK_SCALE_BIG") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".cache",
        "sf1",
    )
    flag_at = float(os.environ.get("SPARK_SCALE_EXPECT", "14"))
    if not os.path.isdir(big):
        raise SystemExit("run tools/gen_scale.py first")
    from stdb_spark.profile import Profiler, profile_entries
    from stdb_spark.session import get_spark
    from stdb_spark.sources import storage
    from stdb_spark.workloads import QUERIES

    spark = get_spark("scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    special = {"ingest_layout_write"}
    unknown = [n for n in names if n not in QUERIES and n not in special]
    if unknown:
        print(f"skipping unknown queries: {unknown}", flush=True)
        names = [n for n in names if n not in unknown]
    for name in names:
        ts = []
        for sf_dir in (base, big):
            if name in special:
                tgt = os.path.join(big, "_rehearsal_ingest")
                shutil.rmtree(tgt, ignore_errors=True)
                rec = Profiler(spark).run(
                    lambda: storage.write_samples(model.events_as_samples(spark, sf_dir), tgt)
                )
                shutil.rmtree(tgt, ignore_errors=True)
            else:
                # warm each side, then time it IMMEDIATELY: one-time
                # artifact builds (k-means centroids, presigned signatures,
                # layouts) are ingest-side ETL, not query latency -- same
                # steady-state rule bench.py applies (first rehearsal run
                # showed emb_semantic_dedup at "87x" of which ~80s was
                # centroid training).  The small side is timed BEFORE the
                # big side ever runs: timing it after the big warm pass
                # read up to ~7x high (JVM/GC state pollution, r11
                # BENCH_NOTES), understating every ratio.
                [(_, res)] = profile_entries(spark, [name], sf_dir, warm_at=[sf_dir])
                if "error" in res:
                    raise RuntimeError(f"{name} at {sf_dir}: {res['error']}")
                rec = res["records"][-1]
            ts.append(rec["wall_ms"] / 1e3)
        t_small, t_big = ts
        ratio = t_big / t_small if t_small > 0 else float("inf")
        flag = "SUPER-LINEAR" if ratio > flag_at else ""
        rows.append((name, round(t_small, 2), round(t_big, 2), round(ratio, 1), flag))
        print(
            f"{name:32s} sf0.1={t_small:6.2f}s sf1={t_big:7.2f}s "
            f"ratio={ratio:5.1f}x {flag}",
            flush=True,
        )
    print(json.dumps({"rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
