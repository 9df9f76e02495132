#!/usr/bin/env python
"""Plan capture for registry entries and the benchmark's query_mix: one
loop over entries, one plan capture, five uses.

    python tools/plans.py md
        Regenerate PLANS.md: physical plans of representative queries at
        sf0.01 with AQE off, so whole-stage-codegen spans are visible,
        plus the graph kernels' internal plans.
    python tools/plans.py dump OUT_DIR SF_DIR [--seeds 1,2] [name ...]
        One file per query, expression and plan ids stripped, holding its
        optimized logical plan and its physical plan.  With no names:
        every query_mix query of the seeds (the timed mix and the warm-set
        variants, over the benchmark's own layout, summaries and registry,
        built as perfbench/query_mix.py builds them) and every ``ts_*``
        entry (the file of an entry that called the Engine starts with
        ``# engine``).  With names: those entries, and for an entry whose
        result a driver-dispatched kernel assembles, the kernel's input
        (``<name>.kernel_input.txt``), so its exchanges stay auditable
        instead of a bare ``Scan ExistingRDD``.
    python tools/plans.py compare OUT_A OUT_B
        Sort two dumps' plans into identical, equal up to the grouping of
        AND conjuncts (the same conjuncts in the same order; Catalyst nests
        them by the order in which it merged stacked Filters), and
        different, and list the different ones.
    python tools/plans.py audit [SF_DIR] [THRESHOLD]
        Report (exit 0 always; dedup-style plans legitimately repeat md5
        across branches) the batch entries whose physical plan carries
        >= THRESHOLD (default 8) copies of a watched expensive construct,
        and every unpartitioned window spec.
    python tools/plans.py broadcast [BIG_DIR] [name ...]
        Flag every broadcast whose build side reads a fact table, planned
        (not run) against the 100x replica (tools/gen_scale.py ->
        .cache/sf10).
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


# ---------------------------------------------------------------- capture
def _entries(spark, sf_dir: str, names):
    """(name, its DataFrame, or the exception building it raised)."""
    from stdb_spark.workloads import QUERIES

    for name in names:
        try:
            yield name, QUERIES[name](spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 - per-entry isolation
            yield name, exc


def _plan(df, level: str):
    """The JVM plan node of ``df`` at ``level``: optimized, spark
    (physical, before preparation) or executed."""
    return getattr(df._jdf.queryExecution(), f"{level}Plan")()


_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")
# lambda variables are numbered by a process-wide counter
_LAMBDA_VAR = re.compile(r"(lambda [a-z]+)_\d+")


def _dump_text(df, work: str = "") -> str:
    """The optimized and the physical plan, with ids stripped and the
    checkout and ``work`` paths replaced, so two trees' dumps diff."""
    text = "\n".join(_plan(df, lvl).toString() for lvl in ("optimized", "executed"))
    text = text.replace(ROOT, "<repo>")
    if work:
        text = text.replace(work, "<work>")
    text = _PLAN_ID.sub("plan_id=", _EXPR_ID.sub("#", text))
    return _LAMBDA_VAR.sub(r"\1_", text)


def _beside_default(scale: str) -> str:
    """The ``scale`` directory (e.g. sf0.01) beside the default one."""
    from stdb_spark import model

    return os.path.join(os.path.dirname(model.default_sf_dir()), scale)


# ------------------------------------------------------------------- md
PICK = [
    ("ts_select_range", "select (Engine, one interpreted task): bind, range and ts_src bounds in one Filter that reaches PushedFilters, Coalesce 1, sort, no exchange"),
    ("ts_group_aggregate", "group-aggregate (Engine, one interpreted task): begin-aligned buckets, partial->final hash agg over Coalesce 1, no exchange"),
    ("ts_join_pivot", "join (Engine, one interpreted task): one conditional max per metric in one hash agg — zero join operators, no exchange"),
    ("rel_q5_local_supplier_volume", "multi-way join: dims broadcast, facts shuffle"),
    ("doc_minhash_lsh_candidates", "minhash+LSH: tokenize ONCE into a column (r7), explode -> flat hashes -> exchange-reused aggregation"),
    ("emb_ann_bruteforce", "ANN brute force: TakeOrderedAndProject, no global sort"),
    ("ts_asof_join", "as-of join: union + window fill — one shuffle, no range join"),
    ("ts_interval_join", "interval join: bucketized equi-join — shuffled hash join, no nested loop"),
    ("ts_aggregate_summary_pushdown", "aggregate from write-time summaries (Engine, one interpreted task): one tiny summary scan, combine-only aggregate, no leaf rows, no exchange"),
    ("emb_ann_lsh_presigned", "ANN over write-time signatures: bucket equality reaches PushedFilters"),
    ("doc_hamming_near_dups", "simhash near-dup: postings shuffle over 4 pigeonhole blocks, full recall"),
    ("rel_q7_volume_shipping", "double-role dimension: nation broadcast twice under aliases, one agg exchange"),
    ("rel_q17_small_quantity_revenue", "decorrelated per-part average: groupBy on the join key shares its exchange"),
    ("doc_contamination", "decontamination: benchmark postings broadcast, corpus side never shuffles"),
    ("doc_hash_sample", "deterministic sample: map-side md5 filter, zero shuffles"),
    ("ts_gapfill_interpolate", "gap fill: one anchor exchange + one lead() window, grid generated map-side by explode"),
    ("ts_corr_metrics", "cross-metric correlation: pivot exchange + decimal moment sums, scalar finish"),
    ("ts_sessionize", "sessionize: ONE user exchange feeds lag, running sum, and the per-session rollup"),
    ("ts_funnel", "funnel: chained whole-partition window mins stack on one exchange, tiny stage agg"),
    ("ts_m4_downsample", "M4 downsample: struct anchors, partial->final agg on one (series,bucket) exchange"),
    ("doc_tfidf_top_terms", "tf-idf: one (doc,term) exchange, broadcast vocab idf, decimal-exact ranking window"),
    ("doc_ngram_jaccard_capped", "capped Jaccard: stop-shingle postings dropped before the chained-explode pair emission"),
    ("ts_ewma", "EWMA (Engine, one interpreted task): applyInPandas batched by hash group over Coalesce 1 — one Arrow group per hash group, not per series, no exchange"),
    ("rel_q21_suppliers_waiting", "waiting supplier: EXISTS/NOT EXISTS as fact self semi/anti joins sharing one key"),
    ("doc_pack_sequences", "sample packing: one shard exchange, window cumsum, zero joins"),
    ("ts_rank_ntile", "rank/ntile: one per-series window sort, rank filter before the output projection"),
    ("doc_c4_line_filter", "C4 line filter: split/filter/rejoin as map-side array ops — zero exchanges"),
    ("doc_source_mixture", "source mixture: CASE weights + hash draw + explode(sequence) — zero exchanges"),
    ("emb_ann_int8", "int8 ANN: map-side quantize + exact int64 dot, TakeOrderedAndProject"),
    ("doc_ngram_novelty", "n-gram novelty: ONE shingle exchange (count,min-doc ownership), no postings self-join"),
    ("ts_seasonal_decompose", "seasonal decompose: three stacked window stages, decimal means, no joins"),
    ("ts_concurrency", "peak concurrency: two-phase prefix sum — bucket-partitioned run sums + tiny offset window"),
    ("ts_changepoints", "Page-Hinkley: decimal run-sum minus rn*mean on one series exchange"),
    ("ts_integral_daily", "trapezoid integral: lag window + bucket agg share ONE series exchange (partitioning satisfies both)"),
    ("ts_mad_outliers", "MAD outliers: two exact-percentile windows + rollup on one series exchange"),
    ("ts_bollinger", "Bollinger bands: decimal moment sums in a row frame, one series exchange"),
    ("doc_dup_spans", "dup spans: md5 gram digests map-side, gram-partitioned count window + rollup — one gram exchange, no join, no pair blowup"),
    ("doc_winnowing", "winnowing: sliding min-hash selection as pure array exprs — zero exchanges"),
    ("emb_semantic_dedup_blas", "SemDeDup (production): ONE cell exchange into a blocked-BLAS matmul applyInPandas"),
    ("emb_semantic_dedup", "SemDeDup (exact gate twin): integer cell assignment, pair join re-spread by explicit repartition before the fold"),
    ("ts_ohlc_from_summaries", "OHLC rollup from the summary store: combine-only aggregate, ZERO leaf scans"),
    ("ts_distinct_users_hll_portable", "portable HLL: md5 registers, integer MAX merge + exact harmonic sum — all JVM exprs"),
    ("emb_ann_pq", "PQ ADC: byte codes + broadcast distance table, TakeOrderedAndProject"),
    ("doc_dup_span_scrub", "substring scrub: gram-partitioned first/count window + shuffle-pinned covered-position anti-join — linear, no pairs, nothing broadcastable"),
    ("ingest_upsert_merge", "upsert: union + one key-window keep-latest, no join"),
    ("ts_xcorr_lead_lag", "cross-correlation: count agg exchange, tiny post-agg lead window, integer moments"),
    ("ts_heavy_hitters_sketch", "Misra-Gries: mapInPandas partition summaries, <=k rows shuffled per partition"),
    ("ts_subsequence_match", "subsequence search: W-term lag chain + rank on one series exchange"),
    ("rel_order_value_deciles", "two-phase ntile: bucketed rank + broadcast histogram offsets, no ntile operator, no single-partition sort"),
    ("rel_rfm_segments", "3x two-phase ntile over the customer aggregate — every row-scale window partitioned"),
    ("doc_boilerplate_lines", "TakeOrdered-then-rank: unpartitioned window sees only the 20 survivors"),
    ("doc_curriculum_phases", "curriculum quartiles: two-phase ntile over quality scores at corpus scale"),
    ("sp_knn_grid", "grid KNN phase 2: bbox predicates reach PushedFilters, TakeOrdered(k)"),
    ("ingest_resp_roundtrip", "RESP parse: JVM split/slice/arrays_zip/explode — row-protocol zip, no Python"),
    ("ts_event_funnel", "windowed funnel: cumulative conditional-min windows stack on ONE user exchange, tiny stage histogram"),
    ("ingest_resp_events_roundtrip", "RESP event-body ingest: one parse pass emits value XOR body per element, all JVM exprs; PDU validity folded into the explode generator (r7: no Filter node, no scan-side re-parse)"),
    ("rel_q9_product_type_profit", "derived partsupp in-plan: part x range(4) broadcast cross, cents-decimal profit, dims broadcast"),
    ("rel_supplier_pagerank", "PageRank (small regime): one dispatch count + ONE Arrow task runs the whole integer loop"),
    ("doc_chunk_windows", "RAG chunking: explode(sequence) + substring, flatMap shape — zero exchanges"),
    ("ts_lttb", "exact-integer LTTB: one hash exchange, sequential kernel per series inside Arrow frames"),
    ("ts_retention_matrix", "retention matrix: one scan, one user exchange — cohort via whole-partition min window, no self-join"),
    ("ts_time_rollup", "time-hierarchy ROLLUP: single Expand into one partial->final cell aggregate"),
    ("rel_revenue_rollup", "region/nation ROLLUP: facts pre-aggregated to 25 cells BEFORE Expand; dims broadcast"),
    ("rel_supplier_pagerank", "exact PageRank: single edge-lineage eval, graph-scaled exchanges, broadcast ranks below 1M nodes (co-partitioned join above)"),
    ("ts_distinct_users_hll_rollup", "HLL rollup over MATERIALIZED register parquet: max-merge + exact integer harmonic sum, broadcast LC table — raw events never rescanned"),
    ("mm_image_features", "media features: Arrow-batched mapInPandas over binary payloads, exact-int mean/std emitted as plain doubles"),
    ("doc_quality_score", "quality features: tokens -> features -> score as THREE projections, tokenize evaluated once per row (r7: was 12 inlined copies)"),
    ("sp_od_matrix", "OD matrix: endpoints from min/max(ts) — TWO hash aggregates, no window, no self-join"),
    ("sp_quadkey_rollup", "multi-zoom density: coarse zoom re-aggregates fine-cell PARTIALS (exchange on the tiny fine aggregate, fact scanned once)"),
    ("ts_value_drift_kl", "KL drift: (metric,bin) agg + per-metric totals window + decimal term sum — one fact exchange"),
    # rel_part_triangles / rel_part_communities_lpa collect scalars or cut
    # lineage internally, so their top-level plans are LocalTableScan:
    # their internal plans are recorded by md() from _graph_internals
    ("mm_image_tiles", "patch stats: Arrow-batched mapInPandas, integer tile sums, zero exchanges"),
    ("ingest_malformed_quarantine", "PERMISSIVE quarantine: corrupt rows recover keys from the raw line, clean rows parse in the scan"),
    ("rel_abc_analysis", "Pareto ABC: two-phase bucket-histogram cumsum — the only unpartitioned window sits over the log2-band histogram"),
    ("emb_silhouette", "silhouette: broadcast centroid join, ONE vector-scale exchange (prefix-partitioning satisfies both groupings)"),
    ("rel_brand_revenue_share", "share-of-total: 1-row total aggregate crossJoin-broadcast back; rollup exchange reused under AQE, no window"),
    ("doc_char_entropy", "bigram entropy: single per-doc aggregate, no totals join"),
]


def _graph_internals(spark, sf):
    """The graph family's un-persisted internal plans: the registry
    callables materialize scalars / checkpoint per round, so these are
    what the persist fixes are verifiable against."""
    from stdb_spark.operators import graph
    from stdb_spark.workloads.relsuite import copurchase_edges

    edges = copurchase_edges(spark, sf)
    return [
        (
            "rel_part_triangles (internal: triangle_plan)",
            "degree-oriented wedge join: orientation (two deg joins), wedge self-join at the"
            " source, ONE closing probe, count — high-degree endpoints never enumerate"
            " wedges (intermediate bounded by m^1.5).  In triangle_count_exact the edge"
            " input and deg are persisted so the caller's edge lineage runs once.",
            graph.triangle_plan(edges),
        ),
        (
            "rel_part_communities_lpa (internal: lpa_round_plan)",
            "one distributed LPA round: ONE edge-label join + one (id,lbl) count exchange +"
            " one self-label union + one per-id window pick (count desc, lbl asc).  In"
            " label_propagation_exact the edge list is persisted, each round is cut with an"
            " eager localCheckpoint, and graphs under 20M edges take a single Arrow-kernel"
            " task instead.",
            graph.lpa_round_plan(edges),
        ),
    ]


def md(spark, args) -> int:
    sf = _beside_default("sf0.01")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out = [
        "# PLANS — physical plans of representative queries (sf0.01, AQE off to show codegen spans)",
        "",
        "Generated by `python tools/plans.py md`. `*(n)` prefixes mark",
        "whole-stage-codegen stages; see tests/test_plans.py for the asserted",
        "properties (pushdown, broadcast, partial aggregation, exchange reuse).",
        "An Engine query over a table under the Engine's 4 MB cut (every",
        "Engine-backed `ts_*` entry here) runs as one interpreted task:",
        "`Coalesce 1`, no exchange and no `*(n)` span (`engine._one_task`).",
        "",
    ]
    picked = zip(_entries(spark, sf, [name for name, _ in PICK]), PICK)
    for name, note, df in [(n, note, df) for (n, df), (_, note) in picked] + _graph_internals(spark, sf):
        if isinstance(df, Exception):
            raise df
        out.append(f"## {name}\n\n{note}\n\n```\n{_plan(df, 'executed').toString().strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    return 0


# ----------------------------------------------------------------- dump
def _dump_query_mix(spark, out: str, seeds: list[int], work: str) -> int:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
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
                text = _dump_text(getattr(engine, method)(j), d)
                _write(out, f"qm_s{seed}_{tag}{i:03d}_{q['kind']}", text)
                n += 1
    return n


def _write(out: str, name: str, text: str) -> None:
    with open(os.path.join(out, name + ".txt"), "w") as f:
        f.write(text)


def _pagerank_kernel_input(spark, sf):
    """The edge list feeding pagerank's single-task kernel, rebuilt
    exactly as relsuite._rel_pagerank builds it."""
    from pyspark.sql import functions as F

    from stdb_spark import model

    t = model.load_tables(spark, sf, ("orders", "lineitem"))
    pairs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(t["orders"].select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select((F.col("o_custkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst"))
        .distinct()
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _triangles_kernel_input(spark, sf):
    from stdb_spark.workloads import relsuite

    return relsuite.copurchase_edges(spark, sf)


KERNEL_INPUTS = {
    "rel_supplier_pagerank": _pagerank_kernel_input,
    "rel_part_triangles": _triangles_kernel_input,
}


def dump(spark, args) -> int:
    from stdb_spark import engine as engine_mod
    from stdb_spark.workloads import QUERIES

    seeds = [1, 2]
    if "--seeds" in args:
        i = args.index("--seeds")
        seeds = [int(s) for s in args[i + 1].split(",")]
        del args[i : i + 2]
    out, sf_dir, *names = args
    os.makedirs(out, exist_ok=True)
    n_qm = 0
    if not names:
        with tempfile.TemporaryDirectory() as work:
            n_qm = _dump_query_mix(spark, out, seeds, work)
        names = sorted(k for k in QUERIES if k.startswith("ts_"))
    called = []
    for meth in ("query", "search", "suggest"):
        orig = getattr(engine_mod.Engine, meth)

        def wrapped(self, q, _orig=orig):
            called.append(True)
            return _orig(self, q)

        setattr(engine_mod.Engine, meth, wrapped)
    n_engine = 0
    for name, df in _entries(spark, sf_dir, names):
        if isinstance(df, Exception):
            text = f"ERROR {type(df).__name__}: {df}"[:2000]
        else:
            text = _dump_text(df)
        head = "# engine\n" if called else ""
        n_engine += bool(called)
        called.clear()
        _write(out, name, head + text)
        if name in KERNEL_INPUTS:
            _write(out, f"{name}.kernel_input", _dump_text(KERNEL_INPUTS[name](spark, sf_dir)))
    print(f"query_mix plans: {n_qm}; entry plans: {len(names)} ({n_engine} call the Engine)")
    return 0


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


# ---------------------------------------------------------------- audit
# Three Catalyst behaviors make an expensive expression silently evaluate
# many times per row (all observed and fixed in r7): filter pushdown
# substitutes alias chains into scan-side predicates with no cost guard;
# InferFiltersFromGenerate synthesizes size(e) > 0 under explodes and
# pushdown inlines the generator input; higher-order functions block
# whole-stage codegen, so no subexpression elimination rescues an
# expression referenced N times in one projection.
WATCHED = (
    "split(",
    "regexp_replace(",
    "regexp_extract",
    "md5(",
    "sentences(",
    "transform(",
    "zip_with(",
    "aggregate(",
    "format_string(",
)

# "aggregate(" must mean the HOF *expression*, not physical operator
# names (HashAggregate(/ObjectHashAggregate(/SortAggregate( appear once
# per aggregation and would inflate every groupBy plan — r7 ADVICE).
# Count it only when not preceded by a letter.
_AGG_EXPR = re.compile(r"(?<![A-Za-z])aggregate\(")


def _count(plan: str, key: str) -> int:
    if key == "aggregate(":
        return len(_AGG_EXPR.findall(plan))
    return plan.count(key)


# An UNPARTITIONED window spec funnels its whole input through one task
# (VERDICT r10 directive #3): its first windowspecdefinition argument
# already carries an ASC/DESC ordering marker.  Every hit must be bounded
# (bucket histograms, TakeOrdered top-k pools, post-aggregate dim
# tables); sf-proportional hits are scale bugs.
_UNPART_WINDOW = re.compile(r"windowspecdefinition\([^,()]*#\d+[^,()]* (?:ASC|DESC) NULLS")


def audit(spark, args) -> int:
    from stdb_spark.workloads import QUERIES

    sf = args[0] if args else _beside_default("sf0.01")
    threshold = int(args[1]) if len(args) > 1 else 8
    flagged, unpart = [], []
    # streaming plans need a started sink
    for name, df in _entries(spark, sf, [n for n in QUERIES if not n.startswith("stream_")]):
        try:
            if isinstance(df, Exception):
                raise df
            plan = _plan(df, "executed").toString()
        except Exception as exc:  # report, don't die mid-sweep
            print(f"ERR {name}: {str(exc)[:100]}")
            continue
        hot = {k: _count(plan, k) for k in WATCHED if _count(plan, k) >= threshold}
        if hot:
            flagged.append((max(hot.values()), name, hot))
        nw = len(_UNPART_WINDOW.findall(plan))
        if nw:
            unpart.append((name, nw))
    flagged.sort(reverse=True)
    for _, name, hot in flagged:
        print(f"{name:40s} {hot}")
    print(f"{len(flagged)} entries with >= {threshold} copies of a watched construct")
    print(f"{len(unpart)} entries with an unpartitioned window spec:")
    for name, nw in sorted(unpart):
        print(f"  {name:40s} x{nw}")
    return 0


# ------------------------------------------------------------ broadcast
# The session raises spark.sql.autoBroadcastJoinThreshold to 64 MB (right
# for dimension joins), but Catalyst's static size estimate for a derived
# subtree (post-explode, -aggregate, -distinct) can be a wild
# under-estimate, and a statically chosen BroadcastHashJoin off a shuffle
# path is not demotable by AQE: invisible at sf0.1, a driver OOM at scale
# (doc_neardup_threshold_curve, r11 100x rehearsal).  A chosen broadcast
# always carries a small estimate, so the checkable property is
# provenance: a build side that reads a fact table must be bounded by
# construction (a scalar aggregate, a TakeOrdered pool) or pinned to a
# shuffle.  Streaming and write-path entries execute work when called, so
# they are skipped.
SKIP_PREFIXES = ("stream_", "ingest_")
FACT_TABLES = ("documents", "embeddings", "lineitem", "orders", "events", "customer")
BOUNDING = ("TakeOrderedAndProject", "CollectLimit", "GlobalLimit", "Limit")
# a build side that is a NARROW chain over a scan keeps an honest size
# estimate (Spark flips it to a shuffle itself once the table outgrows the
# threshold); row-count-transforming nodes make the estimate fiction
SCAN_ONLY = {
    "Scan parquet",
    "Scan parquet ",
    "Filter",
    "Project",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "ArrowEvalPython",
    "BatchEvalPython",
}


def _subtree_fact_info(node):
    """(fact sources read, bounding ops, scan_only, transforming ops)."""
    text = node.treeString()
    # parquet locations end in /<table>.parquet (testdata) or /<table>
    # (replica dirs); derived caches embed the table name in the dir
    facts = sorted(t for t in FACT_TABLES if re.search(rf"[/_]{t}(\.parquet)?[\],/]", text))
    bounds = sorted({b for b in BOUNDING if b in text})
    if re.search(r"HashAggregate\(keys=\[\]", text):
        bounds.append("ScalarAggregate")
    names = set()

    def _collect(n):
        names.add(n.nodeName())
        for i in range(n.children().size()):
            _collect(n.children().apply(i))

    _collect(node)
    transforming = sorted(n for n in names if n not in SCAN_ONLY and not n.startswith("WholeStageCodegen"))
    return facts, bounds, not transforming, transforming


def _walk(node, hits):
    # pre-preparation sparkPlan has no BroadcastExchange nodes yet: the
    # broadcast choice lives in the join node's buildSide
    name = node.nodeName()
    if "BroadcastHashJoin" in name or "BroadcastNestedLoopJoin" in name:
        side = node.buildSide().toString()
        child = node.children().apply(0 if side == "BuildLeft" else 1)
        est = None
        try:
            link = child.logicalLink()
            if link.isDefined():
                est = int(link.get().stats().sizeInBytes().toString())
        except Exception:
            pass
        hits.append((est, *_subtree_fact_info(child)))
    kids = node.children()
    for i in range(kids.size()):
        _walk(kids.apply(i), hits)


def _big_dir(args) -> str:
    return args[0] if args and os.path.isdir(args[0]) else ".cache/sf10"


def broadcast(spark, args) -> int:
    from stdb_spark.workloads import QUERIES

    big = _big_dir(args)
    names = (args[1:] if args and big == args[0] else args) or [
        n for n in QUERIES if not n.startswith(SKIP_PREFIXES)
    ]
    flagged, errs, n_bcast = [], [], 0
    t0 = time.perf_counter()
    for name, df in _entries(spark, big, names):
        try:
            if isinstance(df, Exception):
                raise df
            plan = _plan(df, "spark")
        except Exception as e:  # noqa: BLE001 - per-entry isolation
            errs.append((name, str(e).splitlines()[0][:120]))
            continue
        hits = []
        _walk(plan, hits)
        n_bcast += len(hits)
        fact_ones = [h for h in hits if h[1] and not h[3]]
        mark = ""
        if fact_ones:
            flagged.append((name, fact_ones))
            mark = " FLAG " + "; ".join(
                f"[{','.join(facts)}]"
                + (f" bounded-by {','.join(bounds)}" if bounds else " UNBOUNDED")
                + f" via {','.join(tr)}"
                + (f" est~{est / 1e6:.1f}MB" if est is not None else "")
                for est, facts, bounds, _, tr in fact_ones
            )
        print(f"{name:36s} {len(hits)} bcast ({time.perf_counter() - t0:5.2f}s){mark}", flush=True)
        t0 = time.perf_counter()
    print(
        json.dumps(
            {
                "n_entries": len(names),
                "n_broadcasts": n_bcast,
                "flagged": [
                    {
                        "name": n,
                        "subtrees": [{"est": e, "facts": f, "bounds": b, "via": tr} for e, f, b, _, tr in hits],
                    }
                    for n, hits in flagged
                ],
                "errors": [{"name": n, "err": e} for n, e in errs],
            }
        )
    )
    return 0


COMMANDS = {"md": md, "dump": dump, "audit": audit, "broadcast": broadcast}


def main() -> int:
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "compare":
        return compare(*args)
    if cmd == "broadcast":
        if not os.path.isdir(_big_dir(args)):
            raise SystemExit("run tools/gen_scale.py first")
        os.environ.setdefault("STDB_SPARK_DRIVER_MEM", "24g")
    from stdb_spark.session import get_spark

    spark = get_spark(f"plans-{cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return COMMANDS[cmd](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
