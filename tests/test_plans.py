"""Physical-plan regression tests: the optimizations we rely on at
100 TB must be visible in `.explain` output, not assumed.

Each assertion pins one scale property from README "Scale design":
filter/partition pushdown reaches the parquet scan, dimension joins
broadcast, aggregations keep map-side partials, the distributed
regime's hot paths stay inside whole-stage codegen (one-task Engine
tables run interpreted), and the dedup pipelines don't re-shuffle between
repartition and aggregation.
"""

import re

import pytest
from pyspark.sql import functions as F

from stdb_spark import model
from stdb_spark.profile import Profiler
from stdb_spark.workloads import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_formatted(df) -> str:
    """Full-width formatted plan — toString() truncates long filter
    lists with '...', hiding the pushed predicates under test."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_select_pushes_filters_to_scan(spark):
    df = QUERIES["ts_select_range"](spark, SF)
    plan = _plan_formatted(df)
    # ts range + metric predicates must reach the parquet scan — even
    # under the µs-truncation adapter, via the coarse ts_src bounds
    # (NB+tree time-descent parity, stdb/storage/nbtree.cc:471-616).
    # The physical ts column has shipped as int64-ns and TIMESTAMP(MICROS)
    # across testdata generations; accept the pushed form of either.
    # The coarse bounds are SYMMETRICALLY slack-widened (|ts - ts_src|
    # <= ts_slack_ns), so the pushed literals sit one slack below
    # 2024-01-05 / above 2024-01-15.
    assert "PushedFilters:" in plan
    assert (
        "GreaterThanOrEqual(ts,170441279" in plan
        or "GreaterThanOrEqual(ts,2024-01-04T23:59:59" in plan
    ), plan
    assert (
        "LessThan" in plan
        and ("(ts,170527680" in plan or "(ts,2024-01-15T00:00:00" in plan)
    ), plan
    assert "EqualTo(event_type,click)" in plan, plan


def test_select_prunes_columns(spark):
    df = QUERIES["ts_select_range"](spark, SF)
    plan = _plan(df)
    # narrow projection: the scan must not read the full events schema
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "props" not in scan[0]


def test_dim_joins_broadcast(spark):
    # at sf0.001 every table fits the broadcast threshold; the property
    # that must hold at any SF is that the dimension joins broadcast
    plan = _plan(QUERIES["rel_q5_local_supplier_volume"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_aggregate_has_partial_stage(spark):
    plan = _plan(QUERIES["ts_group_aggregate"](spark, SF))
    assert "HashAggregate" in plan
    assert "partial_" in plan  # map-side combine before the exchange


def test_group_aggregate_single_shuffle(spark):
    """group-aggregate = exactly one exchange for the agg (plus at most
    one for the requested output ordering)."""
    df = QUERIES["ts_group_aggregate"](spark, SF)
    plan = _plan(df)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 3, f"too many shuffles:\n{plan}"


def test_join_pivot_is_single_pivot_not_selfjoin(spark):
    plan = _plan(QUERIES["ts_join_pivot"](spark, SF))
    # alignment by pivot: no join operator should appear at all
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_join_pivot_small_input_plans_no_exchange(spark):
    # one conditional max per metric: one aggregation over the small
    # table's one partition, so neither it nor the sort needs an exchange
    plan = _plan(QUERIES["ts_join_pivot"](spark, SF))
    assert "Exchange" not in plan, plan
    assert plan.index("HashAggregate") < plan.index("Coalesce 1"), plan


def test_join_pivot_forced_range_single_hash_exchange_below_sort(spark):
    # the distributed regime: one conditional max per metric is one
    # aggregation, so one hash exchange (a pivot plans two) below the sort
    forced = spark.newSession()
    forced.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    plan = _plan(QUERIES["ts_join_pivot"](forced, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Coalesce" not in plan, plan
    assert plan.index("Sort [") < plan.index("Exchange hashpartitioning"), plan


_SELECT_CLICK = {"select": "click", "range": {"from": 1704412800000000000, "to": 1705276800000000000}}

_CODEGEN_STAGE = re.compile(r"\*\(\d+\) ")
_HOUR = 3600 * 10**9


def _hourly_click(lo: int) -> dict:
    return {
        "group-aggregate": {"step": _HOUR, "metric": "click", "func": ["sum", "max"]},
        "range": {"from": lo, "to": 1705276800000000000},
    }


def test_small_engine_select_sorts_in_one_job(spark):
    """A small result sorts in one task: no range exchange, so no
    RangePartitioner sample job re-running the scan — one job total."""
    from stdb_spark.engine import Engine

    eng = Engine(spark, samples=model.events_as_samples(spark, SF, keep_src=True))
    df = eng.query(_SELECT_CLICK)
    assert "rangepartitioning" not in _plan(df), _plan(df)
    rows = []
    rec = Profiler(spark).run(lambda: rows.extend(df.collect()))
    assert rows
    assert rec["jobs"] == 1


def test_forced_range_session_keeps_range_sort(spark):
    # threshold <= 0 is the distributed regime, whatever the input size
    from stdb_spark.engine import Engine

    forced = spark.newSession()
    forced.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    eng = Engine(forced, samples=model.events_as_samples(forced, SF, keep_src=True))
    plan = _plan(eng.query(_SELECT_CLICK))
    assert "rangepartitioning" in plan, plan


def test_table_over_one_task_cut_keeps_range_sort(spark, monkeypatch):
    # the one task would scan the whole table: above the cut the scan
    # stays spread over the range sort's tasks, on the caller's session
    # and compiled
    from stdb_spark import engine

    monkeypatch.setattr(engine, "_ONE_TASK_BYTES", 1024)
    eng = engine.Engine(spark, samples=model.events_as_samples(spark, SF, keep_src=True))
    df = eng.query(_SELECT_CLICK)
    assert "rangepartitioning" in _plan(df), _plan(df)
    assert df.sparkSession is spark
    assert df.collect()
    assert _CODEGEN_STAGE.search(_plan(df)), _plan(df)


def test_minhash_agg_reuses_repartition_exchange(spark):
    docs = model.load_table(spark, SF, "documents")
    from stdb_spark.functions import dedup

    plan = _plan(dedup.minhash_signatures(docs))
    # repartition(key) feeds groupBy(key): exactly one exchange total
    assert plan.count("Exchange") == 1, plan


def test_events_regex_pushed_into_scan_stage(spark):
    """The body regex must evaluate in the same Filter as the scan-side
    predicates (BinaryDataFilter parity) — not after a sort/limit."""
    df = QUERIES["ts_select_events_regex"](spark, SF)
    plan = _plan(df)
    filters = [l for l in plan.splitlines() if l.strip().startswith("+- Filter") or l.strip().startswith("Filter")]
    assert any("props" in l for l in filters), plan


def test_whole_stage_codegen_covers_hot_path(spark):
    # the distributed regime (tables above the one-task cut, forced by a
    # threshold <= 0) keeps whole-stage codegen; a one-task table runs
    # interpreted (test_one_task_engine_compiles_no_class).  AQE prints
    # `isFinalPlan=false` without codegen stage markers until execution;
    # disable it for this one plan to see the `*(n)` spans
    forced = spark.newSession()
    forced.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    forced.conf.set("spark.sql.adaptive.enabled", "false")
    plan = _plan(QUERIES["ts_group_aggregate"](forced, SF))
    assert "*(1)" in plan, plan


def test_one_task_engine_compiles_no_class(spark):
    """A query over a one-task table runs interpreted: no whole-stage
    span in its executed plan, and a second query of the same shape
    with new literals (which a compiled plan inlines) compiles no class.
    ``spark.sql.codegen.factoryMode`` is an internal conf; this is the
    test that catches a Spark upgrade that drops it."""
    from stdb_spark.engine import Engine

    eng = Engine(spark, samples=model.events_as_samples(spark, SF, keep_src=True))
    first = eng.query(_hourly_click(1704412800000000000))
    assert first.collect()
    assert not _CODEGEN_STAGE.search(_plan(first)), _plan(first)
    rows = []
    rec = Profiler(spark).run(
        lambda: rows.extend(eng.query(_hourly_click(1704412800000000000 + _HOUR)).collect())
    )
    assert rows
    assert rec["classes"] == 0


def test_engine_leaves_caller_codegen_confs(spark):
    from stdb_spark.engine import Engine

    keys = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

    def codegen_confs():
        confs = {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.codegen.")}
        return confs, [spark.conf.get(k) for k in keys]

    before = codegen_confs()
    eng = Engine(spark, samples=model.events_as_samples(spark, SF, keep_src=True))
    eng.query(_hourly_click(1704412800000000000)).collect()
    eng.query(_SELECT_CLICK).collect()
    assert codegen_confs() == before


def test_one_task_queries_keep_caller_runtime_confs(spark):
    # the interpreted session is a clone of the caller: a conf the
    # caller set at runtime, before the Engine was built, holds there
    from stdb_spark.engine import Engine

    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    eng = Engine(caller, samples=model.events_as_samples(caller, SF, keep_src=True))
    session = eng.query(_SELECT_CLICK).sparkSession
    assert session is not caller
    assert session.conf.get("spark.sql.shuffle.partitions") == "7"
    assert session.conf.get("spark.sql.codegen.wholeStage") == "false"


def test_prune_range_partition_filters(spark, tmp_path):
    from stdb_spark.sources import storage

    samples = model.events_as_samples(spark, SF)
    path = str(tmp_path / "t")
    storage.write_samples(samples, path)
    lo = samples.agg(F.min("ts")).first()[0]
    pruned = storage.prune_range(spark.read.parquet(path), lo, lo + 86400 * 10**9)
    plan = _plan(pruned)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "day" in pf[0]


def test_engine_ts_range_pushdown_untruncated(spark):
    """The production engine path (no oracle µs-truncation adapter) must
    push the ts range into the parquet scan for row-group skipping."""
    from stdb_spark import model
    from stdb_spark.engine import Engine

    samples = model.events_as_samples(spark, SF, keep_src=True)
    eng = Engine(spark, samples=samples)
    df = eng.query(
        {"select": "click", "range": {"from": 1704412800000000000, "to": 1705276800000000000}}
    )
    plan = _plan(df)
    # FileScan metadata strings are width-truncated; match the prefix
    # (long-ns or timestamp physical column, by testdata generation)
    assert (
        "GreaterThanOrEqual(ts,170441280" in plan
        or "GreaterThanOrEqual(ts,2024-01-0" in plan
    ), plan


def test_engine_over_layout_prunes_partitions(spark):
    """Engine range + metric binding over the production layout must
    become directory-level PartitionFilters (day + metric) with the ts
    bounds still pushed to row groups."""
    plan = _plan_formatted(QUERIES["ts_select_partitioned_layout"](spark, SF))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, plan
    assert "day" in pf[0] and "metric" in pf[0], pf[0]
    assert "GreaterThanOrEqual(ts," in plan


def test_hash_sample_no_shuffle(spark):
    df = QUERIES["doc_hash_sample"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_contamination_benchmark_broadcasts(spark):
    df = QUERIES["doc_contamination"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # only the final (doc, bench) pair-count aggregation shuffles; the
    # corpus postings side must never hash-exchange before the join
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_frequent_items_no_keyless_window(spark):
    # the share threshold must come from a broadcast scalar, not a
    # Window.partitionBy() that funnels all rows through one task
    for name in ("ts_frequent_items", "ts_heavy_hitters"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Window" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
            name,
            plan,
        )


def test_q7_all_dims_broadcast(spark):
    plan = _plan(QUERIES["rel_q7_volume_shipping"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_gapfill_grid_no_collect_shape(spark):
    # grid join + two window passes; no cartesian, no single-partition
    # exchange beyond the windows' per-series partitioning
    plan = _plan(QUERIES["ts_gapfill_interpolate"](spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_gapfill_two_exchanges_no_grid_join(spark):
    # the lead()-anchor rewrite: bucket agg + one series window, grid
    # generated map-side — any Join node or third exchange is a
    # regression back to the materialized-grid design
    plan = _plan(QUERIES["ts_gapfill_interpolate"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_pack_sequences_single_exchange_no_join(spark):
    plan = _plan(QUERIES["doc_pack_sequences"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_contamination_join_key_is_long_not_string(spark):
    # the gram join key must stay xxhash64 (8-byte long) — md5 hex
    # strings quadruple the broadcast and shuffle width
    plan = _plan(QUERIES["doc_contamination"](spark, SF))
    assert "xxhash64" in plan


def test_stream_enrich_static_side_broadcasts(spark):
    # stream-static enrich compiles to a broadcast hash join per
    # micro-batch; assert on the batch twin of the same transform
    from stdb_spark.streaming.ingest import streaming_enrich

    s = model.events_as_samples(spark, SF).withColumn(
        "_uid", F.col("tags")["user"].cast("long")
    )
    cust = model.load_table(spark, SF, "customer").select(
        F.col("c_custkey").cast("long").alias("_ck"), "c_mktsegment"
    )
    plan = _plan(streaming_enrich(s, cust, F.col("_uid") == F.col("_ck")))
    assert "BroadcastHashJoin" in plan


def test_c4_line_filter_zero_shuffles(spark):
    # line split, per-line predicate, re-join, doc gate: all map-side —
    # any exchange means the array ops fell out of the scan stage
    plan = _plan(QUERIES["doc_c4_line_filter"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_source_mixture_zero_shuffles(spark):
    # weight CASE chain + hash draw + explode(sequence): map-side only
    plan = _plan(QUERIES["doc_source_mixture"](spark, SF))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_length_buckets_single_exchange_partial_agg(spark):
    # CASE-ladder bucketing: one exchange, map-side partial aggregation
    plan = _plan(QUERIES["doc_length_buckets"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "HashAggregate" in plan


def test_ann_int8_take_ordered_no_shuffle(spark):
    # quantized scoring is map-side; top-k via TakeOrdered, no global sort
    plan = _plan(QUERIES["emb_ann_int8"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_ngram_novelty_no_postings_self_join(spark):
    # novelty must come from the (count, min-doc) aggregate — joining
    # the exploded postings back on the shingle key would shuffle the
    # full postings twice.  The only shingle-keyed exchange is the one
    # feeding the ownership aggregate.
    plan = _plan(QUERIES["doc_ngram_novelty"](spark, SF))
    assert plan.count("Exchange hashpartitioning(shingle") == 1


def test_integral_single_exchange_with_partial_agg(spark):
    # ONE exchange total: hashpartitioning(series) for the lag window
    # already satisfies the (series, bucket) aggregate's clustering
    # (every bucket of a series is co-located), so Catalyst plans
    # partial+final HashAggregate with NO second exchange
    df = QUERIES["ts_integral_daily"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_mad_outliers_single_series_exchange(spark):
    # both percentile windows and the rollup share ONE series exchange
    df = QUERIES["ts_mad_outliers"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_bollinger_single_series_exchange(spark):
    df = QUERIES["ts_bollinger"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_winnowing_zero_shuffles(spark):
    # pure map-side array expressions: no exchange anywhere
    df = QUERIES["doc_winnowing"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan


def test_dup_spans_no_pair_blowup_shape(spark):
    # two hash exchanges (gram count + per-doc rollup) and NO
    # generate-after-join: a hot gram must never fan out into pairs
    df = QUERIES["doc_dup_spans"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 3  # count, join, rollup
    assert "CartesianProduct" not in plan


def test_semantic_dedup_single_cell_exchange(spark):
    # the PRODUCTION (BLAS) kernel keeps the matmul rewrite: ONE
    # exchange (hash by cell) into the Arrow applyInPandas — the old
    # self-join had join build/probe exchanges.  Asserted on the kernel
    # directly: the registry entry is now the verdict gate (r10 task
    # #2b), whose plan necessarily joins the two twins' outputs.
    from stdb_spark import model
    from stdb_spark.functions import similarity
    from stdb_spark.workloads.docsuite import _KMQ, _SEMDEDUP_T, _semdedup_centroids

    spark_sf = SF
    emb, cents = _semdedup_centroids(spark, spark_sf)
    df = similarity.semantic_dedup_pairs(
        emb, [[c / _KMQ for c in cc] for cc in cents], threshold=_SEMDEDUP_T
    )
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    # the GATE (exact-oracle) twin pairs within cells via a cell-keyed
    # join of two branches — its exchanges stay keyed by cell, never a
    # cross join; the verdict gate composes both without a cartesian
    plan2 = _plan(QUERIES["emb_semantic_dedup"](spark, SF))
    assert "CartesianProduct" not in plan2 and "BroadcastNestedLoop" not in plan2
    plan3 = _plan(QUERIES["emb_semantic_dedup_blas"](spark, SF))
    assert "CartesianProduct" not in plan3


def test_term_lookup_pushes_term_filter_to_scan(spark):
    # the inverted-index artifact answers term lookups from pruned row
    # groups: the term predicate must reach PushedFilters
    df = QUERIES["doc_term_lookup"](spark, SF)
    plan = _plan_formatted(df)
    assert "PushedFilters:" in plan
    assert "term" in plan.split("PushedFilters:")[1][:200]


def test_sliding_aggregate_single_exchange_no_join(spark):
    df = QUERIES["ts_sliding_group_aggregate"](spark, SF)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_alert_hysteresis_single_series_exchange(spark):
    plan = _plan(QUERIES["ts_alert_hysteresis"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_hourofweek_single_exchange_partial_agg(spark):
    plan = _plan(QUERIES["ts_hourofweek_profile"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan


def test_span_scrub_no_cartesian_bounded_exchanges(spark):
    plan = _plan(QUERIES["doc_dup_span_scrub"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_takeordered_no_global_sort(spark):
    df = QUERIES["doc_bm25_search"](spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_char_entropy_single_per_doc_aggregate(spark):
    # VERDICT r10 directive #6, tightened by the r11 optimization: the
    # whole bigram count + entropy now runs as ONE map-side Arrow
    # kernel (numpy np.unique per doc) — no totals join, no exploded
    # bigram stream, and NO exchange at all between the scan and the
    # per-doc output rows
    df = QUERIES["doc_char_entropy"](spark, SF)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "MapInPandas" in plan


def test_silhouette_broadcast_centroids_one_data_exchange(spark):
    # VERDICT r10 directive #6: centroids broadcast into the distance
    # join (never a shuffled join), and the n*k distance partials cross
    # the wire ONCE — the explicit (vec_id, vlabel) repartition hash-
    # satisfies both downstream groupings, so Catalyst inserts no
    # second vector-keyed exchange.  The remaining exchanges are
    # label-scale (centroid table, final per-label rollup).
    import re

    df = QUERIES["emb_silhouette"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    vec_scale = [k for k in keys if "vec_id" in k]
    assert len(vec_scale) == 1, keys


def test_mg_sketch_uses_map_in_pandas(spark):
    # the gate entry folds the MG summary through the verdict aggregate
    # but must still run the Arrow-batched sketch kernel, never a
    # per-row UDF; the production top-k form keeps the TakeOrdered
    # (per-partition top-k, no global sort of the merged summary)
    df = QUERIES["ts_heavy_hitters_sketch"](spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan
    from pyspark.sql import functions as F

    from stdb_spark import model
    from stdb_spark.operators.sketch import misra_gries_topk

    items = model.events_as_samples(spark, SF).select(
        F.concat(F.col("metric"), F.lit(" user="), F.col("tags")["user"]).alias(
            "series"
        )
    )
    plan2 = _plan(misra_gries_topk(items, "series", k=64, top=10))
    assert "MapInPandas" in plan2 and "TakeOrderedAndProject" in plan2


def test_deciles_rfm_no_global_ntile_window(spark):
    # VERDICT r3 #3: ntile over the whole table = one task sorting
    # everything.  The two-phase rewrite (operators/ranks.py) computes
    # the tile arithmetically from a bucketed rank — no ntile operator
    # may appear anywhere in the plan, and every Window must either be
    # partitioned or sit above the #buckets histogram aggregate.
    for name in ("rel_order_value_deciles", "rel_rfm_segments"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "ntile" not in plan, name
        # phase-2 offsets broadcast back: no row-scale shuffle join
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_basket_boilerplate_take_ordered_rank(spark):
    # VERDICT r3 #3: the unpartitioned rank may only see the k
    # TakeOrdered survivors, never the aggregate table.
    for name in ("rel_basket_pairs", "doc_boilerplate_lines"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, name


def test_knn_grid_bbox_pushes_to_scan(spark, tmp_path):
    # VERDICT r3 #4: with PHYSICAL lon/lat columns both knn_grid phases
    # are plain range predicates that must reach the parquet scan as
    # PushedFilters (the workload variant derives lon/lat from user_id,
    # so pushdown is only provable on a materialized table).
    import pyspark.sql.functions as F2

    from stdb_spark.operators.spatial import knn_grid

    pts = spark.range(2000).select(
        F2.col("id").alias("pid"),
        (F2.pmod(F2.col("id") * 37, F2.lit(1000)) / 100.0).alias("lon"),
        (F2.pmod(F2.col("id") * 91, F2.lit(1000)) / 100.0).alias("lat"),
    )
    path = str(tmp_path / "pts.parquet")
    pts.write.parquet(path)
    tbl = spark.read.parquet(path)
    res = knn_grid(tbl, 5.0, 5.0, 7, cell_deg=1.0, tie_break="pid")
    plan = _plan_formatted(res)
    assert "GreaterThanOrEqual(lon," in plan, plan
    assert "LessThan(lat," in plan, plan
    assert len(res.collect()) == 7


def test_colocated_join_no_exchange(spark):
    # Bucketed fact-fact join (sources/bucketing.py): both inputs are
    # hash-clustered on the join key at write time, so the join phase
    # must carry NO shuffle — the only Exchange allowed in the plan is
    # the post-join aggregation's.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["rel_colocated_join"](spark, SF)
        plan = _plan(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # count exchanges BELOW the join operator: bucket co-location
        # means zero (the agg's exchange sits above the join)
        below = plan[plan.index("Join"):]
        assert below.count("Exchange hashpartitioning") == 0, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    # session.py enables runtime bloom-filter injection: a selective
    # filter on orders must add a might_contain() pre-filter to the
    # lineitem scan, pruning the big side of a fact-fact join before
    # the shuffle.  The size thresholds are lowered because the test
    # tables are far below the production defaults (10 GB application
    # side); a real deployment keeps the defaults.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = model.load_table(spark, SF, "lineitem")
        o = model.load_table(spark, SF, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_one_fat_user_exchange(spark):
    # The funnel's three stage-resolution windows and the per-user
    # aggregate must all ride ONE hashpartitioning(u) — no self-joins,
    # no second scan.  The remaining exchanges run over the <=4-row
    # stage histogram.
    df = QUERIES["ts_event_funnel"](spark, SF)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning(u#") == 1, plan


def test_retention_one_scan_one_fat_exchange(spark):
    # Cohort resolution via whole-partition min window — NOT a
    # groupBy+join back, which would scan events twice.
    df = QUERIES["ts_retention_matrix"](spark, SF)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning(u#") == 1, plan
    assert "Join" not in plan, plan


def test_transitions_single_lag_exchange(spark):
    df = QUERIES["ts_event_transitions"](spark, SF)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning(u#") == 1, plan


def test_rollup_expand_single_aggregate_exchange(spark):
    # ROLLUP must lower to one Expand + one hash-aggregate exchange of
    # cells (map-side partials), never one scan per grouping level.
    for name in ("rel_revenue_rollup", "ts_time_rollup"):
        plan = _plan(QUERIES[name](spark, SF))
        assert plan.count("Expand") >= 1, (name, plan)
        assert plan.count("partial_count") == 1, (name, plan)
    # the events-side rollup is a single-scan single-exchange plan
    plan = _plan(QUERIES["ts_time_rollup"](spark, SF))
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_versioned_read_pushes_filters_to_scan(spark, tmp_path):
    # time travel resolves to a plain parquet scan — predicate pushdown
    # and column pruning must survive the indirection
    from stdb_spark.sources import versioned

    root = str(tmp_path / "vt")
    versioned.write_version(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v", "'x' AS pad"),
        root,
    )
    df = versioned.read_version(spark, root).filter("k > 50").select("k", "v")
    plan = _plan_formatted(df)
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,50)]" in plan, plan
    assert "pad" not in plan.split("ReadSchema:")[1][:120], plan


def test_ohlc_from_summaries_no_leaf_scan(spark):
    # the OHLC summary rollup must read ONLY the summary-store parquet —
    # zero scans of the leaf events/samples relation (VERDICT r4 #7)
    plan = _plan(QUERIES["ts_ohlc_from_summaries"](spark, SF))
    assert plan.count("FileScan") >= 1, plan
    assert "summaries" in plan and "events.parquet" not in plan, plan


def test_summary_combine_plain_min_max_plans_hash_aggregate(spark):
    # min/max combine as plain min/max over the bucket partials, so a
    # summary-path aggregate that asks for no first/last/*_timestamp
    # plans a HashAggregate and sorts only its output
    from stdb_spark.workloads.tssuite import JAN05, JAN15, _engine_with_summaries

    eng = _engine_with_summaries(spark, SF)
    funcs = ["min", "max", "mean", "count"]
    q = {"aggregate": {"click": funcs}, "range": {"from": JAN05, "to": JAN15}}
    df = eng.query(q)
    assert "bucket_ts" in df._jdf.queryExecution().optimizedPlan().toString()
    plan = _plan(df)
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan
    sorts = [line for line in plan.splitlines() if "Sort [" in line]
    assert sorts and all("], true, 0" in line for line in sorts), plan
    # min_timestamp reads the (value, ts) anchor: a struct buffer, which
    # a HashAggregate cannot hold
    q["aggregate"]["click"] = funcs + ["min_timestamp"]
    assert "SortAggregate" in _plan(eng.query(q))


def test_group_aggregate_join_from_summaries_no_leaf_scan(spark):
    # single-func group-aggregate-join combines + pivots summaries:
    # same no-leaf-scan property as the aggregate/OHLC pushdowns
    from stdb_spark.workloads.tssuite import D1, JAN05, JAN15, _engine_with_summaries

    eng = _engine_with_summaries(spark, SF)
    df = eng.query(
        {
            "group-aggregate-join": {
                "step": 2 * D1,
                "metric": ["click", "error"],
                "func": "max",
            },
            "range": {"from": JAN05, "to": JAN15},
        }
    )
    plan = _plan(df)
    assert "summaries" in plan and "events.parquet" not in plan, plan


# ----------------------------------------------------------------------
# Bounded-window discipline (r5 VERDICT "what's wrong" #4): every
# UNPARTITIONED window in the engine must run over a structurally
# bounded input — a post-aggregate table (bucket histogram / daily
# rollup) or a top-k Limit — never over raw fact rows.  The helper
# walks the optimized logical plan: for each Window node with an empty
# partition spec, its child subtree must contain an Aggregate or a
# Limit-family node.  A contributor adding a bare global window over
# raw rows fails this test mechanically.

def _unpartitioned_windows_bounded(df):
    """[(window_line, bounded?)] for every partition-less Window node
    in the optimized logical plan."""
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = txt.splitlines()

    def depth(s: str) -> int:
        i = 0
        while i < len(s) and s[i] in " :+-":
            i += 1
        return i

    def brackets(s: str) -> int:
        # top-level [..] groups of the node's argument list
        lvl, groups = 0, 0
        for ch in s:
            if ch == "[":
                if lvl == 0:
                    groups += 1
                lvl += 1
            elif ch == "]":
                lvl -= 1
        return groups

    out = []
    for i, line in enumerate(lines):
        body = line.lstrip(" :+-")
        if not body.startswith("Window "):
            continue
        # Window [funcs], [partitionSpec], [orderSpec] — two top-level
        # bracket groups means NO partition spec
        if brackets(body) >= 3:
            continue
        d = depth(line)
        bounded = False
        for sub in lines[i + 1 :]:
            if depth(sub) <= d:
                break
            node = sub.lstrip(" :+-")
            if node.startswith(("Aggregate", "GlobalLimit", "LocalLimit")):
                bounded = True
                break
        out.append((body.split("]")[0] + "]", bounded))
    return out


def _bw_ranks_row_number(spark):
    from stdb_spark.operators import ranks

    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    )
    return ranks.two_phase_row_number(
        df, [F.col("v"), F.col("id")], F.col("v")
    )


def _bw_ranks_ntile(spark):
    from stdb_spark.operators import ranks

    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    )
    return ranks.two_phase_ntile(df, 4, [F.col("v"), F.col("id")], F.col("v"))


def _bw_top_k(spark):
    from stdb_spark.operators import ranks

    df = spark.range(100).select(F.col("id"), (F.col("id") % 9).alias("v"))
    return ranks.top_k_ranked(df, [F.col("v").desc(), F.col("id")], 5)


def _bw_peak_concurrency(spark):
    from stdb_spark.operators import behavior

    df = spark.createDataFrame(
        [(1, 0, 10), (2, 5, 20)], "id long, session_start long, session_end long"
    )
    return behavior.peak_concurrency(df, bucket=100)


def _bw_lagged_xcorr(spark):
    from stdb_spark.operators import behavior

    raw = spark.range(1000).select(
        (F.col("id") % 30).alias("b"), F.col("id")
    )
    daily = raw.groupBy("b").agg(
        F.count("*").alias("x"), F.sum("id").alias("y")
    ).select(F.col("b").alias("ts"), "x", "y")
    return behavior.lagged_cross_correlation(daily, max_lag=3)


import pytest as _pytest  # noqa: E402


@_pytest.mark.parametrize(
    "build",
    [
        _bw_ranks_row_number,
        _bw_ranks_ntile,
        _bw_top_k,
        _bw_peak_concurrency,
        _bw_lagged_xcorr,
    ],
    ids=[
        "two_phase_row_number",
        "two_phase_ntile",
        "top_k_ranked",
        "peak_concurrency",
        "lagged_cross_correlation",
    ],
)
def test_unpartitioned_windows_have_bounded_inputs(spark, build):
    df = build(spark)
    wins = _unpartitioned_windows_bounded(df)
    assert wins, "expected at least one unpartitioned window in this plan"
    for line, bounded in wins:
        assert bounded, f"unbounded global window over raw rows: {line}"


def test_no_inferred_generate_filters_reparse_scan(spark):
    """r7 regression: InferFiltersFromGenerate + pushdown used to inline
    the full tokenize / parse chain into scan-side predicates (x16
    copies).  With the rule excluded and validity folded into the
    generators, each expensive construct appears a bounded number of
    times in the plan."""
    from stdb_spark import model
    from stdb_spark.workloads import QUERIES

    model.ensure_session_confs(spark)
    sf = "/root/testdata/sf0.001"
    for name, cap in [
        ("doc_simhash", 4),
        ("doc_minhash_lsh_candidates", 4),
        ("ingest_resp_events_roundtrip", 4),
        ("doc_quality_score", 4),
    ]:
        plan = (
            QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = plan.count("split(regexp_replace(") + plan.count("split(replace(")
        assert n <= cap, (name, n)


def test_od_matrix_two_hash_aggregates_no_window(spark):
    """sp_od_matrix derives endpoints from min/max(ts), not a window:
    the plan must carry exactly the user-day and cell-pair aggregates
    (2 exchange levels) and no Window operator."""
    from stdb_spark import model
    from stdb_spark.workloads import QUERIES

    model.ensure_session_confs(spark)
    plan = (
        QUERIES["sp_od_matrix"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_quadkey_rollup_scans_fact_once(spark):
    """The coarse zoom re-aggregates the fine partials: both union
    branches read the eagerly-materialized fine aggregate (two scans of
    the checkpointed RDD), never a second pass over the fact table —
    the localCheckpoint cuts lineage, so the fact FileScan does not
    appear in the returned plan at all (it ran exactly once, at
    checkpoint time; r9: was a session-pinned persist)."""
    from stdb_spark import model
    from stdb_spark.workloads import QUERIES

    model.ensure_session_confs(spark)
    plan = (
        QUERIES["sp_quadkey_rollup"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") == 2
    assert "FileScan" not in plan


def test_triangle_wedges_never_enumerate_at_hubs(spark):
    """Degree orientation: a star hub of degree d contributes ZERO
    wedge rows (the hub is every edge's high end), so the wedge join
    input stays linear even with one huge hub."""
    from stdb_spark.operators.graph import triangle_count_exact

    edges = [(0, i) for i in range(1, 100)]
    df = spark.createDataFrame(edges, "a long, b long")
    row = triangle_count_exact(df).collect()[0]
    # the census itself: no triangles, wedges reported from RAW degrees
    assert row.n_triangles == 0
    assert row.n_wedges == 99 * 98 // 2


def test_minhash_estimate_sig_joins_never_broadcast(spark):
    """The candidate->signature lookups in minhash_jaccard_estimate /
    bbit_minhash_estimate join two corpus-proportional inputs (the
    banded pair set and the signature table).  Catalyst's static
    estimate for both derived subtrees lands under the session's 64 MB
    broadcast threshold, and the statically chosen BroadcastHashJoin is
    not demotable by AQE — observed as a driver OOM ("Not enough memory
    to build and broadcast the table") on doc_neardup_threshold_curve
    at the r11 100x rehearsal.  The shuffle_hash pin must hold: both
    signature lookups plan as ShuffledHashJoin, at every scale."""
    from stdb_spark.functions import dedup

    docs = model.load_table(spark, SF, "documents")
    sigs = dedup.minhash_signatures(docs)
    cands = dedup.minhash_lsh_candidates(sigs)
    for est in (
        dedup.minhash_jaccard_estimate(sigs, cands),
        dedup.bbit_minhash_estimate(sigs, cands, b=2),
    ):
        plan = _plan(est)
        assert plan.count("ShuffledHashJoin") >= 2, plan


def test_salted_join_never_broadcasts(spark):
    """salted_join exists to spread hot keys over SHUFFLE partitions;
    a broadcast of the salt-replicated right side would silently strip
    the mitigation while paying x`buckets` build bloat.  The shuffle
    pin must hold at every size."""
    from stdb_spark.functions.skew import salted_join

    left = spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    right = spark.range(100).select(F.col("id").alias("k"), F.lit(2).alias("w"))
    plan = _plan(salted_join(left, right, ["k"], buckets=4))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_logprob_model_is_the_broadcast_build_side(spark):
    """bigram_logprob / importance_logratio broadcast their LM table by
    contract (model-sized).  Left unpinned, Catalyst's static estimate
    chose the exploded DOC/TOKEN side as the build — corpus x tokens
    rows, an OOM at scale (tools/plans.py broadcast, 100x replica).
    The explicit model broadcast must keep exactly one broadcast join
    whose build side aggregates the model, with the exploded corpus
    side never broadcast."""
    from stdb_spark.functions import text

    docs = model.load_table(spark, SF, "documents")
    def build_sides(df):
        out = []

        def walk(n):
            if "BroadcastHashJoin" in n.nodeName():
                side = n.buildSide().toString()
                out.append(n.children().apply(0 if side == "BuildLeft" else 1))
            for i in range(n.children().size()):
                walk(n.children().apply(i))

        walk(df._jdf.queryExecution().sparkPlan())
        return out

    for df in (
        text.bigram_logprob(docs),
        text.importance_logratio(docs, (F.col("doc_id") % 2 == 0)),
    ):
        builds = build_sides(df)
        assert builds, "expected the declared model broadcast"
        for b in builds:
            tree = b.treeString()
            # every build side aggregates (the model table); the bare
            # doc-side explode has no aggregate below it
            assert "HashAggregate" in tree, tree


def test_dup_span_profile_single_gram_exchange_no_join(spark):
    """The corpus-wide span count reaches each span via a
    gram-partitioned window — no groupBy + join-back (two exchanges +
    a statically-broadcastable count table).  The plan must carry NO
    join at all and exactly two hash exchanges (gram window, per-doc
    rollup)."""
    from stdb_spark.functions.dedup import dup_span_profile

    docs = model.load_table(spark, SF, "documents")
    plan = _plan(dup_span_profile(docs))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


# ----------------------------------------------------------------------
# One Filter per bound table: the engine composes a query's bind, range
# and value conditions as Columns and filters each bound table once.
# The walk finds each bound table's analyzed plan inside the query's
# analyzed plan and counts the Filter nodes on the path down to it: the
# ones below the nearest Aggregate filter the table's rows, the ones
# above it filter aggregated rows (HAVING, a join's value filter).

def _filters_over_bound_tables(df, tables):
    """[(rows filters, aggregate filters)] for each occurrence of a
    DataFrame of ``tables`` in ``df``'s analyzed plan."""
    bound = [t._jdf.queryExecution().analyzed() for t in tables if t is not None]
    found = []

    def walk(node, path):
        if any(node.equals(b) for b in bound):
            names = [n.nodeName() for n in path]
            cut = max((i for i, n in enumerate(names) if n == "Aggregate"), default=-1)
            found.append((names[cut + 1:].count("Filter"), names[: cut + 1].count("Filter")))
            return
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), path + [node])

    walk(df._jdf.queryExecution().analyzed(), [])
    return found


_ONE_FILTER_QUERIES = {
    "select_where_range_value": ("query", {
        "select": "cpu", "where": {"host": ["a"]}, "range": {"from": 0, "to": 150},
        "filter": {"gt": 1.0}}, 0),
    "select_events_regex": ("query", {
        "select-events": "!log", "where": {"host": ["a"]}, "range": {"from": 0, "to": 150},
        "filter": "err"}, 0),
    "aggregate_leaf": ("query", {
        "aggregate": {"cpu": ["min", "max"]}, "where": {"host": ["a"]},
        "range": {"from": 5, "to": 150}}, 0),
    "aggregate_summary": ("query", {
        "aggregate": {"cpu": ["min", "max"]}, "where": {"host": ["a"]},
        "range": {"from": 0, "to": 100}}, 0),
    "group_aggregate_having": ("query", {
        "group-aggregate": {"step": 10, "metric": "cpu", "func": ["max"]},
        "where": {"host": ["a"]}, "range": {"from": 0, "to": 150},
        "filter": {"max": {"gt": 1.0}}}, 1),
    "join_filter": ("query", {
        "join": ["cpu", "mem"], "where": {"host": ["a"]}, "range": {"from": 0, "to": 150},
        "filter": {"cpu": {"gt": 1.0}}}, 1),
    "search": ("search", {"select": "cpu", "where": {"host": ["a"]}}, 0),
    "suggest_tag_values": ("suggest", {
        "select": "tag-values", "metric": "cpu", "tag": "host", "starts-with": "a"}, 0),
}


@pytest.fixture(scope="module")
def one_filter_engine(spark):
    from stdb_spark.engine import Engine
    from stdb_spark.sources import storage
    from tests.conftest import make_events, make_samples

    rows = [(m, {"host": h}, ts, float(ts)) for m in ("cpu", "mem")
            for h in "ab" for ts in range(0, 200, 5)]
    samples = make_samples(spark, rows)
    events = make_events(spark, [("!log", {"host": h}, ts, f"err {ts}")
                                 for h in "ab" for ts in range(0, 200, 7)])
    summaries = storage.summary_table(samples, step_ns=50)
    return Engine(spark, samples=samples, events=events, summaries=summaries,
                  summary_step_ns=50)


@pytest.mark.parametrize("name", sorted(_ONE_FILTER_QUERIES))
def test_engine_filters_each_bound_table_once(one_filter_engine, name):
    eng = one_filter_engine
    method, q, agg_filters = _ONE_FILTER_QUERIES[name]
    df = getattr(eng, method)(q)
    tables = (eng.samples, eng.events, eng.series, eng.summaries)
    found = _filters_over_bound_tables(df, tables)
    assert found == [(1, agg_filters)], (found, df._jdf.queryExecution().analyzed().toString())
    if name == "aggregate_summary":
        assert "bucket_ts" in df._jdf.queryExecution().analyzed().toString()
