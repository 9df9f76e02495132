"""Engine: executes the JSON query language over narrow DataFrames.

The Spark analog of the reference's two-stage pipeline (SURVEY.md §3):
QueryParser -> ReshapeRequest -> QueryPlanBuilder -> executor.  Here the
"plan" is a declarative DataFrame program; Catalyst supplies predicate
pushdown, partial aggregation, and the physical strategy (the reference
hand-rolls these per query shape, stdb/query/plan/query_plan_builder.cc).

Output shapes (DataFrame-native renderings of the reference's sample
stream):

    select           -> (series string, ts long, value double)
    select-events    -> (series, ts, body string)
    aggregate        -> (series "metric:func tags", value)
    group-aggregate  -> (series "m:f1|m:f2 tags", ts bucket, <func cols>)
    join             -> (series "m1|m2 tags", ts, <metric cols>)
    group-agg-join   -> same as join over buckets
    select meta:names-> (series)

Scale notes: the series binding (`where`) filters on the fact table's own
metric/tags columns so Parquet predicate pushdown applies; a query
filters each bound table once, its bind, range and value conditions
composed as Columns into one `filter` (every DataFrame call is analyzed
eagerly, so a chain of filters costs plan builds); group-by keys
are strings (canonical tag suffix) to keep every shuffle key sortable;
aggregates are single Catalyst expressions so map-side partials apply;
`join` aligns metrics with one conditional max per metric (one hash
exchange, where a pivot plans two).  A small bound table is read in one
task, so a query over it plans no exchange and runs as one job; larger
tables keep the distributed plans (see `_one_task`).  The small tables
are rebound to one clone of the caller's session with code generation
off, so a query over them compiles no Java (see `_interpreted`); the
caller's session and the larger tables keep whole-stage codegen.
"""

from __future__ import annotations

import functools
import operator as _op
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stdb_spark import model
from stdb_spark.operators.aggregates import COMBINABLE, agg_expr, bucket_start, combine_expr
from stdb_spark.query.apply_nodes import apply_pipeline
from stdb_spark.query.parser import (
    QueryKind,
    QueryParseError,
    QueryRequest,
    ValueFilter,
    parse_query,
)
from stdb_spark.sources import storage


def _quote(name: str) -> str:
    """Column reference for an output column named after a metric: a
    dotted name such as ``cpu.user`` is one column, not a struct field."""
    return "`" + name.replace("`", "``") + "`"


# Largest bound table, in bytes of its files, that a query reads in one
# task.  Set from paired runs on a 4-core VM of the earlier regime that
# made only the final sort one task, in which select and select-events
# already scanned in that task (a table of 1-32 day partitions, scanned
# whole; ten alternated pairs per size): one task wins 10/10 up to
# 4.1 MB, select-events turns at 6-8 MB and select at 10-15 MB.  The
# aggregating queries' turn with a one-task scan is unmeasured.  On
# more cores a distributed scan spreads wider, so the turn comes
# earlier there.
#
# Below the cut the one task also runs interpreted (`_interpreted`).
# Re-checked on a 4.0 MB table (310k samples, 32 day partitions, 4
# metrics) on the same VM, seven alternated triples per shape, new
# literals every run, medians in ms (interpreted / one task compiled /
# distributed):
#   one-day select 225 / 290 / 397, group-aggregate 255 / 296 / 452;
#   32-day select 752 / 656 / 835, group-aggregate 1421 / 962 / 988.
# What turns interpretation is the rows a query reads (one day: ~2.4k
# per metric; 32 days: 77.5k), which the table's bytes do not tell.
# A lower cut would not give these tables a compiled one task but the
# distributed plans, which lost every one-day pair and every select;
# full scans of 1 and 2 MB one-day tables ran their group-aggregate in
# 410 / 350 / 558 and 563 / 423 / 587 ms.  Only the 4 MB full-scan
# group-aggregate lost to the distributed plans, so the cut stays.
_ONE_TASK_BYTES = 4 << 20


def _one_task(df: DataFrame | None) -> bool:
    """Whether ``df`` is small enough to be stored ``coalesce(1)``'d and
    run interpreted (see ``_interpreted``).

    Coalesce reports SinglePartition, which satisfies every distribution
    an engine query asks for: the clustered one of the aggregates, the
    pivot, the apply windows and pandas UDFs, and the sort's ordered one.
    So a query over small tables plans no Exchange at all: one job, one
    stage, one task running scan, filters, both aggregation phases and
    the sort, with no map-stage job and no RangePartitioner sample job.
    Catalyst pushes the bind and range filters, and the column pruning,
    below the Coalesce, so PushedFilters and PartitionFilters are those
    of the bare scan.

    "Small" is the summed ``sizeInBytes`` of the analyzed plan's leaves
    at or under ``_ONE_TASK_BYTES`` (or under
    ``spark.sql.autoBroadcastJoinThreshold`` when that is smaller).  For
    Parquet tables that is their whole compressed file size, before
    partition pruning: an upper bound on what any query's scan reads.
    A threshold <= 0 keeps the distributed plans for every table."""
    if df is None:
        return False
    qe = df._jdf.queryExecution()
    limit = qe.sparkSession().sessionState().conf().autoBroadcastJoinThreshold()
    if limit <= 0:
        return False
    leaves = qe.analyzed().collectLeaves()
    size = sum(int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size()))
    return size <= min(limit, _ONE_TASK_BYTES)


def _interpreted(spark: SparkSession) -> SparkSession:
    """A clone of ``spark`` that generates no Java: no whole-stage
    codegen, and every projection, predicate and ordering interpreted.

    A one-task query over a narrow range reads a few thousand rows, so
    compiling its classes (a few per query, new ones for each query's
    literals) costs more than the code saves; the note on
    ``_ONE_TASK_BYTES`` gives where that turns.  ``cloneSession`` keeps
    the confs, temp views and functions set on ``spark`` at runtime,
    which ``newSession`` drops; ``spark``'s own conf is not touched.
    ``factoryMode`` is an internal Spark conf: with ``wholeStage`` off
    alone, expression projections still compile."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    child.conf.set("spark.sql.codegen.wholeStage", "false")
    child.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    return child


def _rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s plan as a DataFrame of ``session``: it, and every
    DataFrame derived from it, plans and runs under ``session``'s conf."""
    jvm = session.sparkContext._jvm
    jds = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.queryExecution().logical()
    )
    return DataFrame(jds, session)


def _and_all(conds):
    return functools.reduce(_op.and_, conds)


def _or_all(conds):
    return functools.reduce(_op.or_, conds)


def _filter(df: DataFrame, conds: list[Column]) -> DataFrame:
    """``df`` under the conjunction of ``conds``: one Filter, or none."""
    return df.filter(_and_all(conds)) if conds else df


def _series_name(label: str | Column, tags: Column | None = None) -> Column:
    """The output series name: ``label``, then a space and the tag
    suffix (the ``_tags_s`` column unless ``tags`` is given) when the
    series has tags."""
    tags = F.col("_tags_s") if tags is None else tags
    if isinstance(label, str):
        named = F.concat(F.lit(label + " "), tags)
        label = F.lit(label)
    else:
        named = F.concat(label, F.lit(" "), tags)
    return F.when(F.length(tags) > 0, named).otherwise(label).alias("series")


def _vf_condition(col, vf: ValueFilter):
    conds = []
    if vf.gt is not None:
        conds.append(col > F.lit(vf.gt))
    if vf.ge is not None:
        conds.append(col >= F.lit(vf.ge))
    if vf.lt is not None:
        conds.append(col < F.lit(vf.lt))
    if vf.le is not None:
        conds.append(col <= F.lit(vf.le))
    return _and_all(conds)


class Engine:
    """Query executor bound to narrow samples/events/series DataFrames."""

    def __init__(
        self,
        spark: SparkSession,
        samples: DataFrame | None = None,
        events: DataFrame | None = None,
        series: DataFrame | None = None,
        exact_sums: bool = False,
        ts_slack_ns: int = 0,
        summaries: DataFrame | None = None,
        summary_step_ns: int | None = None,
    ):
        if summaries is not None and "tags" not in summaries.columns:
            raise ValueError(
                "summaries have no tags column: rebuild the store with "
                "storage.write_summary (or storage.summary_table)"
            )
        # the one-task choice is made once per bound table, not per
        # query; a registry derived from the samples inherits theirs.
        # The small tables move to one interpreted clone of ``spark``,
        # made only when some table is small.
        tables = (samples, events, summaries, series)
        small = [_one_task(t) for t in tables]
        child = _interpreted(spark) if any(small) else None
        samples, events, summaries, series = (
            _rebind(t.coalesce(1), child) if one else t for t, one in zip(tables, small)
        )
        self.spark = spark
        self.samples = samples
        self.events = events
        # optional pre-aggregated per-(series, coarse-bucket) table
        # (sources.storage.summary_table): bucket-aligned `aggregate`
        # queries are answered from it without touching leaf rows — the
        # SubtreeRef pushdown analog (stdb/storage/nbtree.cc:922-1035).
        # It carries each series' tags, so it binds like the leaf rows.
        self.summaries = summaries
        self.summary_step_ns = summary_step_ns
        # ts_slack_ns bounds |ts - ts_src|, the distance a bound adapter
        # puts between the derived ``ts`` and the stored timestamp (µs
        # truncation, say): range queries widen the coarse ``ts_src``
        # bounds that reach PushedFilters by it (see _range).
        self.ts_slack_ns = ts_slack_ns
        if series is None and samples is not None:
            series = model.series_registry(samples)
        self.series = series
        # decimal-backed sum/mean: reproducible independent of partial-agg
        # order (oracle-comparison mode; slower, default off)
        self.exact_sums = exact_sums
        # per-query invariants, built once: every schema read is a py4j
        # round trip, and the tag-suffix expression alone costs ~4 ms
        self._dtypes = {
            name: dict(df.dtypes)
            for name, df in (("samples", samples), ("events", events))
            if df is not None
        }
        sfx = model.tags_suffix_col()
        self._tags_col = sfx.alias("_tags_s")
        self._series_col = _series_name(F.col("metric"), sfx)

    # ------------------------------------------------------------------
    @classmethod
    def from_sf_dir(cls, spark: SparkSession, sf_dir: str) -> "Engine":
        """Bind to the driver's events table (TESTDATA.md adapter)."""
        return cls(
            spark,
            samples=model.events_as_samples(spark, sf_dir, keep_src=True),
            events=model.events_as_event_stream(spark, sf_dir, keep_src=True),
        )

    # ------------------------------------------------------------------
    def query(self, q) -> DataFrame:
        """``q`` as a DataFrame.  ``parse_query`` has decided which
        clauses and filter keys ``q``'s statement takes; the template
        runs every one the request carries."""
        req = parse_query(q)
        dispatch = {
            QueryKind.SELECT: self._select,
            QueryKind.SELECT_EVENTS: self._select_events,
            QueryKind.SELECT_META: self._select_meta,
            QueryKind.AGGREGATE: self._aggregate,
            QueryKind.JOIN: self._join,
            QueryKind.GROUP_AGGREGATE: self._group_aggregate,
            QueryKind.GROUP_AGGREGATE_JOIN: self._group_aggregate_join,
        }
        return dispatch[req.kind](req)

    # ------------------------------------------------------------------
    def search(self, q) -> DataFrame:
        """Search endpoint: metric + where -> matching series names
        (parse_search_query, queryparser.cc:1009-1059).

        Matching modes (SeriesRetreiver, queryparser.cc:160-275):
        - default: exact metric equality (SeriesRetreiver::match);
        - ``"fuzzy": true``: the metric is a PREFIX — the reference
          builds ``<metric>\\S*(\\s k=v)*`` over canonical names
          (fuzzy_match, queryparser.cc:210-260), which on the narrow
          model is a startswith on the metric column (autocomplete);
        - ``"regex": <pattern>``: regex over the full canonical series
          name (PlainSeriesMatcher::regex_match).
        All run on the (small) series registry — sub-second anywhere."""
        if self.series is None:
            raise QueryParseError("no series registry bound")
        from stdb_spark.query.parser import parse_search_query

        sq = parse_search_query(dict(q))
        conds = []
        if sq.regex:
            conds.append(F.col("name").rlike(sq.regex))
        elif sq.metric and sq.fuzzy:
            conds.append(F.col("metric").startswith(sq.metric))
        elif sq.metric:
            conds.append(F.col("metric") == sq.metric)
        req = QueryRequest(kind=QueryKind.SELECT_META)
        req.where = sq.where
        req.limit, req.offset = sq.limit, sq.offset
        df = _filter(self.series, conds + self._bind(req, metrics=[]))
        out = df.select(F.col("name").alias("series")).orderBy("series")
        return self._limit(out, req)

    def suggest(self, q) -> DataFrame:
        """Autocomplete endpoint (parse_suggest_query,
        queryparser.cc:1061-1254): metric-names | tag-names | tag-values,
        optionally filtered by `metric`, `tag`, and `starts-with`.
        Runs on the (small) series registry — sub-second at any scale."""
        if self.series is None:
            raise QueryParseError("no series registry bound")
        from stdb_spark.query.parser import parse_suggest_query

        sq = parse_suggest_query(dict(q))
        name = F.col("name")
        conds = []
        if sq.target == "metric-names":
            # metric names ignore the `metric` filter
            cols = [F.col("metric").alias("name")]
        else:
            if sq.metric:
                conds.append(F.col("metric") == sq.metric)
            if sq.target == "tag-names":
                cols = ["metric", F.explode(F.map_keys(F.col("tags"))).alias("name")]
            else:  # tag-values (target validated by the parser)
                cols = ["metric", F.col("tags")[sq.tag].alias("name")]
                conds.append(name.isNotNull())
        if sq.starts_with:
            conds.append(name.startswith(sq.starts_with))
        out = _filter(self.series.select(*cols), conds)
        return out.select(name).distinct().orderBy("name")

    # ------------------------------------------------------------------
    # shared stages
    def _bind(self, req: QueryRequest, metrics: list[str] | None = None) -> list[Column]:
        """metric + where -> row conditions (the parse-time series
        binding of the reference, queryparser.cc:683-740, becomes a
        pushed-down predicate on the fact table)."""
        metrics = metrics if metrics is not None else req.metrics
        conds = []
        if metrics:
            conds.append(F.col("metric").isin(list(dict.fromkeys(metrics))))
        if req.where:
            if req.where.tag_values:
                conds.append(_and_all([
                    F.col("tags")[t].isin(vals)
                    for t, vals in req.where.tag_values.items()
                ]))
            if req.where.series_combos:
                conds.append(_or_all([
                    _and_all([F.col("tags")[k] == F.lit(v) for k, v in combo.items()])
                    for combo in req.where.series_combos
                ]))
        return conds

    def _range(self, req: QueryRequest, table: str) -> list[Column]:
        """Row conditions of the range: half-open [from, to); reversed
        bounds scan backward over (to, from] (operator.h:88-94).  When
        the table carries the physical ``ts_src`` column, coarse bounds
        on it are added so the Parquet scan prunes row groups (the
        NB+tree time-descent analog, stdb/storage/nbtree.cc:471-616):
        the exact cut is on the derived ``ts``, whose predicates are
        arithmetic over the column and never reach PushedFilters.  When
        the table carries the layout's ``day`` partition column
        (sources.storage.write_samples), explicit day bounds are added
        so directory-level partition pruning fires.  ``table`` names
        the bound table ("samples" or "events"), whose schema __init__
        read once."""
        if req.begin is None:
            return []
        dtypes = self._dtypes[table]
        # widen BOTH ends by the slack: the contract is the symmetric
        # |ts - ts_src| <= ts_slack_ns, so a transform that can move ts
        # ABOVE ts_src (round-to-nearest, negative-epoch truncation)
        # must not lose boundary rows to a one-sided bound
        g = self.ts_slack_ns
        if req.backward:
            lo, hi = req.end - g, req.begin + g
            cond = (F.col("ts") <= req.begin) & (F.col("ts") > req.end)
        else:
            lo, hi = req.begin - g, req.end + g
            cond = (F.col("ts") >= req.begin) & (F.col("ts") < req.end)
        src_cond = model.ts_src_bounds(None, int(lo), int(hi), dtypes)
        if src_cond is not None:
            cond = cond & src_cond
        if "day" in dtypes:
            cond = cond & storage.day_bounds(lo, hi)
        return [cond]

    @staticmethod
    def _group_remap(df: DataFrame, req: QueryRequest) -> DataFrame:
        """group-by-tag / pivot-by-tag: project the tags map down to the
        listed keys so series sharing them merge (GroupByTag,
        stdb/index/seriesparser.h:66-107).  Both ops reduce to the same
        projection in the DataFrame model; the reference differs only in
        how the output series set is *named* through the id remapper."""
        if not req.group_op:
            return df
        keys = F.array(*[F.lit(t) for t in req.group_tags])
        return df.withColumn(
            "tags", F.map_filter("tags", lambda k, _: F.array_contains(keys, k))
        )

    @staticmethod
    def _order(df: DataFrame, req: QueryRequest, cols: Iterable[str]) -> DataFrame:
        """Output order; ``cols`` are df's payload columns (all but
        series and ts)."""
        ts = F.col("ts").desc() if req.backward else F.col("ts").asc()
        sr = F.col("series").desc() if req.backward else F.col("series").asc()
        # (series, ts) is not guaranteed unique (duplicate same-µs
        # samples after the adapter truncation); break the final tie on
        # the payload so ORDER BY + LIMIT cuts are a deterministic
        # function of the DATA (the reference's within-tie order is
        # storage-order, i.e. unspecified — any fixed refinement is a
        # valid parity choice, and the suite's oracles mirror this one)
        tiebreaks = [
            (F.col(c).desc() if req.backward else F.col(c).asc())
            for c in ("value", "body")
            if c in cols
        ]
        if req.order_by == "series":
            return df.orderBy(sr, ts, *tiebreaks)
        return df.orderBy(ts, sr, *tiebreaks)

    @staticmethod
    def _limit(df: DataFrame, req: QueryRequest) -> DataFrame:
        # the reference overwrote limit with offset (queryparser.cc:624);
        # correct semantics implemented here on purpose.
        if req.offset:
            df = df.offset(req.offset)
        if req.limit is not None:
            df = df.limit(req.limit)
        return df

    def _output(self, out: DataFrame, req: QueryRequest, cols: list[str]) -> DataFrame:
        """``out`` (series, ts, *cols) through the apply pipeline over
        ``cols`` (SURVEY.md §3.1, step 7), then ordered and limited."""
        out, cols, preordered = apply_pipeline(out, req.apply, cols, req.backward)
        return self._limit(out if preordered else self._order(out, req, cols), req)

    @staticmethod
    def _having(
        df: DataFrame, req: QueryRequest, cols: dict[str, str], metric_col: str | None = None
    ) -> DataFrame:
        """The value filters over aggregated or joined rows, combined
        with all/any (queryparser.cc:748-858).  A key of ``cols`` gates
        every row on its column.  Any other key, which the parser admits
        only as a single-func group-aggregate's metric, gates only that
        metric's rows, on ``metric_col`` (queryparser.cc:1868,
        plan/query_plan_builder.cc:58-109): a row of a DIFFERENT metric
        is unaffected by it -- it passes under "all" and is not
        rescued/rejected by it under "any"."""
        if not req.filters:
            return df
        global_conds, per_metric = [], {}
        for key, vf in req.filters.items():
            if key in cols:
                global_conds.append(_vf_condition(F.col(cols[key]), vf))
            else:
                per_metric[key] = _vf_condition(F.col(metric_col), vf)
        if req.filter_rule == "all":
            conds = global_conds + [
                (F.col("metric") != F.lit(m)) | c for m, c in per_metric.items()
            ]
            return df.filter(_and_all(conds))
        # "any": a row passes if any condition APPLICABLE to it holds;
        # rows whose metric carries no filter (and no func-keyed
        # condition exists) have an empty applicable set and pass.
        conds = global_conds + [
            (F.col("metric") == F.lit(m)) & c for m, c in per_metric.items()
        ]
        if per_metric and not global_conds:
            unfiltered = ~F.col("metric").isin(list(per_metric))
            return df.filter(_or_all(conds + [unfiltered]))
        return df.filter(_or_all(conds))

    # ------------------------------------------------------------------
    def _select(self, req: QueryRequest) -> DataFrame:
        conds = self._bind(req) + self._range(req, "samples")
        if req.filters:  # the parser keys it by the one metric
            conds.append(_vf_condition(F.col("value"), req.filters[req.metrics[0]]))
        df = self._group_remap(_filter(self.samples, conds), req)
        out = df.select(self._series_col, F.col("ts"), F.col("value"))
        return self._output(out, req, ["value"])

    def _select_events(self, req: QueryRequest) -> DataFrame:
        if self.events is None:
            raise QueryParseError("no events table bound")
        conds = self._bind(req) + self._range(req, "events")
        if req.event_regex:
            # regex pushed into the scan, like BinaryDataFilter
            # (stdb/storage/nbtree.cc:1630)
            conds.append(F.col("body").rlike(req.event_regex))
        df = self._group_remap(_filter(self.events, conds), req)
        out = df.select(self._series_col, F.col("ts"), F.col("body"))
        return self._output(out, req, ["body"])

    def _select_meta(self, req: QueryRequest) -> DataFrame:
        if self.series is None:
            raise QueryParseError("no series registry bound")
        df = _filter(self.series, self._bind(req))
        out = df.select(F.col("name").alias("series")).orderBy("series")
        return self._limit(out, req)

    # ------------------------------------------------------------------
    def _summary_exact(self, req: QueryRequest, funcs: list[str], bucketed: bool) -> bool:
        """Whether the summary table answers ``req`` provably exactly:
        forward scan, no tag regrouping, every func combinable, range
        aligned to the summary step (or absent, unbucketed only), and
        for buckets a step the summary step divides, so every summary
        bucket nests inside one output bucket."""
        sstep = self.summary_step_ns
        if self.summaries is None or not sstep or req.group_op or req.backward:
            return False
        if not COMBINABLE.issuperset(funcs):
            return False
        if req.begin is None:
            return not bucketed
        return not (
            req.begin % sstep or req.end % sstep or (bucketed and req.step_ns % sstep)
        )

    def _agg_input(self, req: QueryRequest, funcs: list[str], bucketed: bool):
        """(rows, group keys, func -> aggregate expression) for the
        aggregating queries.  The keys are the tag suffix, then the
        bucket when ``bucketed``; callers add ``metric`` or pivot on it.

        Planner choice: roll up the summary table when _summary_exact
        holds — the hypertable-rollup shape: a month of 2d buckets
        combines ~60 day-summaries per series instead of re-scanning
        every leaf row — and scan the leaf rows otherwise.  Summary rows
        carry their series' metric and tags, so both bind alike."""
        conds = self._bind(req)
        if self._summary_exact(req, funcs, bucketed):
            ts = "bucket_ts"
            if req.begin is not None:
                conds.append((F.col(ts) >= req.begin) & (F.col(ts) < req.end))
            df = _filter(self.summaries, conds)
            expr = combine_expr
        else:
            ts = "ts"
            df = _filter(self.samples, conds + self._range(req, "samples"))
            df = self._group_remap(df, req)
            expr = lambda f: agg_expr(f, req.backward, exact=self.exact_sums)  # noqa: E731
        keys = [self._tags_col]
        if bucketed:
            keys.append(bucket_start(ts, req.begin, req.step_ns, req.backward).alias("ts"))
        return df, keys, expr

    # ------------------------------------------------------------------
    def _aggregate(self, req: QueryRequest) -> DataFrame:
        by_metric: dict[str, list[str]] = {}
        for m, fn in zip(req.metrics, req.agg_funcs):
            by_metric.setdefault(m, []).append(fn)
        all_funcs = sorted({f for fs in by_metric.values() for f in fs})
        df, keys, expr = self._agg_input(req, all_funcs, bucketed=False)
        gb = df.groupBy("metric", *keys).agg(
            *[expr(f).alias(f"_f_{f}") for f in all_funcs]
        )
        # one output row per requested (metric, func): a single explode of
        # per-metric (label, value) structs — NOT a union of one branch per
        # pair, which would recompute the final aggregate once per branch
        branches = [
            (
                F.col("metric") == m,
                F.array(
                    *[
                        F.struct(
                            F.lit(f"{m}:{fn}").alias("label"),
                            F.col(f"_f_{fn}").alias("value"),
                        )
                        for fn in fns
                    ]
                ),
            )
            for m, fns in by_metric.items()
        ]
        pairs = F.when(*branches[0])
        for cond, arr in branches[1:]:
            pairs = pairs.when(cond, arr)
        e = gb.select("_tags_s", F.explode(pairs).alias("_e"))
        out = e.select(_series_name(F.col("_e.label")), F.col("_e.value").alias("value"))
        # aggregate output is always series-ordered (queryparser.cc:1453+)
        return self._limit(out.orderBy("series"), req)

    # ------------------------------------------------------------------
    def _group_aggregate(self, req: QueryRequest) -> DataFrame:
        funcs = req.agg_funcs
        df, keys, expr = self._agg_input(req, funcs, bucketed=True)
        gb = df.groupBy("metric", *keys).agg(*[expr(f).alias(f) for f in funcs])
        # HAVING keyed by function name, the pre-canonical 'cnt' alias,
        # or, with one func, by metric (see _having)
        cols = {f: f for f in funcs}
        if "count" in funcs:
            cols.setdefault("cnt", "count")
        gb = self._having(gb, req, cols, funcs[0])
        label = "|".join(f"{{m}}:{f}" for f in funcs)
        label = F.regexp_replace(F.lit(label), F.lit("\\{m\\}"), F.col("metric"))
        out = gb.select(_series_name(label), F.col("ts"), *[F.col(f) for f in funcs])
        return self._output(out, req, list(funcs))

    # ------------------------------------------------------------------
    def _join(self, req: QueryRequest) -> DataFrame:
        """N metrics aligned on exact timestamp per tag-set -> one row per
        (tags, ts) with one column per metric, missing -> null
        (JoinMaterializer parity, stdb/storage/operators/join.h:18-53).
        Implemented as groupBy(tags, ts) with one conditional max per
        metric — one shuffle, no M-way self-join, and no second
        aggregation (a pivot plans two).  A (series, ts) pair holds at
        most one sample; max() picks it deterministically even if
        duplicates sneak in (first() would be partition-order
        dependent)."""
        metrics = req.metrics
        df = _filter(self.samples, self._bind(req) + self._range(req, "samples"))
        df = self._group_remap(df, req)
        metric, value = F.col("metric"), F.col("value")
        piv = df.groupBy(self._tags_col, "ts").agg(
            *[F.max(F.when(metric == m, value)).alias(m) for m in metrics]
        )
        return self._joined_output(piv, req, "|".join(metrics))

    def _group_aggregate_join(self, req: QueryRequest) -> DataFrame:
        """Downsample N metrics with ONE func, align buckets
        (queryparser.cc:1793-1907).  Stays on pivot: a conditional
        `count` would give 0 for a bucket without rows, pivot gives
        null."""
        metrics = req.metrics
        fn = req.agg_funcs[0]
        df, keys, expr = self._agg_input(req, [fn], bucketed=True)
        piv = df.groupBy(*keys).pivot("metric", metrics).agg(expr(fn))
        return self._joined_output(piv, req, "|".join(f"{m}:{fn}" for m in metrics))

    def _joined_output(self, piv: DataFrame, req: QueryRequest, label: str) -> DataFrame:
        """The output of the joins: ``piv`` holds one column per metric
        by (``_tags_s``, ts); value filters, series name, apply
        pipeline, order and limit."""
        metrics = req.metrics
        piv = self._having(piv, req, {m: _quote(m) for m in metrics})
        out = piv.select(_series_name(label), "ts", *[F.col(_quote(m)) for m in metrics])
        return self._output(out, req, list(metrics))
