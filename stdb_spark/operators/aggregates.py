"""The eleven aggregate functions — the one module that knows the
aggregate algebra: anchors, leaf aggregate, summary combine, bucket.

Reference: AggregationFunction + AggregationResult (stdb/storage/operators/
operator.h:33-73) and the name mapping in
stdb/query/queryprocessor_framework.h:51-104:

    min max sum cnt mean first last
    min_timestamp max_timestamp first_timestamp last_timestamp

``first``/``last`` are the values at the scan-direction begin/end of the
range, so a backward query swaps them (and the *_timestamp pair).
``min_timestamp``/``max_timestamp`` are the timestamps of the min/max.
These read the four row-atomic anchors (:func:`anchor`: ts and value
from one sample), whose struct order breaks ties deterministically (the
reference's outcome depends on scan order; the smallest ts among equal
minima is forward scan order):

    first = min (ts, value)   last = max (ts, value)
    min   = min (value, ts)   max  = max (value, ts)

A summary row (storage.summary_table) keeps each anchor as two partial
columns, so :func:`combine_expr` (AggregationResult::combine,
operator.h:48-73) is :func:`agg_expr` over them, exact in any grouping;
plain min/max need no struct, so a combine without first/last/
*_timestamp plans a HashAggregate.  Spark orders -0.0 equal to 0.0, so
the sign of a zero min/max tie depends on fold order on either path.
All of these are single Catalyst aggregates: map-side partials apply.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a backward scan's 'first' is the latest point in time: the forward
# 'last' (and likewise for the timestamps)
_BACKWARD_NAMES = {
    "first": "last",
    "last": "first",
    "first_timestamp": "last_timestamp",
    "last_timestamp": "first_timestamp",
}

# anchor -> (aggregate, ordered by (ts, value) rather than (value, ts))
_ANCHORS = {
    "first": (F.min, True),
    "last": (F.max, True),
    "min": (F.min, False),
    "max": (F.max, False),
}


def anchor(kind: str, ts: str = "ts", value: str = "value") -> Column:
    """The aggregate picking the ``kind`` anchor over columns ``ts`` and
    ``value``: a struct with fields ``ts`` and ``value`` from one row."""
    agg, time_major = _ANCHORS[kind]
    t, v = F.col(ts).alias("ts"), F.col(value).alias("value")
    return agg(F.struct(t, v) if time_major else F.struct(v, t))


def agg_expr(
    func: str, backward: bool, value: str = "value", ts: str = "ts", exact: bool = False
) -> Column:
    """One Catalyst aggregate expression per reference function; only
    the requested one is built.

    ``exact=True`` computes sum/mean through decimal(28,10) so the result
    is independent of partial-aggregation order — bit-reproducible across
    engines (used by the oracle-checked suite; default off for speed).
    """
    v, t = F.col(value), F.col(ts)

    def sum_d():
        return F.sum(v.cast("decimal(28,10)")).cast("double")

    table = {
        "min": lambda: F.min(v),
        "max": lambda: F.max(v),
        "sum": sum_d if exact else lambda: F.sum(v),
        "count": lambda: F.count(v).cast("double"),
        "cnt": lambda: F.count(v).cast("double"),
        "mean": (lambda: sum_d() / F.count(v)) if exact else lambda: F.avg(v),
        "first": lambda: anchor("first", ts, value).getField("value"),
        "last": lambda: anchor("last", ts, value).getField("value"),
        "min_timestamp": lambda: anchor("min", ts, value).getField("ts").cast("double"),
        "max_timestamp": lambda: anchor("max", ts, value).getField("ts").cast("double"),
        "first_timestamp": lambda: F.min(t).cast("double"),
        "last_timestamp": lambda: F.max(t).cast("double"),
        # --- extensions beyond the reference's 11 (SURVEY §2.4 "free in
        # Spark if exposed"): exact distinct count and exact linear-
        # interpolation percentiles (matching DuckDB quantile_cont)
        "distinct_count": lambda: F.count_distinct(v).cast("double"),
        "median": lambda: F.percentile(v, F.lit(0.5)),
        "p90": lambda: F.percentile(v, F.lit(0.90)),
        "p95": lambda: F.percentile(v, F.lit(0.95)),
        "p99": lambda: F.percentile(v, F.lit(0.99)),
    }
    if func not in table:
        raise ValueError(f"unknown aggregate function {func!r}")
    return table[_BACKWARD_NAMES.get(func, func) if backward else func]()


# summary combiners that are not order statistics
_ADDITIVE = {
    "sum": lambda: F.sum("sum").cast("double"),
    "count": lambda: F.sum("cnt").cast("double"),
    "cnt": lambda: F.sum("cnt").cast("double"),
    "mean": lambda: F.sum("sum").cast("double") / F.sum("cnt"),
}
# the reference's eleven (and ``cnt``): every one combines exactly
COMBINABLE = frozenset(_ADDITIVE) | {f"{a}{x}" for a in _ANCHORS for x in ("", "_timestamp")}


def combine_expr(func: str) -> Column:
    """``func`` over summary rows: :func:`agg_expr` over the partial
    columns of its anchor (``first`` over (first_ts, first), ``min`` a
    plain min of ``min``), or sum/count/mean added up."""
    if func in _ADDITIVE:
        return _ADDITIVE[func]()
    if func not in COMBINABLE:
        raise ValueError(f"aggregate function {func!r} does not combine")
    stat = func.removesuffix("_timestamp")
    return agg_expr(func, False, value=stat, ts=f"{stat}_ts")


def bucket_start(ts: str, begin: int, step: int, backward: bool = False) -> Column:
    """Start of the tumbling bucket of column ``ts``, aligned to
    ``begin``, NOT to the epoch (stdb/storage/operators/aggregate.cc:160-170):
    forward  begin + step*((ts - begin) div step)
    backward begin - step*((begin - ts) div step)
    Integer `div` keeps 1e18-scale nanosecond math exact (a double
    division would lose precision past 2^53)."""
    b, s = F.lit(begin), F.lit(step)
    if backward:
        return b - s * F.expr(f"({begin}L - {ts}) div {step}L")
    return b + s * F.expr(f"({ts} - {begin}L) div {step}L")
