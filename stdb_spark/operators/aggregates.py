"""The eleven aggregate functions.

Reference: AggregationFunction + AggregationResult (stdb/storage/operators/
operator.h:33-73) and the name mapping in
stdb/query/queryprocessor_framework.h:51-104:

    min max sum cnt mean first last
    min_timestamp max_timestamp first_timestamp last_timestamp

``first``/``last`` are the values at the scan-direction begin/end of the
range, so a backward query swaps them (and the *_timestamp pair).
``min_timestamp``/``max_timestamp`` are the timestamps at which the
min/max value occurred.  Ties are broken deterministically by (value, ts)
struct ordering — the reference's outcome depends on scan order; struct
ordering gives the smallest ts among ties which equals forward scan
order.

All of these compile to single Catalyst aggregate expressions, so Spark
performs partial (map-side) aggregation automatically — the analog of
the reference's per-subtree partials merged via AggregationResult::combine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

AGG_OUTPUT_IS_TS = {
    "min_timestamp",
    "max_timestamp",
    "first_timestamp",
    "last_timestamp",
}


# a backward scan's 'first' is the latest point in time: the forward
# 'last' (and likewise for the timestamps)
_BACKWARD_NAMES = {
    "first": "last",
    "last": "first",
    "first_timestamp": "last_timestamp",
    "last_timestamp": "first_timestamp",
}


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
        # earliest ts, tie -> smallest value (and the reverse for last)
        "first": lambda: F.min(F.struct(t, v)).getField(value),
        "last": lambda: F.max(F.struct(t, v)).getField(value),
        # smallest value, tie -> smallest ts (likewise for the max)
        "min_timestamp": lambda: F.min(F.struct(v, t)).getField(ts).cast("double"),
        "max_timestamp": lambda: F.max(F.struct(v, t)).getField(ts).cast("double"),
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
