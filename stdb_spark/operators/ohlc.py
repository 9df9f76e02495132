"""Candlesticks (OHLC) — the reference computes these inside the NB+tree
(NBTreeLeaf::candlesticks / SuperblockCandlesticksScanOperator,
stdb/storage/nbtree.cc:1464,1908,2132) but never exposed a query-language
token; here it's a first-class operator over the narrow schema.

open/close are the first/last anchors of operators/aggregates.py (its
docstring states the tie-break); high/low are plain min/max.  One hash
aggregate — map-side partials apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stdb_spark.operators.aggregates import agg_expr, bucket_start, combine_expr

# candlestick column -> the aggregate function it is
_CANDLE = {"open": "first", "high": "max", "low": "min", "close": "last"}


def candles(expr=lambda f: agg_expr(f, False)) -> list[Column]:
    """open, high, low and close as ``expr(func)`` — by default the leaf
    aggregate over ``ts``/``value``."""
    return [expr(f).alias(name) for name, f in _CANDLE.items()]


def ohlc(
    samples: DataFrame,
    step_ns: int,
    begin_ns: int = 0,
    by: tuple[str, ...] = ("series_id", "metric"),
) -> DataFrame:
    """Per-series begin-aligned OHLC buckets."""
    bucket = bucket_start("ts", begin_ns, step_ns).alias("ts")
    return samples.groupBy(*by, bucket).agg(*candles(), F.count("value").alias("n"))


def ohlc_from_summaries(
    summaries: DataFrame,
    step_ns: int,
    begin_ns: int = 0,
    by: tuple[str, ...] = ("series_id", "metric"),
) -> DataFrame:
    """OHLC by COMBINING summary-table rows (sources/storage.summary_table)
    instead of re-scanning leaves — the SubtreeRef pushdown
    (stdb/storage/nbtree_def.h:47-84) extended to candlesticks: each
    summary bucket's partials combine exactly into any coarser
    begin-aligned bucket (aggregates.combine_expr; n = sum of cnts).

    Caller contract (the same provable-exactness rule the engine's
    summary planner enforces): ``step_ns`` must be a multiple of the
    summary step and ``begin_ns`` aligned to it, so every summary
    bucket nests wholly inside one output bucket.  Tie-breaks are
    bit-identical to :func:`ohlc`: both read the same anchors."""
    bucket = bucket_start("bucket_ts", begin_ns, step_ns).alias("ts")
    return summaries.groupBy(*by, bucket).agg(
        *candles(combine_expr), F.sum("cnt").cast("long").alias("n")
    )
