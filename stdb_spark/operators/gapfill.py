"""Gap-filling resample: regularize a per-series sample stream onto a
fixed bucket grid, filling empty buckets by last-observation-carried-
forward (locf) or linear interpolation.

The reference has no gap-filling (its group-aggregate simply omits empty
buckets, stdb/storage/nbtree.cc:1067-1422); every TSDB user asks for it
(TimescaleDB time_bucket_gapfill / InfluxDB fill()).  Buckets are
begin-aligned like the engine's group-aggregate.

Plan shape at 100 TB: one shuffle to bucket-aggregate the samples, then
ONE window pass per series (lead of the next anchor) after which every
grid row — observed bucket, gap bucket, leading/trailing empty bucket —
is generated MAP-SIDE by exploding each anchor's bucket range.  The
(series x bucket) grid is never materialized as a join input, so there
is no grid shuffle and no distinct-series pass; output rows stream out
of the explode.  (An earlier design built the grid with
distinct -> sequence-explode -> left join: 4 exchanges vs 2, and the
grid join's shuffle grows with #series x #buckets — this one's state is
only the anchors.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stdb_spark.operators.aggregates import anchor


def _anchors_with_next(
    samples: DataFrame,
    begin: int,
    end: int,
    step: int,
    series_col: str,
    ts_col: str,
    value_col: str,
):
    """Per-(series, bucket) first/last anchors (aggregates.anchor) plus
    the NEXT observed bucket's index and first-anchor via one lead()
    window; n_buckets."""
    n_buckets = (end - begin + step - 1) // step
    s = samples.filter((F.col(ts_col) >= begin) & (F.col(ts_col) < end))
    bucketed = (
        s.withColumn("_bk", F.expr(f"({ts_col} - {int(begin)}L) div {int(step)}L"))
        .groupBy(series_col, "_bk")
        .agg(*[anchor(k, ts_col, value_col).alias(f"_{k}") for k in ("first", "last")])
    )
    w = Window.partitionBy(series_col).orderBy("_bk")
    return (
        bucketed.withColumn("_rn", F.row_number().over(w))
        .withColumn("_nbk", F.lead("_bk").over(w))
        .withColumn("_nfirst", F.lead("_first").over(w))
    ), n_buckets


def _expand(anchored: DataFrame, n_buckets: int, series_col: str):
    """Explode each anchor row into its grid span: the leading empty
    buckets [0, _bk) for the first anchor of a series, the anchor's own
    bucket, and the empty buckets up to (exclusive) the next anchor —
    or to the end of the grid for the last anchor.  Map-side; one
    output row per grid cell."""
    span_end = F.coalesce(F.col("_nbk"), F.lit(int(n_buckets)))
    # _bk > 0 guard: sequence(0, -1) would generate a DESCENDING pair
    lead_in = F.when(
        (F.col("_rn") == 1) & (F.col("_bk") > 0),
        F.sequence(F.lit(0).cast("long"), F.col("_bk") - 1),
    ).otherwise(F.array().cast("array<long>"))
    span = F.sequence(F.col("_bk"), span_end - 1)
    return anchored.select(
        F.col(series_col),
        F.col("_bk"),
        F.col("_last"),
        F.col("_nfirst"),
        F.explode(F.concat(lead_in, span)).alias("_k"),
    )


def resample_locf(
    samples: DataFrame,
    begin: int,
    end: int,
    step: int,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Empty buckets carry the most recent earlier value forward;
    buckets before a series' first sample stay null.  Non-empty buckets
    report their own last value."""
    anchored, n_buckets = _anchors_with_next(
        samples, begin, end, step, series_col, ts_col, value_col
    )
    g = _expand(anchored, n_buckets, series_col)
    # _k < _bk only on leading empty buckets (null); otherwise the
    # anchor's last value carries through its span.
    value = F.when(F.col("_k") >= F.col("_bk"), F.col("_last").getField("value"))
    return g.select(
        F.col(series_col),
        (F.lit(begin) + F.col("_k") * step).cast("long").alias(ts_col),
        value.alias(value_col),
    )


def resample_interpolate(
    samples: DataFrame,
    begin: int,
    end: int,
    step: int,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Empty buckets get the linear interpolation between the last
    earlier anchor and the first later anchor (by actual sample
    timestamps, evaluated at the bucket start); buckets outside the
    series' observed span stay null.  Non-empty buckets report their own
    last value.  Pure double arithmetic in a fixed expression order, so
    any engine reproduces it bit-for-bit."""
    anchored, n_buckets = _anchors_with_next(
        samples, begin, end, step, series_col, ts_col, value_col
    )
    g = _expand(anchored, n_buckets, series_col)
    ts = (F.lit(begin) + F.col("_k") * step).cast("long")
    prev, nxt = F.col("_last"), F.col("_nfirst")
    interp = prev.getField("value") + (
        nxt.getField("value") - prev.getField("value")
    ) * (
        (ts - prev.getField("ts")).cast("double")
        / (nxt.getField("ts") - prev.getField("ts")).cast("double")
    )
    value = F.when(F.col("_k") == F.col("_bk"), prev.getField("value")).otherwise(
        # gap bucket inside the span: interpolate iff a later anchor
        # exists; leading (_k < _bk) and trailing (_nfirst null) stay null
        F.when((F.col("_k") > F.col("_bk")) & nxt.isNotNull(), interp)
    )
    return g.select(
        F.col(series_col),
        ts.alias(ts_col),
        value.alias(value_col),
    )
