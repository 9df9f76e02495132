"""Visualization-preserving downsampling.

M4 (Jugel et al., VLDB 2014 — public algorithm): per (series, pixel
bucket) keep the first, last, min and max samples; rendering those 4
anchors per pixel column reproduces the exact line rasterization of the
full-resolution series.  The reference can only bucket-aggregate one
function at a time (stdb/storage/nbtree.cc:1067-1422); M4 is the
operator a grafana-style frontend actually wants.

Plan shape at 100 TB: ONE hash exchange on (series, bucket) with
map-side partial aggregation — the M4 anchors are exactly the summary
partials, the four row-atomic anchors of operators/aggregates.py (ts and
value from the SAME sample, deterministic ties), struct min/max that
Tungsten keeps JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stdb_spark.operators.aggregates import anchor


def m4(
    samples: DataFrame,
    begin: int,
    end: int,
    step: int,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One row per (series, bucket) carrying the four M4 anchors:
    (first_ts, first_v), (min_v, min_ts), (max_v, max_ts),
    (last_ts, last_v).  Buckets are begin-aligned, [begin, end) half-open
    like the engine's group-aggregate."""
    s = samples.filter((F.col(ts_col) >= begin) & (F.col(ts_col) < end))
    bk = F.expr(f"({ts_col} - {int(begin)}L) div {int(step)}L")
    agg = (
        s.withColumn("bk", bk)
        .groupBy(series_col, "bk")
        .agg(
            anchor("first", ts_col, value_col).alias("_f"),
            anchor("last", ts_col, value_col).alias("_l"),
            anchor("min", ts_col, value_col).alias("_mn"),
            anchor("max", ts_col, value_col).alias("_mx"),
        )
    )
    return agg.select(
        series_col,
        "bk",
        F.col("_f.ts").alias("first_ts"),
        F.col("_f.value").alias("first_v"),
        F.col("_mn.value").alias("min_v"),
        F.col("_mn.ts").alias("min_ts"),
        F.col("_mx.value").alias("max_v"),
        F.col("_mx.ts").alias("max_ts"),
        F.col("_l.ts").alias("last_ts"),
        F.col("_l.value").alias("last_v"),
    )


def hashed_series_apply(df: DataFrame, fn, schema=None, series_col: str = "series") -> DataFrame:
    """Run a sequential per-series kernel ``fn(pdf) -> pdf`` with ONE
    applyInPandas call per hash partition of series
    (``_pg = xxhash64(series) % shuffle.partitions``), NOT one per
    series: ``groupBy(series).applyInPandas`` pays per-group Arrow +
    pandas overhead (~ms), which with millions of short series dominates
    the math by orders of magnitude.  Each series stays intact in one
    frame, each frame holds rows/partitions (the memory bound of any
    shuffle partition), and ``fn`` loops over the series inside.
    ``schema`` defaults to the input's plus ``_pg``."""
    n_pg = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    tagged = df.withColumn("_pg", F.pmod(F.xxhash64(series_col), F.lit(n_pg)))
    return tagged.groupBy("_pg").applyInPandas(fn, schema=schema or tagged.schema)


def lttb(
    samples: DataFrame,
    n_out: int,
    series_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
    qscale: int = 1_000_000,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets (Steinarsson 2013 — public
    algorithm): per series, pick the ``n_out`` samples that best
    preserve the line's visual shape (first + last always kept; each
    interior bucket keeps the point maximizing the triangle area with
    the previously kept point and the next bucket's centroid).

    The greedy selection runs on INTEGER coordinates — ts as-is, value
    quantized to ``trunc(value * qscale)`` — with the triangle-area
    comparison cleared of the centroid division::

        area(P) ∝ |(t_a*c - St)*(w_P - w_a) - (t_a - t_P)*(Sw - w_a*c)|

    (c, St, Sw = next bucket's count and coordinate sums), evaluated in
    arbitrary-precision Python ints, argmax ties broken by first index.
    Bucket edges are the integer analog of a float linspace:
    ``e_k = 1 + (k*(n-2)) // (n_out-2)``.  Every quantity is an exact
    integer, so a DuckDB recursive CTE replays the identical selection
    (HUGEINT arithmetic), which is what buys the full value-hash oracle.
    Output rows carry the ORIGINAL values of the selected samples.

    The selection is sequential per series (each choice depends on the
    previous), so it runs in pandas per series, batched per hash
    partition (:func:`hashed_series_apply`).  A series' samples must fit
    in one partition — at 100 TB pre-reduce with :func:`m4` (e.g.
    step = span/(4*n_out)) before LTTB; the anchors preserve exactly the
    extremes LTTB needs."""
    import pandas as pd

    if n_out < 2:
        raise ValueError("n_out must be >= 2 (first + last always kept)")

    def _pick_one(pdf: pd.DataFrame) -> pd.DataFrame:
        # (ts, value) order: deterministic arrays even when timestamps
        # repeat — the SQL twin's row_number uses the same key
        pdf = pdf.sort_values([ts_col, value_col])
        n = len(pdf)
        if n <= n_out:
            return pdf[[series_col, ts_col, value_col]]
        if n_out == 2:
            # endpoints only: no interior buckets (and the bucket-edge
            # formula would divide by n_out - 2)
            return pdf.iloc[[0, n - 1]][[series_col, ts_col, value_col]]
        t = [int(x) for x in pdf[ts_col]]
        # one IEEE multiply then truncation toward zero — the exact
        # spec DuckDB's trunc(value * qscale) reproduces
        w = [int(v * qscale) for v in pdf[value_col]]
        edges = [1 + (k * (n - 2)) // (n_out - 2) for k in range(n_out - 1)]
        keep = [0]
        for i in range(n_out - 2):
            lo, hi = edges[i], edges[i + 1]
            nlo = edges[i + 1]
            nhi = n if i == n_out - 3 else edges[i + 2]
            c = nhi - nlo
            st = sum(t[nlo:nhi])
            sw = sum(w[nlo:nhi])
            a = keep[-1]
            best_j, best_area = lo, -1
            for j in range(lo, hi):
                area = abs(
                    (t[a] * c - st) * (w[j] - w[a])
                    - (t[a] - t[j]) * (sw - w[a] * c)
                )
                if area > best_area:
                    best_j, best_area = j, area
            keep.append(best_j)
        keep.append(n - 1)
        return pdf.iloc[keep][[series_col, ts_col, value_col]]

    def _pick(pdf: pd.DataFrame) -> pd.DataFrame:
        parts = [_pick_one(g) for _, g in pdf.groupby(series_col, sort=False)]
        return pd.concat(parts, ignore_index=True)

    return hashed_series_apply(
        samples.select(series_col, ts_col, value_col),
        _pick,
        f"{series_col} string, {ts_col} long, {value_col} double",
        series_col,
    )


def decimate(
    samples: DataFrame,
    n: int,
    series_cols: tuple[str, ...] = ("series",),
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stride decimation: keep every n-th sample per series in time
    order (rows 1, n+1, 2n+1, ...) — the cheapest downsample, used when
    shape preservation (LTTB/M4) is not required, e.g. thinning a debug
    series before export.

    ``order_cols`` extends the per-series order with tie-break columns
    so the kept set is a deterministic function of the data when
    timestamps repeat.  One exchange: the per-series window sort."""
    if n <= 0:
        raise ValueError("n must be positive")
    w = Window.partitionBy(*series_cols).orderBy(
        *[F.col(c) for c in (ts_col, *order_cols)]
    )
    return (
        samples.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % n == 0)
        .drop("_rn")
    )
