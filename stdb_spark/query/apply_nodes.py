"""The ``apply`` post-processing pipeline compiled to Spark expressions.

Reference: the Node chain built by parse_processing_topology
(stdb/query/queryparser.cc:2046-2080) with the static token registry
(stdb/query/queryprocessor_framework.h:305-338).  Every node is a
per-(series, column) stateful map over the scan-ordered stream, i.e. a
window function partitioned by series and ordered by ts in scan
direction.  We always compute windows per series (state in the reference
is keyed by (ParamId, column) — rate.h:12-16), independent of the final
output order, then sort.

Node semantics replicated exactly (file:line cites against /root/reference):

- ``rate``      (query_processing/rate.cc:17-49): Δx/Δt in units/sec, the
                first point uses an implicit previous sample (0, 0).
- ``accumulate``/``cusum`` (rate.cc:62-89): running sum, nulls skipped.
- ``sma``       (sliding_window.cc:105-177): the ring buffer starts as N
                zeros and ``get()`` runs BEFORE ``add()``, so the output
                is the mean of the **previous** N values zero-padded:
                sum(x[i-N..i-1], pad 0)/N.
- ``sma-error`` value minus that prediction.
- ``ewma``      (sliding_window.cc:7-41,60-103): 11-point warm-up during
                which the node emits the current value itself; at the
                11th add the accumulated mean seeds the filter; after
                warm-up emits the one-step-ahead prediction.
- ``ewma-error`` value minus prediction.
- ``holt`` / ``holt-error``: Holt linear-trend (double exponential)
                smoothing — trend-aware extension of the ewma family
                (absent in the reference; exposed extra).  Two samples
                warm-up, then emits the one-step-ahead forecast l+b.
- ``cma``       (sliding_window.cc:196-225): cumulative moving average.
                The reference stores ``(sum + 2x, cnt + 2)`` per step —
                an obvious double-add bug; we implement the intended
                running mean and document the divergence.
- ``abs``       (absolute.cc), ``scale`` (scale.h:10-27).
- ``sum``/``diff``/``multiply``/``divide`` (math.h/math.cc): row-wise
                folds across tuple columns.
- ``top``       (top.cc:18-72): per-series time-weighted sum with the
                reference's exact accumulation rule (the first sample
                initializes nothing; integration starts at the second
                sample, so contributions exist from the third on);
                emits top-N series by sum desc.
- ``frequent-items``/``heavy-hitters`` (spacesaver.h:55-150,
                spacesaver.cc:6-7): SpaceSaving sketch; at Spark scale we
                compute the EXACT answer (equivalent to 1/error >=
                #series): items whose count (weight for heavy-hitters)
                exceeds portion * total, sorted desc.
- ``eval``      (eval.cc:40-195): scalar expression over the join's
                metric columns; muParser is replaced by Catalyst
                ``expr()``; rows evaluating to NULL/NaN are dropped.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stdb_spark.operators.downsample import hashed_series_apply

EWMA_WARMUP = 10  # sliding_window.cc:7


class ApplyError(ValueError):
    pass


def _scan_window(backward: bool):
    order = F.col("ts").desc() if backward else F.col("ts").asc()
    return Window.partitionBy("series").orderBy(order)


def _field(step: dict, key: str, cast=float, default=None):
    """``cast(step[key])`` (``default`` when absent and not None), raising
    ApplyError that names the node and the field when the field is
    missing or does not convert."""
    if key not in step and default is None:
        raise ApplyError(f"`{step['name']}` requires a `{key}` field")
    raw = step.get(key, default)
    try:
        return cast(raw)
    except (TypeError, ValueError):
        raise ApplyError(f"`{step['name']}` `{key}`: not a number: {raw!r}") from None


def _weights(step: dict, ncols: int) -> list[float]:
    w = step.get("weight", step.get("weights"))
    if w is None:
        raise ApplyError("`scale` requires a `weight` field")
    ws = [float(x) for x in (w if isinstance(w, list) else [w])]
    if len(ws) == 1:
        ws = ws * ncols
    if len(ws) != ncols:
        raise ApplyError(f"scale weights: got {len(ws)}, need {ncols}")
    return ws


def _rowwise_fold(df: DataFrame, cols: list[str], op: str, ignore_missing: bool) -> tuple[DataFrame, list[str]]:
    """sum/diff/multiply/divide across tuple columns -> single `value`."""
    ops = {"sum": "+", "diff": "-", "multiply": "*", "divide": "/"}
    sym = ops[op]
    if ignore_missing:
        neutral = 0.0 if op in ("sum", "diff") else 1.0
        exprs = [F.coalesce(F.col(c), F.lit(neutral)) for c in cols]
    else:
        exprs = [F.col(c) for c in cols]
    acc = exprs[0]
    for e in exprs[1:]:
        if sym == "+":
            acc = acc + e
        elif sym == "-":
            acc = acc - e
        elif sym == "*":
            acc = acc * e
        else:
            acc = acc / e
    out = df.withColumn("value", acc).drop(*[c for c in cols if c != "value"])
    return out.select("series", "ts", "value"), ["value"]


def _ewma_seq(x, decay: float, delta: bool):
    """Reference-exact sequential EWMA fold over a dense float array
    (EWMA::add, sliding_window.cc:23-34) — the semantic ground truth
    the lockstep kernel is tested bit-for-bit against."""
    import numpy as np

    out = np.empty_like(x)
    warm, val = 0, 0.0
    for i in range(len(x)):
        cur = float(x[i])
        exp = cur if warm <= EWMA_WARMUP else val
        out[i] = (cur - exp) if delta else exp
        if warm < EWMA_WARMUP:
            val += cur
            warm += 1
        elif warm == EWMA_WARMUP:
            warm += 1
            val = (val + cur) / float(warm)
            val = cur * decay + val * (1.0 - decay)
        else:
            val = cur * decay + val * (1.0 - decay)
    return out


def _ewma_udf(df: DataFrame, cols: list[str], decay: float, delta: bool, backward: bool) -> DataFrame:
    """Per-series EWMA with the reference's warm-up rule, as a
    lane-lockstep recurrence (_batched_series_apply_lockstep).

    Per lane, in the scalar fold's op order: the first W+1 samples emit
    themselves (``ewma-error``: 0); the seed is the left-to-right sum of
    x[0..W-1], plus x[W], over W+1, blended once with x[W]; from x[W+1]
    on each step emits the prediction ``val`` (``ewma-error``:
    x - val), then ``val = cur*d + val*(1-d)``.  One step per time index
    runs elementwise across all lanes, masked by ``active``, so every
    lane is bit-identical to _ewma_seq for any decay."""
    import numpy as np

    W = EWMA_WARMUP

    def many(X):
        nS, T = X.shape
        outs = X.copy() if not delta else np.zeros_like(X)
        if T <= W + 1:
            return outs
        with np.errstate(invalid="ignore"):
            val = np.zeros(nS)
            for j in range(W):
                val = val + X[:, j]
            cur = X[:, W]
            val = (val + cur) / float(W + 1)
            val = cur * decay + val * (1.0 - decay)
            for i in range(W + 1, T):
                cur = X[:, i]
                active = ~np.isnan(cur)  # NaN padding sits at the end
                outs[active, i] = (cur - val)[active] if delta else val[active]
                val = np.where(active, cur * decay + val * (1.0 - decay), val)
        return outs

    return _batched_series_apply_lockstep(df, cols, backward, many)


# Each padded lockstep matrix holds at most this many doubles (32 MB).
_LOCKSTEP_MAX_ELEMS = 1 << 22


def _batched_series_apply_lockstep(
    df: DataFrame, cols: list[str], backward: bool, many
) -> DataFrame:
    """Run a LANE-LOCKSTEP recurrence kernel ``many(X) -> OUT`` where
    ``X`` is an (n_series, max_len) float64 matrix, one series per row,
    NaN-padded at the END (rows hold each series' dense, NaN-free
    values in ts order); NaN rows pass through untouched and are
    invisible to the kernel (reference rule).

    This is how a sequential recurrence vectorizes WITHOUT changing its
    float semantics: the kernel loops over TIME STEPS and applies each
    step's arithmetic elementwise across all series at once.  Per lane
    the operations and their order are identical to the scalar fold
    (numpy elementwise ops are independently IEEE-rounded per element,
    no cross-lane reduction), so results are bit-exact by construction.

    Series are length-sorted and chunked so each padded matrix stays
    under ``_LOCKSTEP_MAX_ELEMS`` doubles: padding waste is bounded
    (neighbors in the sort have similar lengths) and peak memory is
    capped regardless of how skewed series lengths are.  Shuffle shape:
    downsample.hashed_series_apply."""
    import numpy as np

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["series", "ts"], ascending=[True, not backward]
        ).reset_index(drop=True)
        for c in cols:
            x = pdf[c].to_numpy(dtype="float64", copy=True)
            dense = []
            for _, idx in pdf.groupby("series", sort=False).indices.items():
                xi = x[idx]
                mask = ~np.isnan(xi)
                dense.append((idx[mask], xi[mask]))
            dense.sort(key=lambda t: len(t[1]))
            i0 = 0
            while i0 < len(dense):
                max_len, j = 0, i0
                while j < len(dense):
                    cand = max(max_len, len(dense[j][1]))
                    if (j - i0 + 1) * cand > _LOCKSTEP_MAX_ELEMS and j > i0:
                        break
                    max_len = cand
                    j += 1
                chunk = dense[i0:j]
                X = np.full((len(chunk), max(max_len, 1)), np.nan)
                for r, (_, vals) in enumerate(chunk):
                    X[r, : len(vals)] = vals
                OUT = many(X)
                for r, (pos, vals) in enumerate(chunk):
                    x[pos] = OUT[r, : len(vals)]
                i0 = j
            pdf[c] = x
        return pdf

    return hashed_series_apply(df, fn).drop("_pg")


def _holt_seq(xs, alpha: float, beta: float, delta: bool):
    """Reference-exact scalar Holt fold — the semantic ground truth the
    lockstep kernel is tested bit-for-bit against."""
    import numpy as np

    n = len(xs)
    outs = xs.copy() if not delta else np.zeros_like(xs)
    if n < 2:
        return outs
    l = float(xs[1])
    b = float(xs[1]) - float(xs[0])
    for i in range(2, n):
        cur = float(xs[i])
        f = l + b
        outs[i] = (cur - f) if delta else f
        prev_l = l
        l = alpha * cur + (1.0 - alpha) * (l + b)
        b = beta * (l - prev_l) + (1.0 - beta) * b
    return outs


def _holt_udf(
    df: DataFrame, cols: list[str], alpha: float, beta: float, delta: bool, backward: bool
) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing — the
    trend-aware extension of the reference's EWMA family
    (sliding_window.cc), exposed as apply node ``holt``/``holt-error``.

    Per series (state skips NaN rows):
      out[0] = x0, out[1] = x1 (no forecast until two samples);
      init l = x1, b = x1 - x0;
      for i >= 2: out[i] = l + b (the one-step-ahead forecast), then
        l' = alpha*x[i] + (1-alpha)*(l + b);
        b  = beta*(l' - l) + (1-beta)*b;  l = l'.
    ``holt-error`` emits x[i] - forecast (0 during warm-up).  The fold
    is replicated op-for-op by the DuckDB recursive-CTE oracle, so the
    loop order IS the spec — which is why the vectorization runs the
    loop over time steps with numpy lanes across series
    (_batched_series_apply_lockstep): identical per-series op order,
    bit-exact, ~len(chunk)x fewer Python iterations."""
    import numpy as np

    def many(X):
        nS, T = X.shape
        outs = X.copy() if not delta else np.zeros_like(X)
        if T < 3:
            return outs
        with np.errstate(invalid="ignore"):
            l = X[:, 1].copy()
            b = X[:, 1] - X[:, 0]
            for i in range(2, T):
                cur = X[:, i]
                active = ~np.isnan(cur)  # NaN padding sits at the end
                f = l + b
                outs[active, i] = (cur - f)[active] if delta else f[active]
                l_new = alpha * cur + (1.0 - alpha) * (l + b)
                b_new = beta * (l_new - l) + (1.0 - beta) * b
                l = np.where(active, l_new, l)
                b = np.where(active, b_new, b)
        return outs

    return _batched_series_apply_lockstep(df, cols, backward, many)


def _holt_winters_udf(
    df: DataFrame,
    cols: list[str],
    alpha: float,
    beta: float,
    gamma: float,
    period: int,
    delta: bool,
    backward: bool,
) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing — the
    seasonal extension of ``holt`` (period m >= 2).  Per series (state
    skips NaN rows; the Python loop order IS the spec, replicated
    op-for-op by the recursive-CTE oracle):

      warm-up: out[i] = x[i] for i < m;
      init after the first season:
        l = ((0 + x0) + x1 + ... + x_{m-1}) / m      (left-assoc fold)
        b = (x_{m-1} - x_0) / (m - 1)
        s[j] = x[j] - l                              (j = 0..m-1)
      for i >= m, with p = i mod m:
        out[i] = (l + b) + s[p]                      (one-step forecast)
        l' = alpha*(x[i] - s[p]) + (1-alpha)*(l + b)
        b' = beta*(l' - l) + (1-beta)*b
        s[p] = gamma*((x[i] - l) - b) + (1-gamma)*s[p]   (OLD l, b)
        l, b = l', b'

    ``holt-winters-error`` emits x[i] - forecast (0 during warm-up).
    Vectorized lane-lockstep across series
    (_batched_series_apply_lockstep): the time loop stays sequential,
    each step's arithmetic runs elementwise across lanes in the exact
    scalar op order — bit-identical to _holt_winters_seq."""
    import numpy as np

    m = int(period)

    def many(X):
        nS, T = X.shape
        outs = X.copy() if not delta else np.zeros_like(X)
        if T <= m:
            return outs
        with np.errstate(invalid="ignore"):
            acc = np.zeros(nS)
            for j in range(m):
                acc = acc + X[:, j]
            l = acc / m
            b = (X[:, m - 1] - X[:, 0]) / (m - 1)
            s = X[:, :m] - l[:, None]  # per-lane x[j] - l, scalar order
            s = np.ascontiguousarray(s)
            for i in range(m, T):
                p = i % m
                cur = X[:, i]
                active = ~np.isnan(cur)  # NaN padding sits at the end
                sp = s[:, p]
                f = (l + b) + sp
                outs[active, i] = (cur - f)[active] if delta else f[active]
                l_new = alpha * (cur - sp) + (1.0 - alpha) * (l + b)
                b_new = beta * (l_new - l) + (1.0 - beta) * b
                sp_new = gamma * ((cur - l) - b) + (1.0 - gamma) * sp
                s[:, p] = np.where(active, sp_new, sp)
                l = np.where(active, l_new, l)
                b = np.where(active, b_new, b)
        return outs

    return _batched_series_apply_lockstep(df, cols, backward, many)


def _holt_winters_seq(xs, alpha, beta, gamma, period, delta):
    """Reference-exact scalar Holt-Winters fold — ground truth for the
    lockstep kernel's bit-parity test."""
    import numpy as np

    m = int(period)
    n = len(xs)
    outs = xs.copy() if not delta else np.zeros_like(xs)
    if n <= m:
        return outs
    acc = 0.0
    for j in range(m):
        acc = acc + float(xs[j])
    l = acc / m
    b = (float(xs[m - 1]) - float(xs[0])) / (m - 1)
    s = [float(xs[j]) - l for j in range(m)]
    for i in range(m, n):
        p = i % m
        cur = float(xs[i])
        f = (l + b) + s[p]
        outs[i] = (cur - f) if delta else f
        l_new = alpha * (cur - s[p]) + (1.0 - alpha) * (l + b)
        b_new = beta * (l_new - l) + (1.0 - beta) * b
        s[p] = gamma * ((cur - l) - b) + (1.0 - gamma) * s[p]
        l, b = l_new, b_new
    return outs


def apply_pipeline(
    df: DataFrame,
    steps: Iterable[dict],
    value_cols: list[str],
    backward: bool = False,
) -> tuple[DataFrame, list[str], bool]:
    """Compile the apply chain over ``df(series, ts, *value_cols)``.

    Returns (df, value_cols, preordered) — preordered=True when a
    terminal node (top / frequent-items / heavy-hitters) already fixed
    the output order.
    """
    preordered = False
    for step in steps:
        name = step["name"]
        w = _scan_window(backward)

        if name == "abs":
            for c in value_cols:
                df = df.withColumn(c, F.abs(F.col(c)))
        elif name == "scale":
            for c, wt in zip(value_cols, _weights(step, len(value_cols))):
                df = df.withColumn(c, F.col(c) * F.lit(wt))
        elif name in ("sum", "diff", "multiply", "divide"):
            ignore = bool(step.get("ignore_missing", False))
            df, value_cols = _rowwise_fold(df, value_cols, name, ignore)
        elif name == "rate":
            for c in value_cols:
                prev = F.last(
                    F.when(F.col(c).isNotNull(), F.struct("ts", c)), ignorenulls=True
                ).over(w.rowsBetween(Window.unboundedPreceding, -1))
                prev_t = F.coalesce(prev.getField("ts"), F.lit(0))
                prev_x = F.coalesce(prev.getField(c), F.lit(0.0))
                rate = (F.col(c) - prev_x) / (F.col("ts") - prev_t) * F.lit(1e9)
                df = df.withColumn(c, F.when(F.col(c).isNotNull(), rate))
        elif name in ("accumulate", "cusum"):
            for c in value_cols:
                run = F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0))
                df = df.withColumn(c, F.when(F.col(c).isNotNull(), run))
        elif name in ("sma", "sma-error"):
            # NOTE on join gaps: the frame is PHYSICAL rows, and the
            # warm-up rule (short frame sums coalesce to 0, divisor
            # stays n) is oracle-pinned — so a NULL slot inside the
            # frame also contributes 0, unlike the ewma/holt lockstep
            # kernels where NaN rows are invisible.  On gap-bearing
            # join output prefer ewma, or gapfill before smoothing.
            n = _field(step, "window-width", int, 0)
            if n <= 0:
                raise ApplyError("`sma` requires positive `window-width`")
            for c in value_cols:
                pred = (
                    F.coalesce(F.sum(c).over(w.rowsBetween(-n, -1)), F.lit(0.0)) / n
                )
                out = (F.col(c) - pred) if name == "sma-error" else pred
                df = df.withColumn(c, F.when(F.col(c).isNotNull(), out))
        elif name in ("ewma", "ewma-error"):
            decay = _field(step, "decay")
            df = _ewma_udf(df, value_cols, decay, name == "ewma-error", backward)
        elif name in ("holt", "holt-error"):
            alpha = _field(step, "alpha", default=0.5)
            beta = _field(step, "beta", default=0.3)
            df = _holt_udf(df, value_cols, alpha, beta, name == "holt-error", backward)
        elif name in ("holt-winters", "holt-winters-error"):
            alpha = _field(step, "alpha", default=0.5)
            beta = _field(step, "beta", default=0.3)
            gamma = _field(step, "gamma", default=0.3)
            period = _field(step, "period", int, 0)
            if period < 2:
                raise ApplyError("`holt-winters` requires `period` >= 2")
            df = _holt_winters_udf(
                df, value_cols, alpha, beta, gamma, period,
                name == "holt-winters-error", backward,
            )
        elif name == "cma":
            for c in value_cols:
                run = F.avg(c).over(w.rowsBetween(Window.unboundedPreceding, 0))
                df = df.withColumn(c, F.when(F.col(c).isNotNull(), run))
        elif name == "median":
            # rolling median filter (robust smoothing; absent in the
            # reference's sliding_window.h family).  Odd window widths
            # only, and warm-up rows (< n samples) emit NULL: the 0.5
            # percentile then always lands ON a sample — exact element
            # selection, no interpolation, bit-parity across engines.
            n = _field(step, "window-width", int, 0)
            if n <= 0 or n % 2 == 0:
                raise ApplyError("`median` requires positive odd `window-width`")
            for c in value_cols:
                frame = w.rowsBetween(-(n - 1), 0)
                med = F.expr(f"percentile(`{c}`, 0.5)").over(frame)
                # gate on the NON-NULL count in the frame, not the
                # physical row number: join gaps put NULL slots in the
                # frame, percentile would see an even sample count and
                # emit an interpolated midpoint — breaking the
                # lands-on-a-sample guarantee above
                cnt = F.count(c).over(frame)
                df = df.withColumn(
                    c,
                    F.when(F.col(c).isNotNull() & (cnt >= n), med),
                )
        elif name == "wma":
            # linearly-weighted moving average (exposed extra): the most
            # recent of the n window samples weighs n, the oldest 1 —
            # out = sum((n-j) * x[t-j]) / (n(n+1)/2).  Integer weights ×
            # decimal lags summed left-associated are EXACT; the single
            # closing division is the only float op, so any engine
            # reproduces the result bit-for-bit.  Warm-up rows (< n
            # samples) emit NULL (any NULL lag nulls the decimal sum).
            n = _field(step, "window-width", int, 0)
            if not 0 < n <= 12:
                # the left-assoc decimal chain grows one precision digit
                # per add; 12 terms stays under every engine's 38-digit
                # cap with zero rounding.  Wider smoothing belongs to
                # sma/ewma anyway.
                raise ApplyError("`wma` requires `window-width` in 1..12")
            denom = float(n * (n + 1) // 2)
            for c in value_cols:
                terms = None
                for j in range(n):
                    t = F.lag(F.col(c), j).over(w).cast("DECIMAL(20,10)") * F.lit(
                        n - j
                    ).cast("DECIMAL(4,0)")
                    terms = t if terms is None else terms + t
                df = df.withColumn(c, terms.cast("double") / F.lit(denom))
        elif name == "top":
            n = _field(step, "N", int)
            c = value_cols[0]
            rn = F.row_number().over(w)
            lag_t = F.lag("ts").over(w)
            lag_x = F.lag(c).over(w)
            contrib = F.when(
                F.col("_rn") >= 3,
                (F.col("ts") - F.col("_lt")) / F.lit(1e9) * F.col("_lx"),
            ).otherwise(F.lit(0.0))
            ts_last = F.min("ts") if backward else F.max("ts")
            df = (
                df.withColumn("_rn", rn)
                .withColumn("_lt", lag_t)
                .withColumn("_lx", lag_x)
                .withColumn("_c", contrib)
                .groupBy("series")
                .agg(F.sum("_c").alias("value"), ts_last.alias("ts"))
                .orderBy(F.col("value").desc(), F.col("series"))
                .limit(n)
                .select("series", "ts", "value")
            )
            value_cols = ["value"]
            preordered = True
        elif name in ("frequent-items", "heavy-hitters"):
            portion = _field(step, "portion")
            if not (0.0 <= portion <= 1.0):
                raise ApplyError("`portion` must be within [0, 1]")
            c = value_cols[0]
            weight = F.col(c) if name == "heavy-hitters" else F.lit(1.0)
            ts_first = F.max("ts") if backward else F.min("ts")
            counted = (
                df.withColumn("_w", weight)
                .groupBy("series")
                .agg(F.sum("_w").alias("value"), ts_first.alias("ts"))
            )
            # scalar total broadcast-joined back in: a Window.partitionBy()
            # (no keys) would funnel every per-series row through ONE task —
            # fine at 10^4 series, a bottleneck at 10^8
            total = counted.agg(F.sum("value").alias("_tot"))
            df = (
                counted.crossJoin(F.broadcast(total))
                .filter(F.col("value") > F.col("_tot") * F.lit(portion))
                .orderBy(F.col("value").desc(), F.col("series"))
                .select("series", "ts", "value")
            )
            value_cols = ["value"]
            preordered = True
        elif name == "eval":
            import re

            expr_text = _field(step, "expr", str)
            # metric names become column references — tokenized, not raw
            # substring replace (a metric named `e` or `sum` must not
            # corrupt `exp(...)`).  A token that is a known column and is
            # not called like a function gets backticked; the greedy
            # identifier regex (dots allowed) makes `cpu.user` win over
            # `cpu` for free — eval.cc preProcessExpression
            names = set(value_cols)

            def _quote(m: "re.Match[str]") -> str:
                tok = m.group(0)
                rest = m.string[m.end() : m.end() + 1]
                if tok in names and rest != "(":
                    return f"`{tok}`"
                return tok

            expr_text = re.sub(r"[A-Za-z_][A-Za-z0-9_.]*", _quote, expr_text)
            df = df.withColumn("value", F.expr(expr_text))
            df = df.filter(F.col("value").isNotNull() & ~F.isnan("value"))
            df = df.select("series", "ts", "value")
            value_cols = ["value"]
        else:
            raise ApplyError(f"unknown apply node {name!r}")
    return df, value_cols, preordered
