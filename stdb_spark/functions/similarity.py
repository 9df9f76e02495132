"""Similarity search over embedding columns (array<float>).

Two tiers:

- brute-force cosine top-k: a broadcast of the (tiny) query set against
  the full table; one scan, no shuffle, JVM-side fold arithmetic.  This
  is the exact baseline.
- LSH-bucketed ANN (random hyperplanes): signature = sign-pattern of
  dot products with H deterministic hyperplanes; candidates = same
  bucket (multi-probe over N tables).  The scale path: the bucket join
  replaces the full cross product, turning 100 TB x query into a
  uniform-key hash join.

Dot products use a sequential left fold (``F.aggregate``) over doubles —
the same associativity order an external oracle computes with a written
out sum, so results are bit-reproducible.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in float64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_top_k(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector: scan + per-partition
    top-k (Spark's TakeOrdered) — no shuffle of the full table."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine_expr(F.col(vec_col), q)
    return (
        df.select(F.col(key), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def int8_scale_expr(vec_col: Column) -> Column:
    """Per-vector symmetric int8 scale: max(|x|) / 127 in float64."""
    return F.array_max(F.transform(vec_col, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)


def int8_quantize_expr(vec_col: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: q = floor(x/scale + 0.5) (round
    half-up — identical integer results on any IEEE engine, unlike
    banker's rounding whose half-even tie rule differs by backend).
    Zero vectors (scale 0) quantize to all-zeros."""
    return F.transform(
        vec_col,
        lambda x: F.when(scale == 0.0, F.lit(0)).otherwise(
            F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")
        ),
    )


def quantize_query_int8(query_vec: list[float]) -> tuple[float, list[int]]:
    """Driver-side twin of :func:`int8_quantize_expr` for one query."""
    import math

    scale = max(abs(float(x)) for x in query_vec) / 127.0
    if scale == 0.0:
        return 0.0, [0] * len(query_vec)
    return scale, [int(math.floor(float(x) / scale + 0.5)) for x in query_vec]


def ann_int8_top_k(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors: both sides
    quantize symmetrically, the dot product runs in exact int64 (order
    independent — no float-accumulation nondeterminism at all), and the
    result rescales by the two per-vector scales.  Scores approximate
    the *unnormalized* dot; ranking quality matches float ANN to ~1e-2
    relative error, at a quarter of the scan bytes.

    Plan: one scan + TakeOrdered, same as :func:`brute_force_top_k`."""
    qscale, qvec = quantize_query_int8(query_vec)
    dscale = int8_scale_expr(F.col(vec_col))
    dvec = int8_quantize_expr(F.col(vec_col), dscale)
    qarr = F.array(*[F.lit(int(x)) for x in qvec])
    int_dot = F.aggregate(
        F.zip_with(dvec, qarr, lambda a, b: (a.cast("long") * b.cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = int_dot.cast("double") * dscale * F.lit(float(qscale))
    return (
        df.select(F.col(key), score.alias("qdot"))
        .orderBy(F.col("qdot").desc(), F.col(key))
        .limit(k)
    )


def _local_then_global_top_k(scored: DataFrame, qkey: str, key: str, k: int) -> DataFrame:
    """Exact per-query top-k in two phases.  A single-phase window
    partitioned by qkey funnels |corpus|×|queries| rows onto only
    |queries| reducer partitions — a skew wall when queries are few and
    the corpus is 100 TB.  Phase 1 windows over (qkey,
    spark_partition_id()): same total exchange volume but spread
    uniformly over queries×partitions cells, each reduced to k rows;
    phase 2 re-windows the k×partitions survivors per query — a
    negligible second exchange."""
    from pyspark.sql import Window

    wl = Window.partitionBy(qkey, F.spark_partition_id()).orderBy(
        F.col("cosine").desc(), F.col(key)
    )
    local = scored.withColumn("_lr", F.row_number().over(wl)).filter(
        F.col("_lr") <= k
    )
    w = Window.partitionBy(qkey).orderBy(F.col("cosine").desc(), F.col(key))
    return (
        local.drop("_lr")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    key: str = "vec_id",
    qkey: str = "query_id",
    label_col: str = "label",
) -> DataFrame:
    """Majority-vote k-NN classification: for each query vector, the
    most frequent label among its k cosine-nearest corpus vectors
    (ties: higher votes first, then smallest label — deterministic).
    Returns (qkey, pred_label, votes).

    Plan shape: the query side is broadcast (queries are small by
    definition — a labeling batch), the corpus is scanned ONCE with the
    label carried through, so no second join to recover labels; the
    per-query top-k and the vote both run on one (qkey) exchange.  At
    100 TB swap the cross join for :func:`lsh_top_k_presigned` buckets
    and reuse the same vote tail."""
    from pyspark.sql import Window

    joined = corpus.crossJoin(
        F.broadcast(queries.select(F.col(qkey), F.col(vec_col).alias("_qv")))
    )
    cos = cosine_expr(F.col(vec_col), F.col("_qv"))
    wl = Window.partitionBy(qkey, F.spark_partition_id()).orderBy(
        F.col("cosine").desc(), F.col(key)
    )
    scored = joined.select(
        F.col(qkey), F.col(key), F.col(label_col), cos.alias("cosine")
    )
    # local top-k per input partition before the per-query exchange
    # (see _local_then_global_top_k — labels ride along)
    local = scored.withColumn("_lr", F.row_number().over(wl)).filter(
        F.col("_lr") <= k
    )
    w = Window.partitionBy(qkey).orderBy(F.col("cosine").desc(), F.col(key))
    knn = (
        local.drop("_lr")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    votes = knn.groupBy(qkey, label_col).agg(F.count("*").alias("votes"))
    w2 = Window.partitionBy(qkey).orderBy(F.col("votes").desc(), F.col(label_col).asc())
    return (
        votes.withColumn("_rk", F.row_number().over(w2))
        .filter(F.col("_rk") == 1)
        .select(F.col(qkey), F.col(label_col).alias("pred_label"), "votes")
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5(seed,i):
    reproducible everywhere, no RNG state."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"hp{seed}:{i}".encode()).digest()[:8]
        # map 64 bits to [-1, 1)
        out.append(struct.unpack(">q", h)[0] / float(2**63))
    return out


def lsh_signature_col(vec_col: str, dim: int, n_planes: int, table: int = 0) -> Column:
    """Bit-pattern of signs of dot(vec, hyperplane_j) packed into a long."""
    bits = []
    for j in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, table * 1000 + j)])
        bits.append(
            F.when(dot_expr(F.col(vec_col), plane) >= 0, F.shiftleft(F.lit(1).cast("long"), j))
            .otherwise(F.lit(0).cast("long"))
        )
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def lsh_top_k(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """ANN top-k: union of candidates from n_tables LSH buckets, exact
    cosine re-rank.  Recall < 1 by construction; increase n_tables for
    recall, n_planes for selectivity.  At scale, precompute signatures
    as table columns (write-time) so queries touch only bucket rows."""
    dim = len(query_vec)
    import numpy as np  # local, driver-side only for the query signature

    cands = None
    for t in range(n_tables):
        sig = lsh_signature_col(vec_col, dim, n_planes, t)
        qsig = 0
        for j in range(n_planes):
            plane = _hyperplane(dim, t * 1000 + j)
            if float(np.dot(np.array(query_vec, dtype="float64"), np.array(plane))) >= 0:
                qsig |= 1 << j
        bucket = df.filter(sig == F.lit(qsig))
        cands = bucket if cands is None else cands.unionAll(bucket)
    cands = cands.dropDuplicates([key])
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine_expr(F.col(vec_col), q)
    return (
        cands.select(F.col(key), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def with_lsh_signatures(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    prefix: str = "lsh_sig_",
) -> DataFrame:
    """Write-time signature columns: one long per hash table.  Persist
    the result (ideally partitioned/clustered by a signature) and ANN
    queries become bucket-equality scans — `lsh_top_k` recomputes all
    H dot products per row per query, which is scan-bound at 100 TB."""
    out = df
    for t in range(n_tables):
        out = out.withColumn(
            f"{prefix}{t}", lsh_signature_col(vec_col, dim, n_planes, t)
        )
    return out


def query_lsh_signatures(
    query_vec: list[float], n_planes: int = 8, n_tables: int = 4
) -> list[int]:
    """Driver-side signatures of one query vector, one per hash table."""
    import numpy as np

    qv = np.array(query_vec, dtype="float64")
    sigs = []
    for t in range(n_tables):
        s = 0
        for j in range(n_planes):
            plane = np.array(_hyperplane(len(query_vec), t * 1000 + j))
            if float(np.dot(qv, plane)) >= 0:
                s |= 1 << j
        sigs.append(s)
    return sigs


def lsh_top_k_presigned(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
    prefix: str = "lsh_sig_",
) -> DataFrame:
    """ANN top-k over a table that already carries signature columns
    (see ``with_lsh_signatures``).  The candidate filter is a plain OR
    of long-equality predicates — it reaches Parquet PushedFilters, so
    the scan touches ~n_tables/2^n_planes of the row groups instead of
    computing hyperplane dot products over every row.  Same result set
    as ``lsh_top_k`` (identical buckets, exact cosine re-rank)."""
    qsigs = query_lsh_signatures(query_vec, n_planes, n_tables)
    cond = None
    for t, qs in enumerate(qsigs):
        c = F.col(f"{prefix}{t}") == F.lit(qs)
        cond = c if cond is None else cond | c
    cands = df.filter(cond)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine_expr(F.col(vec_col), q)
    return (
        cands.select(F.col(key), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def centroid_per_label(
    df: DataFrame, vec_col: str = "embedding", label: str = "label"
) -> DataFrame:
    """Per-label mean vector: posexplode + groupBy(label, pos) — scales
    to any corpus (never collects vectors)."""
    exploded = df.select(label, F.posexplode(vec_col).alias("pos", "x"))
    return (
        exploded.groupBy(label, "pos")
        .agg(F.avg("x").alias("mean_x"))
        .groupBy(label)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean_x"))).alias("_s"))
        .select(label, F.transform("_s", lambda s: s.getField("mean_x")).alias("centroid"))
    )


def ivf_top_k(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key: str = "vec_id",
    cell_col: str = "label",
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: vectors are pre-clustered into cells (here the
    table's label column stands in for k-means cell ids — at write time
    a real deployment assigns cells once and clusters storage by them).
    The query probes the n_probe cells whose centroids are nearest, then
    exact-reranks inside them — touching ~n_probe/N_cells of the table.

    Exact within probed cells; recall depends on cell quality, the
    standard IVF trade-off.  Centroids are a tiny per-cell table
    (collected to the driver; broadcast-size by construction)."""
    import numpy as np

    cents = centroid_per_label(df, vec_col, cell_col).collect()
    qv = np.array(query_vec, dtype="float64")
    scored = []
    for row in cents:
        c = np.array(row["centroid"], dtype="float64")
        denom = float(np.linalg.norm(c)) * float(np.linalg.norm(qv))
        scored.append((float(np.dot(c, qv)) / denom if denom else -1.0, row[cell_col]))
    probe = [lbl for _, lbl in sorted(scored, reverse=True)[:n_probe]]
    cands = df.filter(F.col(cell_col).isin(probe))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine_expr(F.col(vec_col), q)
    return (
        cands.select(F.col(key), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def _assign_cells_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """0-based index of the nearest centroid (squared-L2 argmin, first
    index on ties).  Centroids embed as literals, so the whole argmin is
    one JVM expression per row — k dot products, no Python, no shuffle."""
    scores = []
    for c in centroids:
        lit = F.array(*[F.lit(float(x)) for x in c])
        c2 = float(sum(x * x for x in c))
        # |x - c|^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 is constant per row
        scores.append(F.lit(c2) - F.lit(2.0) * dot_expr(F.col(vec_col), lit))
    arr = F.array(*scores)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def _assign_cells_pandas(vec_col: str, centroids: list[list[float]]) -> Column:
    """Arrow-batched nearest-centroid assignment via one BLAS matmul
    per batch (argmin over |c|² − 2·x·c, first index on ties — same
    selection rule as _assign_cells_expr).  The literal-fold expression
    evaluates k dot-product folds through Catalyst's interpreter PER
    ROW; at k ≳ 32 that dominates everything around it (the round-4
    scale rehearsal measured SemDeDup's k=100 assignment as the bulk of
    an 87x blowup at 10x data).  The matmul costs the same flops inside
    vendored BLAS at ~zero interpreter overhead and is k-independent in
    per-row overhead.  Same last-ulp caveat as semantic_dedup_pairs:
    fold vs BLAS dot products can differ in the final ulp, so
    assignments of near-equidistant points may differ between the two
    paths — both are valid nearest-centroid choices."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    c2 = (C * C).sum(axis=1)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int32")
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vs]
        )  # (b, d)
        scores = c2[None, :] - 2.0 * (X @ C.T)
        return pd.Series(np.argmin(scores, axis=1).astype("int32"))

    return assign(F.col(vec_col))


# below this many centroids the literal-fold expression stays cheaper
# than the Arrow round-trip; above it the matmul path wins decisively
ASSIGN_MATMUL_MIN_K = 32


def with_ivf_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Write-time IVF cell assignment: adds a ``cell`` int column.  At
    100 TB the table is then written partitioned (or clustered) by
    ``cell`` so a probe reads only n_probe/k of the data —
    PartitionFilters, not a full scan (same story as the presigned LSH
    path).  Small k assigns via a whole-stage-codegen'd literal argmin;
    large k switches to the Arrow/BLAS matmul assignment."""
    if len(centroids) >= ASSIGN_MATMUL_MIN_K:
        return df.withColumn("cell", _assign_cells_pandas(vec_col, centroids))
    return df.withColumn("cell", _assign_cells_expr(vec_col, centroids))


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding, one row per (label, dimension) — the
    class-prototype table semantic-dedup and IVF seeding start from.

    Flat output (label, pos, centroid) instead of an array column: the
    element sums accumulate as exact decimals per (label, pos), so the
    result is partitioning-independent and value-comparable across
    engines (array columns would compare by repr, decimal rows by
    value).  Plan: posexplode is map-side; ONE exchange on
    (label, pos) with partial aggregation — at 100 TB the shuffle
    volume is #labels × dims, not the corpus."""
    d = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    return (
        d.groupBy("label", "pos")
        .agg(
            F.expr(
                "CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)"
            ).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            "pos",
            (F.col("s") / F.col("n")).alias("centroid"),
        )
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.97,
    vec_col: str = "embedding",
    key: str = "vec_id",
    cell_col: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate discovery (Abbas et al.
    2023): embeddings are bucketed by their nearest k-means centroid and
    cosine pairs are emitted only WITHIN a cell — the cluster structure
    prunes the O(n²) comparison down to sum(cell²), and at 100 TB the
    cell column is a write-time partition key (same pruning story as
    the IVF/presigned-LSH paths) so each cell's pairing is an intra-
    partition join with no global shuffle.

    Returns (a, b, cosine) with a < b and cosine >= threshold.  Recall
    is bounded by the clustering (near-identical vectors land in the
    same cell because argmin is determined by the shared vector);
    cross-cell borderline pairs are the accepted miss, exactly as in
    the published method.

    Physical plan: ONE exchange (hash by cell) feeding an Arrow-batched
    ``applyInPandas`` that runs the intra-cell pairing as a *blocked
    BLAS matmul* (normalize rows once, then ``X[block] @ X.T``).  The
    earlier self-join formulation replicated every vector into each of
    its pairs and folded a per-pair ``aggregate(zip_with(...))`` — dim
    multiplies per pair through Catalyst's interpreter.  The matmul
    ships each vector over the wire ONCE and does the same sum(cell²)·d
    flops inside vendored BLAS, which is the only sane shape for the
    deliberately-quadratic-within-cell step.  Row blocks of 2048 bound
    the score-matrix memory at block × |cell| regardless of cell size;
    at 100 TB the cell column is additionally a write-time partition
    key, so the exchange disappears entirely.

    Determinism caveat: the ``cosine >= threshold`` decision rides on a
    BLAS dot product whose summation order (SIMD width, FMA contraction,
    BLAS build) is platform-dependent — pairs whose true cosine sits
    within ~1 ulp of the threshold can appear or disappear across
    machines, unlike the fixed-order Catalyst folds used by the exact
    oracle paths.  Within one cluster/BLAS build results are stable;
    bit-for-bit cross-platform reproducibility is deliberately traded
    for the ~100x matmul speedup (pin scores if you need it:
    round(cosine, 12) both sides of the threshold)."""
    import numpy as np
    import pandas as pd

    ktype = dict(df.dtypes)[key]
    if cell_col is None:
        cells = with_ivf_cells(df, centroids, vec_col).select(
            "cell", F.col(key).alias("a"), F.col(vec_col).alias("_v")
        )
    else:
        # caller-supplied blocking column (e.g. the deterministic
        # integer cell assignment, so a gate can isolate the BLAS
        # pairing kernel from float-argmin cell-boundary flips)
        cells = df.select(
            F.col(cell_col).alias("cell"),
            F.col(key).alias("a"),
            F.col(vec_col).alias("_v"),
        )
    out_schema = f"a {ktype}, b {ktype}, cosine double"

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a": [], "b": [], "cosine": []})
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0
        X = X / nrm[:, None]
        keys = pdf["a"].to_numpy()
        order = np.argsort(keys, kind="stable")
        X, keys = X[order], keys[order]
        outs_a, outs_b, outs_c = [], [], []
        B = 2048
        for i0 in range(0, n, B):
            S = X[i0 : i0 + B] @ X.T  # (block, n) cosine scores
            ii, jj = np.nonzero(S >= threshold)
            keep = jj > (ii + i0)  # strict upper triangle in global coords
            ii, jj = ii[keep], jj[keep]
            if len(ii):
                outs_a.append(keys[ii + i0])
                outs_b.append(keys[jj])
                outs_c.append(S[ii, jj])
        if not outs_a:
            return pd.DataFrame({"a": [], "b": [], "cosine": []})
        return pd.DataFrame(
            {
                "a": np.concatenate(outs_a),
                "b": np.concatenate(outs_b),
                "cosine": np.concatenate(outs_c),
            }
        )

    return cells.groupBy("cell").applyInPandas(fn, out_schema)


def simplified_silhouette(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label — the
    standard linear-time embedding-clustering quality metric: for each
    vector, a = distance to its own label centroid, b = min distance to
    any other label's centroid, s = (b - a) / max(a, b); report the
    per-label mean and count.  O(n·d·k) instead of the exact
    silhouette's O(n²·d).

    Determinism: centroid means use decimal element sums
    (:func:`label_centroids`); every squared-distance term quantizes to
    DECIMAL(38,8) before the (vector, label) reduction, so the result
    is partitioning- and engine-independent.  Plan: posexplode map-side,
    ONE (key, label) exchange of the distance partial sums (the
    centroid table, #labels × dims rows, broadcasts into the join).
    The explicit repartition on (key, vlabel) hash-satisfies BOTH
    downstream groupings (clustered distribution only needs equal keys
    co-located, and (key, vlabel) is a prefix of (key, vlabel, clabel)),
    so neither aggregate inserts its own exchange — without it Catalyst
    shuffles the n·k distance partials twice (pinned in test_plans).
    When cross-engine bit-parity is not required, the kmeans-style
    collected-centroid broadcast fold (ivf_top_k_exact pattern) is
    the cheaper at-scale variant — no distance exchange at all."""
    cents = label_centroids(emb, label_col, vec_col)
    ex = emb.select(
        F.col(key),
        F.col(label_col).alias("vlabel"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    sq = (
        ex.join(F.broadcast(cents), "pos")
        .repartition(F.col(key), F.col("vlabel"))
        .groupBy(key, "vlabel", F.col("label").alias("clabel"))
        .agg(F.expr("CAST(sum(CAST((CAST(x AS DOUBLE) - centroid) * (CAST(x AS DOUBLE) - centroid) AS DECIMAL(38,8))) AS DOUBLE)").alias("sq"))
    )
    per_vec = sq.groupBy(key, "vlabel").agg(
        F.sqrt(F.max(F.when(F.col("clabel") == F.col("vlabel"), F.col("sq")))).alias("a"),
        F.sqrt(F.min(F.when(F.col("clabel") != F.col("vlabel"), F.col("sq")))).alias("b"),
    )
    s = F.when(F.greatest("a", "b") == 0.0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        per_vec.select(F.col("vlabel").alias("label"), s.alias("_s"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(sum(CAST(_s AS DECIMAL(28,10))) AS DOUBLE) / count(*)"
            ).alias("mean_silhouette"),
        )
    )


def centroid_outliers(
    emb: DataFrame,
    k: float = 3.0,
    label_col: str = "label",
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Per-label embedding outliers: vectors whose squared distance to
    their OWN label centroid exceeds the label's mean + k·σ — the
    mislabeled/garbage-embedding screen that runs right after
    :func:`simplified_silhouette` in an embedding-quality pass.

    Exactness mirrors the silhouette: centroids and every squared-
    distance term go through decimal sums, the per-label moment sums
    quantize the (already 8-dp-exact) distances again, and the flag is
    fixed-order double arithmetic.  Plan: posexplode map-side, ONE
    (key,label) exchange for distances, one tiny per-label rollup; the
    centroid table broadcasts."""
    cents = label_centroids(emb, label_col, vec_col)
    ex = emb.select(
        F.col(key),
        F.col(label_col).alias("vlabel"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    sq = (
        ex.join(
            F.broadcast(cents),
            (ex.pos == cents.pos) & (ex.vlabel == cents.label),
        )
        .groupBy(key, "vlabel")
        .agg(
            F.expr(
                "CAST(sum(CAST((CAST(x AS DOUBLE) - centroid)"
                " * (CAST(x AS DOUBLE) - centroid) AS DECIMAL(38,8)))"
                " AS DOUBLE)"
            ).alias("sq")
        )
    )
    d = "DECIMAL(28,8)"
    m = sq.groupBy(F.col("vlabel").alias("label")).agg(
        F.count("*").alias("n"),
        F.expr(f"CAST(sum(CAST(sq AS {d})) AS DOUBLE)").alias("sx"),
        F.expr(
            f"CAST(sum(CAST(CAST(sq AS {d}) * CAST(sq AS {d})"
            f" AS DECIMAL(38,8))) AS DOUBLE)"
        ).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    thr = mean + F.lit(float(k)) * F.sqrt(F.greatest(var, F.lit(0.0)))
    flagged = (
        sq.join(
            m.select("label", thr.alias("_thr")),
            sq.vlabel == F.col("label"),
        )
        .filter(F.col("sq") > F.col("_thr"))
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("n_outliers"))
    )
    return (
        m.select("label", F.col("n").cast("long").alias("n"), (F.col("sx") / F.col("n")).alias("mean_dist2"))
        .join(flagged, "label", "left")
        .select(
            "label",
            "n",
            "mean_dist2",
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


def pca_spectrum(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Top-k PCA eigenvalue spectrum of the embedding cloud — the
    intrinsic-dimensionality probe (a spectrum dominated by few
    components ⇒ collapsed representation; anisotropy is the classic
    embedding pathology).

    Scale shape: ONE pass — each partition accumulates its d×d Gram
    partial and column sums inside an Arrow ``mapInPandas`` (BLAS
    ``X.T @ X``), ships d²+d+1 numbers, and a single (i, j) aggregate
    merges them; only the d×d covariance ever reaches the driver, where
    the tiny symmetric eigendecomposition runs in numpy.  Returns
    (component, eigenvalue, explained_share) for the top k."""
    import numpy as np
    import pandas as pd

    def gram(batches):
        G = None
        s = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            G = X.T @ X if G is None else G + X.T @ X
            s = X.sum(0) if s is None else s + X.sum(0)
            n += len(X)
        if n:
            d = G.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            rows = {
                "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                "j": np.concatenate([jj.ravel(), np.full(d, -1), [-1]]),
                "v": np.concatenate([G.ravel(), s, [float(n)]]),
            }
            yield pd.DataFrame(rows)

    parts = (
        df.select(vec_col)
        .mapInPandas(gram, schema="i int, j int, v double")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    spark = df.sparkSession
    schema = "component int, eigenvalue double, explained_share double"
    if not parts:  # empty input degrades to an empty spectrum
        return spark.createDataFrame([], schema)
    d = max(r["i"] for r in parts) + 1
    G = np.zeros((d, d))
    s = np.zeros(d)
    n = 0.0
    for r in parts:
        if r["i"] == -1:
            n = r["v"]
        elif r["j"] == -1:
            s[r["i"]] = r["v"]
        else:
            G[r["i"], r["j"]] = r["v"]
    mu = s / n
    C = G / n - np.outer(mu, mu)
    ev = np.linalg.eigvalsh(C)[::-1]
    total = float(ev.sum())
    out = [
        (int(c), float(ev[c]), float(ev[c] / total) if total > 0 else 0.0)
        for c in range(min(k, d))
    ]
    return spark.createDataFrame(out, schema)


# ------------------------------------------------------------------
# Integer fixed-point k-means family — bit-exact across engines.
#
# Floating-point Lloyd's is order-dependent (float averages), so a
# cross-engine value-hash oracle is impossible; operators/graph.py
# proved the fix for PageRank: run the ITERATIVE core in BIGINT fixed
# point with truncating division, making the (tiny, deliberate)
# rounding loss part of the spec and identically reproducible in any
# engine.  Here the same pattern applies to Lloyd's iterations:
#
# - components quantize ONCE to BIGINT multiples of 1/KM_QSCALE via
#   floor(x * KM_QSCALE) (an exact IEEE multiply + floor — identical
#   in Spark, DuckDB, numpy);
# - assignment is integer squared-L2 argmin, lowest index on ties;
# - recentering is SUM(qx) div COUNT(*) — BIGINT truncating division
#   (Spark `div` and DuckDB `//` both truncate toward zero; verified).
#
# Magnitudes: |component| <= ~32 keeps (2*32*QSCALE)^2 * dim < 2^63
# for dim <= 2048; the embedding tables here are unit-scale.  The sum
# in recentering is bounded by n * QSCALE * |x|max — fine to ~1e11
# rows per cell; shard cells before that.
KM_QSCALE = 1_000_000


def quantize_vec_expr(vec_col, qscale: int = KM_QSCALE) -> Column:
    """array<long> of floor(x * qscale) — the one float->int boundary."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * F.lit(float(qscale))).cast("long")
    )


def _assign_q_expr(qvec: Column, centroids: list[list[int]]) -> Column:
    """0-based nearest-centroid index over a PRE-QUANTIZED vector:
    integer squared-L2 argmin, first index on ties (array_position
    returns the first match)."""
    scores = []
    for cvec in centroids:
        lit = F.array(*[F.lit(int(v)).cast("long") for v in cvec])
        scores.append(
            F.aggregate(
                F.zip_with(qvec, lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    arr = F.array(*scores)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def _assign_q_pandas(vec_col: str, centroids: list[list[int]], qscale: int) -> Column:
    """Arrow-batched integer assignment for large k: quantize in numpy
    (same floor(x*qscale)), then an int64 matmul argmin.  All values
    stay integer-exact (products ~1e12, sums < 2^53-free int64 math),
    so the result is bit-identical to _assign_q_expr — unlike the
    float BLAS path, there is no last-ulp caveat here."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)  # (k, d)
    c2 = (C * C).sum(axis=1)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int32")
        Xf = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        X = np.floor(Xf * qscale).astype(np.int64)  # (b, d)
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 constant per row, so
        # argmin over (c2 - 2 x.c) — int64 exact, ties -> first index
        scores = c2[None, :] - 2 * (X @ C.T)
        return pd.Series(np.argmin(scores, axis=1).astype("int32"))

    return assign(F.col(vec_col))


def assign_cells_exact(
    centroids: list[list[int]],
    vec_col: str = "embedding",
    qscale: int = KM_QSCALE,
) -> Column:
    """Nearest-centroid cell over the FLOAT column, via the quantized
    integer argmin — always the Arrow int64-matmul path.  The
    expression form (_assign_q_expr) inlines the quantize transform
    into EVERY centroid's fold when its input is not already a bound
    attribute, so a k-cell assignment re-quantizes the vector k times
    per row through the HOF interpreter (measured 2-3x the whole query
    at k=25); the pandas path quantizes once per batch and is
    bit-identical by construction (int64 exact, first-index ties)."""
    return _assign_q_pandas(vec_col, centroids, qscale)


def kmeans_fit_exact(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    key: str = "vec_id",
    qscale: int = KM_QSCALE,
) -> list[list[int]]:
    """Distributed Lloyd's in integer fixed point — returns BIGINT
    centroids reproducible bit-for-bit by an unrolled-CTE SQL oracle
    (see workloads/docsuite._kmeans_exact_cte).

    Seeds are the k rows with the smallest (md5(key), key) — the same
    deterministic-hash convention as functions/sampling.py, with the
    key tie-break making the order total even under hash collisions.
    Each iteration: integer argmin assignment, then per-(cell, pos)
    recenter as SUM div COUNT.  Empty cells keep their previous
    centroid.  Only k x dim ints reach the driver per iteration."""
    import math

    seed_rows = (
        df.select(
            vec_col,
            F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("_h"),
            F.col(key).alias("_k"),
        )
        .orderBy("_h", "_k")
        .limit(k)
        .collect()
    )
    cents = [
        [math.floor(float(x) * qscale) for x in r[vec_col]] for r in seed_rows
    ]
    k = min(k, len(cents))
    if k == 0:
        raise ValueError("kmeans_fit_exact needs a non-empty input")
    cents = cents[:k]
    for _ in range(iters):
        # always the Arrow assignment: Catalyst collapses a projected
        # _qv back into the consumer, so the expression argmin would
        # re-quantize the vector k times per row (see
        # assign_cells_exact); the pandas path quantizes once per batch
        # and is bit-identical
        assigned = df.select(
            _assign_q_pandas(vec_col, cents, qscale).alias("cell"),
            quantize_vec_expr(vec_col, qscale).alias("_qv"),
        )
        rows = (
            assigned.select("cell", F.posexplode("_qv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .selectExpr("cell", "pos", "s div n AS m")
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_s"))
            .select("cell", F.transform("_s", lambda s: s.getField("m")).alias("c"))
            .collect()
        )
        new = {r["cell"]: [int(v) for v in r["c"]] for r in rows}
        cents = [new.get(i, cents[i]) for i in range(k)]
    return cents


def quantize_query(query_vec: list[float], qscale: int = KM_QSCALE) -> list[int]:
    import math

    return [math.floor(float(x) * qscale) for x in query_vec]


def ivf_probe_cells_exact(
    centroids: list[list[int]],
    query_vec: list[float],
    n_probe: int,
    qscale: int = KM_QSCALE,
) -> list[int]:
    """n_probe cell ids nearest the query by integer squared-L2,
    (dist, cell) ascending — the deterministic probe-ranking rule the
    SQL oracle mirrors."""
    q = quantize_query(query_vec, qscale)
    scored = sorted(
        (sum((a - b) * (a - b) for a, b in zip(c, q)), i)
        for i, c in enumerate(centroids)
    )
    return [i for _, i in scored[:n_probe]]


def ivf_top_k_exact(
    df: DataFrame,
    centroids: list[list[int]],
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key: str = "vec_id",
    n_probe: int = 2,
    qscale: int = KM_QSCALE,
) -> DataFrame:
    """Trained-IVF probe with integer centroids: cell assignment and
    probe ranking are exact integer arithmetic; the within-cell rerank
    is the fixed-order cosine fold (engine-reproducible, same op order
    as the SQL '+' chain).  End-to-end value-hash oracle-able."""
    probe = ivf_probe_cells_exact(centroids, query_vec, n_probe, qscale)
    cands = df.withColumn(
        "cell", assign_cells_exact(centroids, vec_col, qscale)
    ).filter(F.col("cell").isin(probe))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine_expr(F.col(vec_col), q)
    return (
        cands.select(F.col(key), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


def semantic_dedup_pairs_exact(
    df: DataFrame,
    centroids: list[list[int]],
    threshold: float,
    vec_col: str = "embedding",
    key: str = "vec_id",
    qscale: int = KM_QSCALE,
) -> DataFrame:
    """SemDeDup pairing with fully-reproducible arithmetic: integer
    cell assignment + fixed-order fold cosine per within-cell pair, so
    the (a, b, cosine) set value-hash-matches a SQL oracle.  This is
    the GATE twin of :func:`semantic_dedup_pairs`; the BLAS-blocked
    version remains the production path (same pair set up to last-ulp
    threshold straddles, ~100x faster per pair at big cells)."""
    cells = df.withColumn(
        "cell", assign_cells_exact(centroids, vec_col, qscale)
    )
    # norms precompute per VECTOR, not per pair: the values are
    # identical (norm_expr of the same array is the same double
    # whenever it runs), so the oracle's per-pair norm chains still
    # match, at a third of the fold work
    a = cells.select(
        "cell",
        F.col(key).alias("a"),
        F.col(vec_col).alias("_va"),
        norm_expr(F.col(vec_col)).alias("_na"),
    )
    b = cells.select(
        "cell",
        F.col(key).alias("b"),
        F.col(vec_col).alias("_vb"),
        norm_expr(F.col(vec_col)).alias("_nb"),
    )
    cos = dot_expr(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # Catalyst pushes the cosine threshold INTO the join condition —
    # desirable (only surviving pairs ever leave the join) — which
    # means the whole quadratic fold executes inside the join stage.
    # That stage's parallelism is the STREAM side's partitioning, and a
    # compact embeddings file scans as ~1 partition, pinning the entire
    # pairing on one core (caught live during the sf1 full gate).  A
    # round-robin repartition of the stream side BEFORE the join
    # spreads the fold cluster-wide; the build side broadcasts (or
    # hash-joins on cell at sizes past the broadcast threshold).
    n_parts = int(df.sparkSession.sparkContext.defaultParallelism)
    return (
        a.repartition(n_parts)
        .join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def pq_train_exact(
    df: DataFrame,
    dim: int,
    m: int = 4,
    ks: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    key: str = "vec_id",
    qscale: int = KM_QSCALE,
) -> list[list[list[int]]]:
    """PQ codebooks via the exact integer k-means, one per contiguous
    subspace.  All m trainings share the seed rows (the k smallest
    hash keys), so the oracle unrolls them against one exploded CTE."""
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    sub = dim // m
    books = []
    for j in range(m):
        sliced = df.select(
            F.col(key), F.slice(F.col(vec_col), j * sub + 1, sub).alias(vec_col)
        )
        books.append(
            kmeans_fit_exact(
                sliced, k=ks, iters=iters, vec_col=vec_col, key=key, qscale=qscale
            )
        )
    return books


def pq_codes_exact(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    key: str = "vec_id",
    qscale: int = KM_QSCALE,
) -> DataFrame:
    """m-subspace PQ code per vector over the quantized components —
    ONE Arrow batch pass computing all m integer argmins (quantize
    once, int64 matmul per subspace; the expression form re-quantized
    the vector m*ks times per row through the HOF interpreter).
    Map-side, zero shuffles, bit-identical to the integer spec."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.int64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    @pandas_udf("array<int>")
    def codes(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="object")
        Xf = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        X = np.floor(Xf * qscale).astype(np.int64)
        out = np.empty((len(X), m), dtype=np.int32)
        for j, C in enumerate(books):
            Xj = X[:, j * sub : (j + 1) * sub]
            d = (C * C).sum(axis=1)[None, :] - 2 * (Xj @ C.T)
            out[:, j] = np.argmin(d, axis=1).astype(np.int32)
        return pd.Series(list(out))

    return df.select(F.col(key), codes(F.col(vec_col)).alias("code"))


def pq_adc_top_k_exact(
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    key: str = "vec_id",
    qscale: int = KM_QSCALE,
) -> DataFrame:
    """Asymmetric-distance top-k in pure integer arithmetic: the m x ks
    distance table is integer squared-L2 between the QUANTIZED query
    subvectors and the integer codebooks, the score is a BIGINT sum of
    m lookups — no float anywhere, so the output is bit-exact by
    construction."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = quantize_query(query_vec, qscale)
    table = []
    for j, book in enumerate(codebooks):
        qs = q[j * sub : (j + 1) * sub]
        table.append(
            [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book]
        )
    tbl = F.array(
        *[F.array(*[F.lit(int(x)).cast("long") for x in row]) for row in table]
    )
    score = F.aggregate(
        F.zip_with(tbl, F.col("code"), lambda row, c: F.element_at(row, c + 1)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        codes.select(F.col(key), score.alias("adc_dist2"))
        .orderBy(F.col("adc_dist2").asc(), F.col(key).asc())
        .limit(k)
    )


def ivf_label_top_k_exact(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    key: str = "vec_id",
    label_col: str = "label",
    qscale: int = KM_QSCALE,
) -> DataFrame:
    """IVF probe over pre-existing cells (the table's label column)
    with fully-reproducible arithmetic: per-cell centroids are integer
    truncating-division means of the quantized members, the probe
    ranks cells by integer squared-L2 to the quantized query
    ((dist, label) ascending), and the within-cell rerank is the
    fixed-order cosine fold.  The exact-oracle twin of
    :func:`ivf_top_k` (whose float centroid averages are
    engine-order-dependent)."""
    rows = (
        df.select(
            F.col(label_col).alias("lbl"),
            F.posexplode(quantize_vec_expr(vec_col, qscale)).alias("pos", "x"),
        )
        .groupBy("lbl", "pos")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        .selectExpr("lbl", "pos", "s div n AS m")
        .collect()
    )
    cents: dict = {}
    for r in rows:
        cents.setdefault(r["lbl"], {})[r["pos"]] = int(r["m"])
    q = quantize_query(query_vec, qscale)
    scored = sorted(
        (sum((cs[p] - q[p]) ** 2 for p in range(len(q))), lbl)
        for lbl, cs in cents.items()
    )
    probe = [lbl for _, lbl in scored[:n_probe]]
    cands = df.filter(F.col(label_col).isin(probe))
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine_expr(F.col(vec_col), qarr)
    return (
        cands.select(F.col(key), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key))
        .limit(k)
    )


# ------------------------------------------------------------------
# Portable dominant eigenvalue — the spectral probe with a full
# cross-engine oracle.  pca_spectrum's full eigendecomposition is
# numpy's (LAPACK iteration order, platform last-ulp — rows-only by
# rationale); but the DOMINANT eigenvalue is reachable bit-for-bit via
# the operators/graph.py fixed-point recipe: quantize once, keep the
# iterative core in exact integers with truncating rescale, and let
# floats appear only in the final Rayleigh division.
EIG_SCALE_BITS = 20
_EIG_SCALE = 1 << EIG_SCALE_BITS


def _eig_rescale(y: int, am: int) -> int:
    """sign(y) * ((|y| * 2^20) // am): nonnegative truncating division,
    identical in python ints and DuckDB HUGEINT."""
    if am == 0:
        return 0
    return -((-y) * _EIG_SCALE // am) if y < 0 else (y * _EIG_SCALE // am)


def dominant_eigen_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    k_iter: int = 10,
    qscale: int = KM_QSCALE,
    gram_mode: str = "arrow",
) -> DataFrame:
    """(label, n_vecs, lambda1): dominant covariance eigenvalue per
    label by SPEC — k_iter integer power iterations from the all-ones
    vector, reproducible bit-for-bit in any engine.

    Spec: q = floor(x * qscale) per coordinate; per label the scaled
    integer covariance M = n * (Σ q qᵀ) - (Σ q)(Σ q)ᵀ = n² · cov(q)
    (exact, order-free); x⁰ = 1; each iteration y = M x then
    x' = sign(y) * (|y| · 2^20 // max|y|); after k_iter rounds
    lambda1 = (xᵀ M x / xᵀ x) / n² / qscale² — three IEEE divisions on
    correctly-rounded exact integers, so the float appears ONCE and
    identically in both engines.  A zero matrix yields lambda1 = 0.

    Scale shape: the heavy part is the one-pass Gram accumulation —
    by default an Arrow-batched exact int64 matmul per partition
    (``gram_mode="arrow"``: each partition ships d²+d+1 integers per
    label per flush, one (label, i, j) exchange merges partials in
    decimal), with a pure-JVM d²-explode aggregate as the pinned-equal
    reference path (``gram_mode="explode"`` —
    test_dominant_eigen_gram_paths_bit_equal; both are EXACT integer
    sums, so the dispatch can never change answers).  Only
    label-count × d² integer cells reach the driver — an artifact
    bounded by the schema, not the data — where the 64×64 iteration
    runs in exact python ints.  Accuracy vs LAPACK is pinned in
    pytest (test_dominant_eigen_matches_numpy)."""
    q = df.select(
        F.col(label_col).alias("label"), quantize_vec_expr(vec_col, qscale).alias("q")
    )
    if gram_mode == "arrow":
        import numpy as np
        import pandas as pd

        # int64 partial-sum overflow guard: |q| <= qscale * max|x|; with
        # embeddings in [-qscale-ish, qscale-ish] each q_i*q_j term is
        # ~1e12, so flushing partials every 10^6 rows keeps any cell
        # below 1e18 < 2^63 (the flush also bounds task memory).
        flush_rows = 1_000_000

        def gram_batches(batches):
            acc = {}  # label -> [G, s, n]

            def emit():
                for lbl, (G, s, n) in acc.items():
                    d = G.shape[0]
                    ii, jj = np.meshgrid(
                        np.arange(d), np.arange(d), indexing="ij"
                    )
                    yield pd.DataFrame(
                        {
                            "label": np.full(d * d + d + 1, lbl, dtype="int64"),
                            "i": np.concatenate(
                                [ii.ravel(), np.arange(d), [-1]]
                            ).astype("int64"),
                            "j": np.concatenate(
                                [jj.ravel(), np.full(d, -1), [-1]]
                            ).astype("int64"),
                            "v": np.concatenate([G.ravel(), s, [n]]).astype(
                                "int64"
                            ),
                        }
                    )
                acc.clear()

            pending = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                for lbl, grp in pdf.groupby("label"):
                    X = np.asarray(
                        [np.asarray(v, dtype=np.int64) for v in grp["q"]]
                    )
                    G, s, n = acc.get(int(lbl), (0, 0, 0))
                    acc[int(lbl)] = (G + X.T @ X, s + X.sum(0), n + len(X))
                pending += len(pdf)
                if pending >= flush_rows:
                    yield from emit()
                    pending = 0
            yield from emit()

        # Arrow transfer + plain-int assembly (r12): the previous
        # Row-based .collect() + per-Row attribute dict build cost
        # 0.84 s + 1.15 s for labels x d^2 = 41k cells — more than the
        # whole distributed Gram job.  toPandas rides the session's
        # Arrow path (guide §6 "Arrow for driver transfers"); decimal
        # cells arrive as exact decimal.Decimal objects and are
        # converted through int() (exact), so every downstream integer
        # is bit-identical to the Row path.
        ppdf = (
            q.mapInPandas(
                gram_batches, schema="label long, i long, j long, v long"
            )
            .groupBy("label", "i", "j")
            .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
            .toPandas()
        )
        spark = df.sparkSession
        schema = "label int, n_vecs long, lambda1 double"
        if not len(ppdf):
            return spark.createDataFrame([], schema)
        n_by: dict = {}
        s_cells: dict = {}
        g_cells: dict = {}
        for lbl, grp in ppdf.groupby("label"):
            lbl = int(lbl)
            gi = grp["i"].tolist()
            gj = grp["j"].tolist()
            gv = [int(x) for x in grp["v"]]
            for i_, j_, v_ in zip(gi, gj, gv):
                if j_ >= 0:
                    g_cells.setdefault(lbl, []).append((i_, j_, v_))
                elif i_ >= 0:
                    s_cells.setdefault(lbl, []).append((i_, v_))
                else:
                    n_by[lbl] = v_
        d = max(i_ for cells in s_cells.values() for i_, _ in cells) + 1
        s_by = {}
        for lbl, cells in s_cells.items():
            s = [0] * d
            for i_, v_ in cells:
                s[i_] = v_
            s_by[lbl] = s
        g_by = {}
        for lbl, cells in g_cells.items():
            g = [[0] * d for _ in range(d)]
            for i_, j_, v_ in cells:
                g[i_][j_] = v_
            g_by[lbl] = g
        return _eig_finish(spark, schema, n_by, s_by, g_by, d, k_iter, qscale)
    else:
        ex = q.select("label", "q", F.posexplode("q").alias("i", "qi"))
        gram = (
            ex.select("label", "i", "qi", F.posexplode("q").alias("j", "qj"))
            .groupBy("label", "i", "j")
            .agg(F.sum((F.col("qi") * F.col("qj")).cast("decimal(38,0)")).alias("g"))
        )
        sums = ex.groupBy("label", "i").agg(
            F.sum(F.col("qi").cast("decimal(38,0)")).alias("s")
        )
        counts = q.groupBy("label").agg(F.count("*").alias("n"))
        g_rows = gram.collect()  # bounded: labels * d^2 integer cells
        s_rows = sums.collect()
        n_rows = counts.collect()
        g_attr = "g"
    spark = df.sparkSession
    schema = "label int, n_vecs long, lambda1 double"
    if not n_rows:
        return spark.createDataFrame([], schema)
    n_by = {r.label: int(r.n) for r in n_rows}
    d = max(r.i for r in s_rows) + 1
    s_by = {}
    for r in s_rows:
        s_by.setdefault(r.label, [0] * d)[r.i] = int(r.s)
    g_by = {}
    for r in g_rows:
        g_by.setdefault(r.label, [[0] * d for _ in range(d)])[r.i][r.j] = int(
            getattr(r, g_attr)
        )
    return _eig_finish(spark, schema, n_by, s_by, g_by, d, k_iter, qscale)


def _eig_finish(spark, schema, n_by, s_by, g_by, d, k_iter, qscale):
    """The driver-side power iteration shared by both Gram paths."""
    out = []
    for label in sorted(n_by):
        n, s, g = n_by[label], s_by[label], g_by[label]
        my = _eig_matvec_exact(n, s, g, d)
        x = [1] * d
        for _ in range(k_iter):
            y = my(x)
            am = max(abs(v) for v in y)
            x = [_eig_rescale(v, am) for v in y]
        y = my(x)
        num = sum(x[i] * y[i] for i in range(d))
        den = sum(v * v for v in x)
        if den == 0:
            lam = 0.0
        else:
            lam = float(num) / float(den) / float(n * n) / float(qscale * qscale)
        out.append((int(label), n, lam))
    return spark.createDataFrame(out, schema)


def _eig_matvec_exact(n: int, s: list, g: list, d: int):
    """Exact integer mat-vec y = M x for M = n*G - s sᵀ, vectorized when
    bounds allow (r12: the driver-side power iteration was the LARGEST
    single cost of emb_dominant_eigen_portable — 0.96 s of 1.8 s — all
    of it pure-Python big-int loops; guide §1.2 step 2 per-task work).

    Fast path: when every |M_ij| < 2^62, M is split into int64 halves
    M = M_hi * 2^31 + M_lo (0 <= M_lo < 2^31), and y is reassembled
    from two int64 numpy mat-vecs in exact python ints:
    |M_hi| < 2^31, |x| <= 2^20, d <= 2^10 keeps both partial products
    under 2^62 — no overflow, EXACT bit equality with the python loop
    (it is the identical integer sum, reassociated; integer addition is
    associative).  Falls back to the plain python loop whenever the
    bounds cannot be certified (huge per-label counts at extreme
    scale)."""
    import numpy as np

    max_g = max((abs(v) for row in g for v in row), default=0)
    max_s = max((abs(v) for v in s), default=0)
    bound = n * max_g + max_s * max_s
    if bound < (1 << 62) and d <= (1 << 10) and _EIG_SCALE <= (1 << 20):
        G = np.array(g, dtype=np.int64)
        sv = np.array(s, dtype=np.int64)
        M = n * G - np.outer(sv, sv)
        m_hi = M >> 31
        m_lo = M - (m_hi << np.int64(31))

        def my(x):
            xv = np.array(x, dtype=np.int64)
            hi = m_hi @ xv
            lo = m_lo @ xv
            return [(int(h) << 31) + int(l) for h, l in zip(hi, lo)]

        return my
    m = [[n * g[i][j] - s[i] * s[j] for j in range(d)] for i in range(d)]

    def my_slow(x):
        return [sum(m[i][j] * x[j] for j in range(d)) for i in range(d)]

    return my_slow


MMR_SCHEMA = "pick_rank int, vec_id long, rel double, score double"


def mmr_select(
    df: DataFrame,
    query_vec: list[float],
    k: int = 8,
    pool_n: int = 64,
    lam: float = 0.7,
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversification: pick k results that
    balance relevance to the query against redundancy with what is
    already picked — score = lam*rel - (1-lam)*max_sim(x, selected),
    ties broken by key.  The standard RAG / dedup-aware rerank.

    Scale shape: stage 1 is a DISTRIBUTED top-pool_n by relevance
    (TakeOrdered — per-partition top-k, no shuffle of the table); the
    sequential MMR loop then runs over that schema-bounded pool on the
    driver (pool_n x dim floats — the same bounded-artifact rule as
    k-means centroids).  At 100 TB only stage 1 touches the data.

    Determinism: every float op mirrors the SQL oracle's op tree —
    left-to-right fold dot products over float32-exact doubles, one
    multiply per lambda term — so scores reproduce bit-for-bit."""
    import math

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    pool = (
        df.select(
            F.col(key).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            cosine_expr(F.col(vec_col), q).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("vec_id"))
        .limit(pool_n)
        .collect()
    )

    def _dot(a, b):
        acc = 0.0
        for xa, xb in zip(a, b):
            acc = acc + float(xa) * float(xb)
        return acc

    def _norm(a):
        acc = 0.0
        for xa in a:
            acc = acc + float(xa) * float(xa)
        return math.sqrt(acc)

    cand = [
        {"vec_id": r["vec_id"], "vec": list(r["vec"]), "rel": r["rel"],
         "norm": _norm(r["vec"])}
        for r in pool
    ]
    spark = df.sparkSession
    if not cand:
        # empty input: nothing to pick (r8 advice — pop(0) would raise)
        return spark.createDataFrame([], MMR_SCHEMA)
    mu = 1.0 - lam  # driver-side constant; oracle writes the same literal
    picked = []
    # first pick: pure relevance (pool is already (rel desc, id) sorted)
    first = cand.pop(0)
    picked.append((1, first["vec_id"], first["rel"], first["rel"]))
    selected = [first]
    # bound by the ACTUAL pool: with fewer rows than min(k, pool_n) the
    # loop would exhaust cand and unpack best=None (r8 advice)
    for rank in range(2, min(k, pool_n, len(cand) + 1) + 1):
        best = None
        for x in cand:
            msim = None
            for s in selected:
                cos = _dot(x["vec"], s["vec"]) / (x["norm"] * s["norm"])
                if msim is None or cos > msim:
                    msim = cos
            score = lam * x["rel"] - mu * msim
            if (
                best is None
                or score > best[1]
                or (score == best[1] and x["vec_id"] < best[0]["vec_id"])
            ):
                best = (x, score)
        x, score = best
        cand.remove(x)
        selected.append(x)
        picked.append((rank, x["vec_id"], x["rel"], score))
    return spark.createDataFrame(picked, MMR_SCHEMA)


def binary_quantize_expr(vec_col: Column, dim: int) -> Column:
    """Sign-bit binary quantization: bit j set when v[j] > 0 — 64 dims
    pack into ONE long, a 32x storage/shuffle cut over float32 (the
    compression modern vector stores call BQ).  Unlike LSH
    (random-projection signs), BQ keeps the RAW dimension signs, so
    Hamming distance between codes approximates angular distance
    directly and the codes double as a coarse index."""
    if dim > 64:
        # JVM shiftleft wraps the shift amount mod 64, so bit j would
        # silently collide with bit j-64 — the contract is ONE long per
        # vector (r8 advice)
        raise ValueError(f"binary_quantize_expr packs at most 64 dims into one long, got {dim}")
    bits = None
    for j in range(dim):
        b = F.when(
            vec_col.getItem(j).cast("double") > 0.0,
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        bits = b if bits is None else bits.bitwiseOR(b)
    return bits


def ann_binary_top_k(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by Hamming distance between sign-bit codes:
    one scan over codes (at scale a write-time long column — the scan
    reads 8 bytes/vector instead of 256), TakeOrdered(k) on
    (hamming asc, key).  The exactness twin: scores are integers, so
    the result is bit-deterministic with no float accumulation at all."""
    dim = len(query_vec)
    if dim > 64:
        # same one-long contract as binary_quantize_expr: the Python
        # qbits two's-complement fold below handles exactly 64 bits
        raise ValueError(f"ann_binary_top_k packs at most 64 dims into one long, got {dim}")
    qbits = 0
    for j, x in enumerate(query_vec):
        if float(x) > 0.0:
            qbits |= 1 << j
    if qbits >= 1 << 63:
        qbits -= 1 << 64
    code = binary_quantize_expr(F.col(vec_col), dim)
    ham = F.bit_count(code.bitwiseXOR(F.lit(qbits).cast("long")))
    return (
        df.select(F.col(key), ham.cast("long").alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(key))
        .limit(k)
    )
