"""Reproducible sampling and decontamination for training-data pipelines.

At 100 TB, `df.sample()` is the wrong tool: its output depends on the
partitioning and the run (seeded per-task RNG), so a re-run after a
repartition yields a *different* corpus.  Everything here keys the
sampling decision on a content hash instead — the same row is kept or
dropped on every engine, every run, every partitioning, and the filter
is a map-side JVM expression (no shuffle, whole-stage codegen).

The hash is md5-derived (like functions/dedup.py) so the DuckDB oracle
reproduces the exact same sample bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit hash domain (15 hex chars) — fits a signed long, matches
# dedup._md5_long so oracles share one idiom.
HASH_BITS = 60
HASH_DOMAIN = 1 << HASH_BITS


def hash_bucket(c: Column, salt: str = "") -> Column:
    """Uniform deterministic value in [0, 2^60) from a column + salt."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 15), 16, 10
    ).cast("long")


def hash_sample(
    df: DataFrame,
    key: str = "doc_id",
    fraction: float = 0.1,
    salt: str = "s0",
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided only by hash(key, salt).

    Changing ``salt`` draws an independent sample; keeping it fixed makes
    the sample stable across reruns and engines.  Nested property:
    hash_sample(p1) ⊇ hash_sample(p2) when p1 >= p2 (same salt), which
    lets a pipeline carve train/val subsets that never drift."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be within [0, 1]")
    threshold = int(fraction * HASH_DOMAIN)
    return df.filter(hash_bucket(F.col(key), salt) < threshold)


def train_val_test_split(
    df: DataFrame,
    key: str = "doc_id",
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "split0",
) -> DataFrame:
    """Deterministic 3-way split by content-free key hash: adds a
    ``split`` column ('train'/'val'/'test') decided only by
    hash(key, salt), so membership is reproducible across engines,
    reruns, and cluster sizes — no RNG, no global sort, zero shuffles
    (a map-side expression even at 100 TB).  Disjoint hash ranges make
    leakage between splits structurally impossible for distinct keys."""
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError("weights must sum to 1")
    b = hash_bucket(F.col(key), salt)
    t1 = int(weights[0] * HASH_DOMAIN)
    t2 = int((weights[0] + weights[1]) * HASH_DOMAIN)
    split = (
        F.when(b < t1, F.lit("train")).when(b < t2, F.lit("val")).otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def stratified_quota(
    df: DataFrame,
    group_col: str = "source",
    key: str = "doc_id",
    n: int = 10,
    salt: str = "s0",
) -> DataFrame:
    """Exactly-n-per-group deterministic sample (training mixture
    weighting: "take 1M docs from each source").  Rank rows inside each
    group by content hash — a uniform draw, but reproducible — and keep
    the first n.  One shuffle on the group key; groups are processed
    independently so a skewed giant source costs only its own
    partition's sort (Spark spills; no driver involvement)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key), salt).asc(), F.col(key).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    bench_key: str = "doc_id",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Test-set decontamination: corpus docs sharing at least one
    n-gram with a benchmark doc.  Returns
    (doc_id, bench_id, shared_ngrams) — the drop/audit list a training
    pipeline applies before training.

    Plan shape at 100 TB: both sides explode to (ngram_hash, id) —
    map-side — and meet in ONE equi-join on the hash.  The benchmark
    side is small by definition (test sets are thousands of docs), so
    Spark broadcasts its postings and the corpus side never shuffles;
    the count-by-pair aggregate only sees colliding rows (tiny).  The
    8-gram granularity is the public-standard contamination test (e.g.
    GPT-2/3 appendix-style 8-gram overlap).

    ``broadcast_benchmark=False`` drops the broadcast pin for callers
    whose "benchmark" is itself corpus-scale (e.g. cross-corpus overlap
    screens): the join then shuffles both posting sides on the gram
    hash — the explicit hint would otherwise FORCE a broadcast Spark
    can never demote, which is a driver OOM at scale (the
    tools/plans.py broadcast failure mode)."""
    from stdb_spark.functions.dedup import normalized_text

    def postings(df: DataFrame, k: str, out: str) -> DataFrame:
        # Tokens are materialized through an intermediate projection and
        # the grams built as a zip_with fold over n shifted slices —
        # NOT transform(sequence, slice(i, n)), whose per-index slice
        # re-derives the token array per gram (O(tokens²) splitting;
        # benched ~6x slower at sf0.1).  Same construction as
        # dedup.shingles_col.
        toks = F.filter(
            F.split(normalized_text(text_col), " "), lambda t: F.length(t) > 0
        )
        base = df.select(F.col(k).alias(out), toks.alias("_toks"))
        width = F.greatest(F.size("_toks") - (n - 1), F.lit(1))
        grams = F.slice("_toks", 1, width)
        for i in range(1, n):
            grams = F.zip_with(
                grams,
                F.slice("_toks", i + 1, width),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        grams = F.when(F.size("_toks") >= n, grams).otherwise(
            F.array(F.array_join("_toks", " "))
        )
        # The gram hash is ONLY a join key (it never reaches the output),
        # so it uses xxhash64 — JVM codegen, no 32-char hex string to
        # materialize and shuffle — rather than the md5 idiom the
        # oracle-visible hashes use.  The oracle joins on its own md5;
        # equal grams collide identically on both sides either way.
        return base.select(
            out, F.explode(F.array_distinct(grams)).alias("g")
        ).select(out, F.xxhash64(F.col("g")).alias("gh"))

    corp = postings(corpus, key, "doc_id")
    bench = postings(benchmark, bench_key, "bench_id")
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    else:
        bench = bench.hint("shuffle_hash")
    return (
        corp.join(bench, "gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("shared_ngrams"))
    )


def source_mixture(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    key: str = "doc_id",
    salt: str = "mix0",
) -> DataFrame:
    """Epoch-weighted domain mixing (the Pile/Dolma-style mixture step):
    each source's documents appear ``floor(w)`` times per training epoch
    plus one extra copy with probability ``frac(w)``, so e.g. w=2.5
    up-samples a source 2.5× and w=0.3 down-samples to 30%.  Sources
    absent from ``weights`` are dropped (weight 0).

    The fractional copy is decided by hash(key, salt) — the same
    reproducibility contract as :func:`hash_sample`: reruns,
    repartitions, and engines agree bit-for-bit.  The output carries an
    ``epoch`` column (1..copies) so downstream shuffling/packing can
    treat repeats as distinct rows deterministically.

    Plan shape at 100 TB: the weight lookup is a literal CASE chain
    (broadcast-free), the copy count a map-side expression, and the
    repeat an ``explode(sequence(...))`` — zero shuffles; output volume
    is exactly sum(n_s * w_s) rows."""
    chain = None
    for src, wt in sorted(weights.items()):
        cond = F.col(group_col) == F.lit(src)
        chain = F.when(cond, float(wt)) if chain is None else chain.when(cond, float(wt))
    w = chain.otherwise(F.lit(0.0)) if chain is not None else F.lit(0.0)
    n_full = F.floor(w).cast("int")
    frac = w - F.floor(w)
    u = hash_bucket(F.col(key), salt).cast("double") / F.lit(float(HASH_DOMAIN))
    copies = n_full + F.when(u < frac, F.lit(1)).otherwise(F.lit(0))
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("_copies"))))
        .drop("_copies")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key: str = "doc_id",
    salt: str = "w0",
) -> DataFrame:
    """Per-row inclusion with probability = ``weight_col`` (clamped by
    the caller to [0, 1]) — importance sampling for training mixtures
    ("keep long documents more often"), as reproducible as
    :func:`hash_sample`: the decision is hash(key, salt) vs the row's
    own weight, so reruns/repartitions/engines agree bit-for-bit.

    The uniform draw is the hash scaled to [0, 1) by DOUBLE division
    (comparing the raw long against weight * 2^60 would round through
    a double above 2^53 and disagree across engines at the boundary).
    Map-side filter; no shuffle."""
    u = hash_bucket(F.col(key), salt).cast("double") / F.lit(float(HASH_DOMAIN))
    return df.filter(u < F.col(weight_col))
