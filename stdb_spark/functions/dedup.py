"""Deduplication operators for training-data pipelines.

Four families, each designed around Spark's shuffle model:

- exact:        hash-groupBy on a normalized digest — one shuffle.
- MinHash+LSH:  shingle -> K minhashes -> B bands; candidate pairs only
                where a band bucket collides (bucket-join), so the
                quadratic pair space never materializes.  At 100 TB the
                band join is the only shuffle and its keys are uniform
                by construction (hash values), so no skew.
- SimHash:      64-bit signature; near-dups = small Hamming distance.
- n-gram Jaccard: exact verification on candidate pairs (or, at small
                scale, within a blocking key).

All hashes are md5-derived so any engine (e.g. the DuckDB oracle) can
reproduce them bit-for-bit; xxhash64 would be Spark-private.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stdb_spark.functions.text import tokens_col
from stdb_spark.operators.graph import _persisted, _run_edge_kernel


def _md5_long(c: Column, salt: str = "") -> Column:
    """Deterministic 60-bit positive int from md5 (cross-engine
    reproducible: DuckDB = ('0x' || substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), c)), 1, 15), 16, 10).cast(
        "long"
    )


def normalized_text(text_col: str = "text") -> Column:
    return F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")


def exact_duplicates(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) documents.
    Returns (digest, dup_count, min_doc_id) for groups with >1 member —
    the survivor-selection step keeps min_doc_id."""
    digest = F.md5(normalized_text(text_col))
    return (
        df.select(digest.alias("digest"), F.col(key))
        .groupBy("digest")
        .agg(F.count("*").alias("dup_count"), F.min(key).alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over an ALREADY-MATERIALIZED token
    array column.

    Built as a fold of zip_with over n shifted slices of the token
    array rather than transform(sequence, slice(i, n)) — the per-index
    slice form re-copies the token array per gram and benches ~2.5x
    slower in codegen.

    Callers must project the token array into its own column first
    (``with_shingles`` does): this expression references ``toks``
    ~(n+4) times, and with the tokenize expression inlined (zip_with
    blocks codegen, so there is no subexpression elimination) each
    reference would re-run split/lower/regexp per row — the r7 plan
    audit measured 8 tokenize copies per document."""
    width = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.slice(toks, 1, width)
    for i in range(1, n):
        part = F.slice(toks, i + 1, width)
        grams = F.zip_with(grams, part, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


def with_shingles(
    df: DataFrame, keep: list, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(keep..., _sh) with the token array materialized as its own
    projection step so the shingle fold reads a column, not an inlined
    tokenize expression (see shingles_from_tokens).

    ``keep`` must not collide with the two internal working names (r7
    ADVICE: a collision would make the second select ambiguous)."""
    kept_names = {c for c in keep if isinstance(c, str)}
    for reserved in ("_t", "_sh"):
        if reserved in kept_names:
            raise ValueError(f"with_shingles: keep column {reserved!r} is reserved")
    return df.select(
        *keep, tokens_col(normalized_text(text_col)).alias("_t")
    ).select(*keep, shingles_from_tokens(F.col("_t"), n).alias("_sh"))


def shingles_col(text_col: str = "text", n: int = 3) -> Column:
    """Single-Column shingle expression (compat surface).  Prefer
    ``with_shingles`` — this form inlines the tokenize per reference."""
    return shingles_from_tokens(tokens_col(normalized_text(text_col)), n)


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Distribute per-row heavy work.  Small inputs often arrive as a
    single parquet file -> one scan task; tokenize/hash pipelines must be
    spread across cores (locally) / executors (on a cluster) first, and
    an explicit exchange also stops Catalyst's project-collapse from
    inlining the tokenization into every downstream hash expression."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *cols)


# Universal-hash family for minhash: sig[i] = min over shingles of
# (A[i]*h32 + B[i]) % MINHASH_PRIME, where h32 is ONE md5-derived
# 32-bit value per shingle.  One crypto hash + K multiply-add-mods per
# shingle instead of K salted md5's — the per-shingle map work drops
# ~K-fold, which is the dominant cost of dedup at 100 TB.  Constants
# are md5-derived (odd A, 28-bit) so the DuckDB oracle embeds the same
# literals; all arithmetic stays below 2^62, so signed-64 engines agree
# bit-for-bit.
MINHASH_PRIME = (1 << 61) - 1
_MAX_HASHES = 64
MINHASH_A = [
    int(hashlib.md5(f"mhA{i}".encode()).hexdigest()[:7], 16) * 2 + 1
    for i in range(_MAX_HASHES)
]
MINHASH_B = [
    int(hashlib.md5(f"mhB{i}".encode()).hexdigest()[:7], 16)
    for i in range(_MAX_HASHES)
]


def shingle_hash32(c: Column) -> Column:
    """32-bit hash of a shingle: first 8 hex digits of md5.
    DuckDB: ('0x' || substr(md5(x), 1, 8))::BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", key: str = "doc_id",
    num_hashes: int = 32, shingle_n: int = 3,
) -> DataFrame:
    """(key, sig array<long>): universal-hash minhash (see constants above).

    Shape chosen for scale: explode shingles once, hash each shingle
    once, compute the K permutation hashes as flat arithmetic columns,
    groupBy(key) with K min() partials.  A nested array<->transform
    formulation would re-evaluate the tokenization per hash (Catalyst
    collapses projections) and resists whole-stage codegen; the flat
    plan is one exchange + hash-aggregate, and the repartition key
    equals the groupBy key so the agg reuses the exchange instead of
    shuffling twice.
    """
    ex = with_shingles(
        _spread(df.select(F.col(key), F.col(text_col)), key),
        [F.col(key)], text_col, shingle_n,
    ).select(F.col(key), F.explode("_sh").alias("_s"))
    hs = ex.select(F.col(key), shingle_hash32(F.col("_s")).alias("_h"))
    mins = hs.groupBy(key).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("_h") + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_PRIME)
            ).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        F.col(key), F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    key: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH banding: equal band-slices -> candidate pair.  Returns distinct
    (a, b) with a < b.  The self-join is on (band_idx, band_hash) — a
    uniform key, broadcast-free, skew-free for *near*-duplicate data.

    ``bucket_cap``: skip (band, bucket) groups larger than the cap.
    EXACT-duplicate classes collide in every band, so a boilerplate page
    copied c times emits bands*c^2/2 candidate rows — at web scale
    (c ~ 10^6) that is the quadratic blowup again.  The standard
    pipeline order is exact-dedup first (``exact_duplicates``), then
    LSH over survivors; the cap is the backstop when that invariant is
    violated.  Default None keeps exact recall (and oracle parity).

    ``bands * rows_per_band`` must not exceed the signature length:
    an out-of-range slice would return EMPTY arrays, hashing every doc
    into one shared md5('') bucket per excess band — the silent
    all-pairs quadratic blowup this check exists to prevent."""
    nb = bands
    r = rows_per_band
    # in-plan guard (no extra job — the lineage may be the whole
    # minhash computation): any row with a too-short signature aborts
    # the action instead of silently mass-bucketing
    sigs = sigs.withColumn(
        "sig",
        F.when(
            F.size("sig") >= nb * r, F.col("sig")
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"bands*rows_per_band = {nb * r} exceeds the minhash "
                    "signature length — excess bands would slice empty "
                    "and bucket ALL docs together"
                )
            )
        ),
    )
    banded = sigs.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * r + 1, r), lambda x: x.cast("string")
                                ),
                                ",",
                            )
                        ).alias("bucket"),
                    )
                    for b in range(nb)
                ]
            )
        ).alias("bb"),
    ).select(key, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # postings-list pair generation (one shuffle) instead of a self-join
    # that would recompute the signature pipeline for both sides
    grouped = banded.groupBy("band", "bucket").agg(
        F.collect_list(F.col(key)).alias("ds")
    )
    if bucket_cap is not None:
        grouped = grouped.filter(F.size("ds") <= bucket_cap)
    return (
        grouped.select(F.explode("ds").alias("a"), F.col("ds"))
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def minhash_lsh_estimates(
    sigs: DataFrame,
    key: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
    b: int | None = None,
) -> DataFrame:
    """Fused LSH banding + signature-estimate verify: the signatures
    RIDE THROUGH the banding postings, so every candidate pair already
    carries both signatures and the estimate is a map-side expression —
    the two signature-lookup shuffle-hash joins of the two-step form
    (minhash_lsh_candidates -> minhash_jaccard_estimate) disappear
    (guide §2.4 "remove shuffles outright").

    Shuffle-byte accounting at scale: this moves ``bands`` copies of
    each signature through ONE postings exchange (bands x 32 longs per
    doc — bounded, linear in the corpus), where the two-step form moves
    two signature copies per CANDIDATE side through the lookup joins
    plus the candidate list twice — pair-proportional, which for
    near-dup-heavy corpora is the larger and far less predictable
    number.  Candidate SET and estimate arithmetic are identical to the
    two-step form: pairs dedup on (a, b) (signatures are a pure
    function of the doc, so which duplicate survives is immaterial) and
    the zip_with slot comparison is the same expression tree.

    ``b``: None returns (a, b, est_jaccard); an integer returns the
    b-bit audit shape (a, b, est_full, est_bbit) of
    :func:`bbit_minhash_estimate`.

    Memory note (r11 ADVICE): the fused form's postings rows carry the
    full signature per member, so an UNCAPPED hot bucket (a boilerplate
    page exact-duplicated c times) costs ~33x the key-only candidates
    form in unsplittable per-row aggregation memory.  ``bucket_cap`` is
    the documented backstop — scale deployments must set it (the
    standard pipeline runs exact-dedup first, which removes the hot
    buckets entirely); the in-repo eval callers run uncapped
    deliberately for exact recall at bounded eval scale."""
    nb, r = bands, rows_per_band
    sigs = sigs.withColumn(
        "sig",
        F.when(F.size("sig") >= nb * r, F.col("sig")).otherwise(
            F.raise_error(
                F.lit(
                    f"bands*rows_per_band = {nb * r} exceeds the minhash "
                    "signature length — excess bands would slice empty "
                    "and bucket ALL docs together"
                )
            )
        ),
    )
    banded = sigs.select(
        F.col(key),
        F.col("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bd).alias("band"),
                        F.md5(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", bd * r + 1, r),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("bucket"),
                    )
                    for bd in range(nb)
                ]
            )
        ).alias("bb"),
    ).select(
        F.col(key), F.col("sig"), F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    grouped = banded.groupBy("band", "bucket").agg(
        F.collect_list(
            F.struct(F.col(key).alias("k"), F.col("sig").alias("s"))
        ).alias("ds")
    )
    if bucket_cap is not None:
        grouped = grouped.filter(F.size("ds") <= bucket_cap)
    pairs = (
        grouped.select(F.explode("ds").alias("x"), F.col("ds"))
        .select("x", F.explode("ds").alias("y"))
        .filter(F.col("x.k") < F.col("y.k"))
        .select(
            F.col("x.k").alias("a"),
            F.col("y.k").alias("b"),
            F.col("x.s").alias("sig_a"),
            F.col("y.s").alias("sig_b"),
        )
        .dropDuplicates(["a", "b"])
    )
    frac_full = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    ) / F.size("sig_a")
    if b is None:
        return pairs.select("a", "b", frac_full.alias("est_jaccard"))
    mask1 = (1 << b)
    c = 1.0 / mask1
    frac_bbit = (
        F.size(
            F.filter(
                F.zip_with(
                    "sig_a", "sig_b", lambda x, y: (x % mask1) == (y % mask1)
                ),
                lambda eq: eq,
            )
        ).cast("double")
        / F.size("sig_a")
    )
    return pairs.select(
        "a",
        "b",
        frac_full.cast("double").alias("est_full"),
        F.greatest(
            (frac_bbit - F.lit(c)) / F.lit(1.0 - c), F.lit(0.0)
        ).alias("est_bbit"),
    )


def minhash_jaccard_estimate(
    sigs: DataFrame, candidates: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """Estimated Jaccard = fraction of equal signature slots.

    Both join inputs are corpus-proportional (the banded candidate
    pair set and the signature table), so the two lookups are pinned
    to shuffle-hash joins: Catalyst's static size estimate for these
    derived subtrees routinely lands under the session's 64 MB
    broadcast threshold, and the resulting BroadcastHashJoin OOMs the
    driver once the corpus outgrows it (observed at the 100x
    rehearsal: "Not enough memory to build and broadcast").  A
    shuffle-hash join on the candidate keys is the plan a 1000-executor
    run needs anyway — per-partition signature maps, no driver-side
    build."""
    sa = sigs.select(F.col(key).alias("a"), F.col("sig").alias("sig_a")).hint(
        "shuffle_hash"
    )
    sb = sigs.select(F.col(key).alias("b"), F.col("sig").alias("sig_b")).hint(
        "shuffle_hash"
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
            )
        )
        / F.size("sig_a")
    )
    return (
        candidates.join(sa, "a").join(sb, "b").select("a", "b", est.alias("est_jaccard"))
    )


def bbit_minhash_estimate(
    sigs: DataFrame, candidates: DataFrame, key: str = "doc_id", b: int = 2
) -> DataFrame:
    """b-bit minwise hashing (Li & Koenig, "b-Bit Minwise Hashing",
    WWW'10): store only the lowest ``b`` bits of each minhash slot —
    a 30x signature-storage cut at b=2 against 60-bit slots, THE lever
    when the dedup index itself is 100 TB-scale — and unbias the
    matched-slot fraction: for non-identical sets the truncated slots
    still collide by chance with probability C ~= 2^-b, so
    E[frac_match] = C + (1 - C) * J and J_hat = (frac - C) / (1 - C),
    floored at 0.  Emits the full-width estimate next to the b-bit one
    so the entry doubles as an accuracy audit of the compression.

    Same join shape as :func:`minhash_jaccard_estimate`: candidates
    (from LSH banding) x two bounded signature lookups — at scale both
    joins are on the (already banded) candidate keys, no new shuffle
    class.  The signature lookups carry the same shuffle-hash pin as
    :func:`minhash_jaccard_estimate` (both sides corpus-proportional —
    a static-estimate broadcast OOMs at 100x)."""
    mask = (1 << b) - 1
    c = 1.0 / (1 << b)
    sa = sigs.select(F.col(key).alias("a"), F.col("sig").alias("sig_a")).hint(
        "shuffle_hash"
    )
    sb = sigs.select(F.col(key).alias("b"), F.col("sig").alias("sig_b")).hint(
        "shuffle_hash"
    )
    # minhash slots are nonnegative (universal hash mod a positive
    # prime), so % == pmod == low-bit mask in both engines
    frac_full = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
            )
        ).cast("double")
        / F.size("sig_a")
    )
    frac_bbit = (
        F.size(
            F.filter(
                F.zip_with(
                    "sig_a", "sig_b", lambda x, y: (x % (mask + 1)) == (y % (mask + 1))
                ),
                lambda eq: eq,
            )
        ).cast("double")
        / F.size("sig_a")
    )
    est_bbit = F.greatest(
        (frac_bbit - F.lit(c)) / F.lit(1.0 - c), F.lit(0.0)
    )
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", frac_full.alias("est_full"), est_bbit.alias("est_bbit"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs formed by exploding
    shingles and joining on them (optionally also blocked by
    ``block_col``).  inter/union are exact small-int ratios, so results
    are bit-identical across engines.

    ``df_cap``: drop shingles whose document frequency (postings-list
    length, per block) exceeds the cap BEFORE pair emission.  A
    stop-shingle ("of the"-class trigram) shared by 10^6 docs would emit
    ~5*10^11 pair rows — quadratic in df — so at scale a cap is not
    optional.  Dropped shingles no longer contribute to ``inter``
    (standard stop-shingle practice; pairs whose only overlap is
    stop-shingles disappear), mirroring the reference's
    sketch-over-exact philosophy (spacesaver.h:11-150).  Callers that
    need an oracle-exact result must mirror the same df filter on the
    oracle side.

    Scale path: the shingle join produces one row per shared shingle —
    at 100 TB pair this with MinHash-LSH candidates instead of raw
    shingle join (use ``minhash_lsh_candidates`` then verify here), and
    set ``df_cap`` (e.g. 1000).
    """
    blocks = [F.col(block_col)] if block_col else []
    base = with_shingles(
        _spread(df.select(F.col(key), *blocks, F.col(text_col)), key),
        [F.col(key), *blocks], text_col, n,
    )
    sh = base.select(
        F.col(key),
        *blocks,
        F.size("_sh").alias("n_sh"),
        F.explode("_sh").alias("shingle"),
    )
    # One shuffle instead of a self-join (which would exchange the
    # exploded table twice): group the postings per (block, shingle),
    # then emit the i<j pairs map-side with two chained explodes.  A
    # shingle shared by c docs yields c^2/2 pair rows — identical to the
    # join's output; the groupBy keys (hash-like shingles) are uniform,
    # and the postings list for one shingle is bounded by block size.
    grouped = sh.groupBy(*blocks, "shingle").agg(
        F.collect_list(F.struct(F.col(key).alias("k"), F.col("n_sh").alias("n"))).alias("ds")
    )
    if df_cap is not None:
        grouped = grouped.filter(F.size("ds") <= df_cap)
    pairs = (
        grouped.select(F.explode("ds").alias("x"), F.col("ds"))
        .select("x", F.explode("ds").alias("y"))
        .filter(F.col("x.k") < F.col("y.k"))
    )
    inter = pairs.groupBy(
        F.col("x.k").alias("a"),
        F.col("y.k").alias("b"),
        F.col("x.n").alias("na"),
        F.col("y.n").alias("nb"),
    ).agg(F.count("*").alias("inter"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment C(A,B) = |A∩B| / |A| — the
    partial-duplicate / quote-inclusion detector Jaccard misses: a short
    doc fully embedded in a long one has tiny Jaccard but containment
    1.0 (Broder's original resemblance-vs-containment distinction,
    "On the resemblance and containment of documents", 1997).

    Emits one row per unordered candidate pair with BOTH directions
    (``cont_a_in_b``, ``cont_b_in_a``); a pair survives when either
    direction >= ``threshold``.  Same single-exchange postings shape
    and ``df_cap`` stop-shingle guard as :func:`ngram_jaccard_pairs`
    (the cap is what keeps pair emission linear at 100 TB)."""
    blocks = [F.col(block_col)] if block_col else []
    base = with_shingles(
        _spread(df.select(F.col(key), *blocks, F.col(text_col)), key),
        [F.col(key), *blocks], text_col, n,
    )
    sh = base.select(
        F.col(key),
        *blocks,
        F.size("_sh").alias("n_sh"),
        F.explode("_sh").alias("shingle"),
    )
    grouped = sh.groupBy(*blocks, "shingle").agg(
        F.collect_list(F.struct(F.col(key).alias("k"), F.col("n_sh").alias("n"))).alias("ds")
    )
    if df_cap is not None:
        grouped = grouped.filter(F.size("ds") <= df_cap)
    pairs = (
        grouped.select(F.explode("ds").alias("x"), F.col("ds"))
        .select("x", F.explode("ds").alias("y"))
        .filter(F.col("x.k") < F.col("y.k"))
    )
    inter = pairs.groupBy(
        F.col("x.k").alias("a"),
        F.col("y.k").alias("b"),
        F.col("x.n").alias("na"),
        F.col("y.n").alias("nb"),
    ).agg(F.count("*").alias("inter"))
    cab = F.col("inter") / F.col("na")
    cba = F.col("inter") / F.col("nb")
    return (
        inter.select(
            "a", "b", cab.alias("cont_a_in_b"), cba.alias("cont_b_in_a")
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


def simhash(df: DataFrame, text_col: str = "text", key: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash over word shingles: bit j of the signature is the
    sign of sum over shingles of (+1 if md5-bit j set else -1).

    Shape: tokenize/shingle/explode in the JVM (codegen'd, the shingle
    spec shared with the oracle), then ONE map-side Arrow kernel per
    partition computes md5, the per-bit vote sums and the final
    signature with numpy — the former 64-column sum() hash-aggregate
    is gone and NOTHING shuffles (``_spread`` already co-locates each
    doc's shingles on one partition, so the kernel's per-doc vote sums
    are complete; guide §4.2).

    Bit-parity: hashlib.md5 over the shingle's UTF-8 bytes is the
    identical digest Spark's/DuckDB's md5 produce; ``h``/``l`` are the
    same first/second 4-byte big-endian words the hex-prefix conv()
    form extracted, and the vote rule (bit j set iff 2·s_j > count)
    is integer arithmetic — bit-for-bit the old aggregate (pinned by
    test_simhash_kernel_matches_aggregate_form and the unchanged
    DuckDB oracles)."""
    if bits != 64:
        raise ValueError("simhash: only the 64-bit form is specified")
    ex = with_shingles(
        _spread(df.select(F.col(key), F.col(text_col)), key), [F.col(key)], text_col
    ).select(F.col(key), F.explode("_sh").alias("_s"))
    id_type = dict(ex.dtypes)[key]
    return ex.mapInPandas(
        _simhash_vote_kernel(key), f"{key} {id_type}, simhash long"
    )


def _simhash_vote_kernel(key: str):
    def fn(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(64, dtype=np.uint64)
        # a doc's rows can straddle Arrow batch boundaries: accumulate
        # (count, per-bit set-count vector) per doc across batches
        counts: dict = {}
        votes: dict = {}
        id_dtype = None
        for pdf in batches:
            if id_dtype is None:
                id_dtype = pdf[key].dtype
            md5 = hashlib.md5
            v64 = np.fromiter(
                (
                    int.from_bytes(md5(s.encode("utf-8")).digest()[:8], "big")
                    for s in pdf["_s"]
                ),
                dtype=np.uint64,
                count=len(pdf),
            )
            # hex-prefix parity: h = bytes[0:4] BE, l = bytes[4:8] BE;
            # bit j of the signature reads h bit j (j<32) / l bit j-32,
            # i.e. bit j of (l<<32 | h)
            h = v64 >> np.uint64(32)
            l_ = v64 & np.uint64(0xFFFFFFFF)
            w = (l_ << np.uint64(32)) | h
            bits_m = ((w[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            for doc, idx in pd.Series(range(len(pdf))).groupby(
                pdf[key], sort=False
            ).indices.items():
                counts[doc] = counts.get(doc, 0) + len(idx)
                prev = votes.get(doc)
                s = bits_m[idx].sum(axis=0)
                votes[doc] = s if prev is None else prev + s
        ids = list(votes.keys())
        if not ids:
            # object dtype converts to any declared Arrow key type
            yield pd.DataFrame(
                {key: pd.Series([], dtype="object"),
                 "simhash": pd.Series([], dtype="int64")}
            )
            return
        S = np.vstack([votes[d] for d in ids])
        C = np.array([counts[d] for d in ids], dtype=np.int64)
        set_bits = (2 * S > C[:, None]).astype(np.uint64)
        words = (set_bits << shifts).sum(axis=1, dtype=np.uint64)
        yield pd.DataFrame(
            {
                key: pd.Series(ids, dtype=id_dtype),
                "simhash": pd.Series(words.view(np.int64)),
            }
        )

    return fn


def hamming_pairs(
    sigs: DataFrame,
    key: str = "doc_id",
    sig_col: str = "simhash",
    max_distance: int = 3,
    blocks: int = 4,
    group_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash signatures —
    FULL recall via the pigeonhole blocking scheme: split the 64-bit
    signature into ``blocks`` equal slices; any pair with distance <
    ``blocks`` must agree on at least one slice, so checking every slice
    misses nothing (requires max_distance <= blocks - 1, asserted).

    Shape: one postings shuffle, not ``blocks`` self-joins — explode each
    signature into (block_idx, block_bits) postings, group, emit i<j
    pairs with chained explodes (same pattern as minhash_lsh_candidates),
    verify exact bit_count distance, distinct (a pair may collide in
    several blocks).

    ``group_cap``: skip (block_idx, block_bits) postings groups larger
    than the cap before pair emission.  Degenerate block values — e.g.
    the all-zeros 16-bit slice that every near-empty document shares —
    form quadratic groups (c^2/2 pair rows for c members).  Capping
    trades the full-recall guarantee for bounded work: a pair whose
    *only* agreeing slice was capped is missed; pairs agreeing on any
    surviving slice are still found.  Default None keeps exact recall
    (and oracle parity); set at scale (e.g. 10_000)."""
    if max_distance > blocks - 1:
        raise ValueError(
            f"max_distance={max_distance} needs > {blocks} blocks for full recall"
        )
    width = 64 // blocks
    mask = (1 << width) - 1
    posting = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("bi"),
                    F.shiftrightunsigned(F.col(sig_col), i * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("bv"),
                )
                for i in range(blocks)
            ]
        )
    )
    posted = sigs.select(F.col(key), F.col(sig_col), posting.alias("_p")).select(
        key, sig_col, F.col("_p.bi").alias("bi"), F.col("_p.bv").alias("bv")
    )
    grouped = posted.groupBy("bi", "bv").agg(
        F.collect_list(F.struct(F.col(key).alias("k"), F.col(sig_col).alias("s"))).alias(
            "ds"
        )
    )
    if group_cap is not None:
        grouped = grouped.filter(F.size("ds") <= group_cap)
    pairs = (
        grouped.select(F.explode("ds").alias("x"), F.col("ds"))
        .select("x", F.explode("ds").alias("y"))
        .filter(F.col("x.k") < F.col("y.k"))
    )
    dist = F.bit_count(F.col("x.s").bitwiseXOR(F.col("y.s")))
    return (
        pairs.select(
            F.col("x.k").alias("a"), F.col("y.k").alias("b"), dist.alias("hamming")
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    key: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold.  Blocked
    self-join (block_col, e.g. an LSH bucket or label) to avoid the full
    quadratic pair space; exact within blocks.

    An unblocked call is an O(n^2) cartesian product — refused unless
    ``allow_full_cross=True`` (tiny/debug inputs only); at scale derive
    a block from ``similarity.with_lsh_signatures`` instead."""
    from stdb_spark.functions.similarity import cosine_expr

    if block_col is None and not allow_full_cross:
        raise ValueError(
            "embedding_near_duplicates without block_col is a full cartesian "
            "product; pass block_col (e.g. an LSH signature column) or "
            "allow_full_cross=True for small inputs"
        )
    a = df.alias("a")
    b = df.alias("b")
    cond = F.col(f"a.{key}") < F.col(f"b.{key}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cos = cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{key}").alias("a"),
            F.col(f"b.{key}").alias("b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _cc_single_task_kernel():
    """mapInPandas kernel: vectorized hash-min label propagation with
    pointer jumping over one task's doubled edge list.  Labels are
    indices into the SORTED unique-node array, so min index == min id
    and the emitted cluster_id is the component's smallest member —
    bit-identical to the distributed loop's fixpoint."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        dfs = list(batches)
        if not dfs:
            return
        df = pd.concat(dfs, ignore_index=True)
        codes, nodes = pd.factorize(
            pd.concat([df["src"], df["dst"]], ignore_index=True), sort=True
        )
        m = len(df)
        sid = codes[:m].astype(np.int64)
        did = codes[m:].astype(np.int64)
        lab = np.arange(len(nodes), dtype=np.int64)
        while True:
            new = lab.copy()
            # edges are already doubled by the caller, one direction
            # suffices per round; pointer jumping halves the rounds
            np.minimum.at(new, did, lab[sid])
            new = np.minimum(new, new[new])
            if np.array_equal(new, lab):
                break
            lab = new
        arr = np.asarray(nodes)
        yield pd.DataFrame({"id": arr, "cluster_id": arr[lab]})

    return fn


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """Cluster assignment over an undirected near-dup pair graph:
    (id, cluster_id) for every id that occurs in ``pairs``, where
    cluster_id is the smallest member id of its connected component —
    the transitive closure a real dedup pass needs (A~B and B~C must
    collapse into ONE cluster even if A~C was never a candidate pair).
    Pairs with a null endpoint are dropped.

    Algorithm: hash-min label propagation (the MapReduce-era standard,
    cf. Kiveris et al., "Connected Components in MapReduce and Beyond").
    Each round is ONE shuffle (edge⋈label join + min-combine), and the
    round count is the graph diameter — near-dup graphs are dense
    clusters with tiny diameters (2-4), so this beats the
    large-star/small-star variant's extra per-round work at this shape.
    Convergence is detected with a scalar aggregate, not a driver
    collect: min-propagation only ever lowers labels, so the label sum
    strictly decreases until fixpoint (decimal sum — exact, no
    float/overflow wobble).  Lineage is cut per round with an eager
    localCheckpoint, otherwise the iterated join plan grows without
    bound (at cluster scale use a reliable checkpoint dir instead).

    The size dispatch is the graph operators' shared one
    (operators/graph.py: ``_run_edge_kernel`` and its
    ``SINGLE_TASK_MAX_EDGES``): up to that many doubled edges the whole
    propagation runs as ONE Arrow-batched numpy task instead
    (vectorized min-label rounds with pointer jumping) — no per-round
    shuffles or driver barriers.  The result is identical by
    construction: cluster_id = min member id of the component,
    independent of which algorithm finds it."""
    # Doubling via explode, not union: a union plants the caller's pair
    # lineage TWICE in the plan and the cache-fill job computes it twice
    # (the pagerank edge-doubling discipline).  The dispatch persists
    # the doubled list: without it every round's join (and the init
    # fold) re-executes the CALLER's pair lineage — for the dedup suites
    # that lineage is the whole MinHash-LSH banding pipeline.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    id_type = dict(edges.dtypes)["src"]

    def distributed(edges: DataFrame, n_edges: int) -> DataFrame:
        # graph-scale exchanges: the per-round shuffles carry label
        # rows, not the corpus.  Width is scoped PER-PLAN — the doubled
        # edge list is hash-partitioned by src at an explicit width
        # sized to the graph (~1M edges/task, floor 4), and every
        # round's join reuses that layout (HashPartitioning(src)
        # satisfies the join's required distribution, so the cached
        # edge side never re-exchanges; only the small label side
        # shuffles to match).  The session-global
        # spark.sql.shuffle.partitions is never touched.
        parts = max(
            4,
            min(
                int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")),
                n_edges // 1_000_000 + 1,
            ),
        )
        with _persisted(edges.repartition(parts, "src")) as edges2:
            # fill the partitioned cache from the unpartitioned one,
            # then release that: one copy cached, not two
            edges2.count()
            edges.unpersist()
            # init folds the first propagation round in: label(v) =
            # min(v, N(v)) (one groupBy instead of a distinct + a full
            # join round)
            labels = (
                edges2.groupBy("src")
                .agg(F.min("dst").alias("_m"))
                .select(
                    F.col("src").alias("id"), F.least("src", "_m").alias("lbl")
                )
                .localCheckpoint(eager=True)
            )
            prev_sum = labels.agg(
                F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            for _ in range(max_iter):
                prop = edges2.join(labels, edges2.src == labels.id).select(
                    F.col("dst").alias("id"), F.col("lbl")
                )
                labels = (
                    labels.select("id", "lbl")
                    .union(prop)
                    .repartition(parts, "id")
                    .groupBy("id")
                    .agg(F.min("lbl").alias("lbl"))
                    .localCheckpoint(eager=True)
                )
                # localCheckpoint blocks are RDD-level persisted, not
                # CacheManager-tracked (unpersist() on the DataFrame is
                # a no-op for them); the previous round's blocks are
                # reclaimed by the ContextCleaner once the old `labels`
                # binding is dropped by this rebind.
                cur_sum = labels.agg(
                    F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
                ).collect()[0]["s"]
                if cur_sum == prev_sum:
                    break
                prev_sum = cur_sum
        return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))

    return _run_edge_kernel(
        edges,
        _cc_single_task_kernel(),
        f"id {id_type}, cluster_id {id_type}",
        distributed,
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level paragraph deduplication (the C4/Dolma-style pass):
    a non-empty paragraph appearing in multiple places survives only at
    its first occurrence (min (doc, position) — deterministic under any
    partitioning); every other copy is dropped and each document is
    reassembled in original paragraph order.  Blank paragraphs are
    structural and never deduplicated.

    Plan shape at 100 TB: the paragraph explode is map-side; ONE
    exchange on the paragraph text carries the first-occurrence window,
    and one final exchange on the doc key reassembles.  The re-attach
    of each document's surviving text is shuffle-pinned — the assembled
    table is corpus-proportional and its post-aggregate static estimate
    is fiction, so a statically chosen broadcast of it dies at scale
    (tools/plans.py broadcast).  Returns ONE row per input document (duplicates
    removed): a doc whose every paragraph deduplicated away comes back
    with empty text rather than vanishing — downstream metadata joins
    must not silently lose documents.
    """
    paras = docs.select(
        F.col(key),
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"),
    )
    nonblank = F.trim(F.col("para")) != ""
    # first occurrence reaches each paragraph copy via a para-PARTITIONED
    # window (min struct over the paragraph's partition) instead of a
    # groupBy + join-back: one exchange on the paragraph key instead of
    # two, and no join whose fictional post-aggregate estimate could
    # statically broadcast the corpus-proportional keeper table
    # (tools/plans.py broadcast).  Hot boilerplate paragraphs shuffle
    # identically under both shapes (the probe side of the join had no
    # partial aggregation either).
    from pyspark.sql import Window as W

    keeper = F.min(
        F.struct(F.col(key).alias("d"), F.col("idx").alias("i"))
    ).over(W.partitionBy("para"))
    kept = paras.withColumn("keeper", keeper).filter(
        (~nonblank)
        | ((F.col("keeper.d") == F.col(key)) & (F.col("keeper.i") == F.col("idx")))
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("idx", "para"))),
        lambda s: s.getField("para"),
    )
    assembled = kept.groupBy(key).agg(
        F.array_join(ordered, sep).alias(text_col)
    )
    return (
        docs.select(key)
        .join(assembled.hint("shuffle_hash"), key, "left")
        .select(
            F.col(key),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct shingles that appear nowhere else in the corpus — the
    cheap corpus-level "is this document new information" score used to
    rank crawl snapshots and filter boilerplate-heavy sources.

    Returns (key, n_shingles, novel_shingles, novelty).

    Plan shape at 100 TB: the per-doc shingle count is map-side
    (array size before the explode), and global uniqueness needs only
    ONE postings exchange — groupBy(shingle) computes (count, min doc),
    and a count-1 shingle's sole owner IS that min doc, so the novel
    counts come from re-grouping just the unique-shingle survivors by
    owner (output-sized), never from joining the full postings back on
    the shingle key."""
    # per-doc totals are map-side off the shingle ARRAY (one row per
    # doc, no exchange) — deriving them from the exploded postings via
    # distinct() would add a doc-keyed exchange over postings-count rows
    sh = with_shingles(docs, [F.col(key)], text_col, n)
    per_doc = sh.select(F.col(key), F.size("_sh").alias("n_shingles"))
    base = sh.select(F.col(key), F.explode("_sh").alias("shingle"))
    owners = base.groupBy("shingle").agg(
        F.count("*").alias("_c"), F.min(key).alias("_owner")
    )
    novel = (
        owners.filter(F.col("_c") == 1)
        .groupBy(F.col("_owner").alias(key))
        .agg(F.count("*").alias("novel_shingles"))
    )
    # novel is output-sized but still corpus-proportional — shuffle-pin
    # for the same static-estimate reason as the other lookups here
    return (
        per_doc.join(novel.hint("shuffle_hash"), key, "left")
        .withColumn("novel_shingles", F.coalesce("novel_shingles", F.lit(0)))
        .withColumn(
            "novelty",
            F.col("novel_shingles").cast("double")
            / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the audit step of an incremental corpus
    release: classify every document key across two corpus versions as
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` by comparing
    content digests (md5 of normalized text, same idiom as
    :func:`exact_duplicates`).

    Plan shape at 100 TB: each side reduces map-side to (key, digest) —
    16 bytes of payload per doc, not the text — then ONE full-outer
    equi-join on the key.  If both snapshots are written bucketed by the
    key (sources/bucketing.write_bucketed) the join is
    exchange-free.  Returns (key, status)."""
    o = old.select(F.col(key), F.md5(normalized_text(text_col)).alias("_od"))
    n = new.select(F.col(key), F.md5(normalized_text(text_col)).alias("_nd"))
    status = (
        F.when(F.col("_od").isNull(), F.lit("added"))
        .when(F.col("_nd").isNull(), F.lit("removed"))
        .when(F.col("_od") != F.col("_nd"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, key, "full_outer").select(F.col(key), status.alias("status"))


def dup_span_profile(
    docs: DataFrame,
    width: int = 8,
    text_col: str = "text",
    key: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicate-span profile: slide a ``width``-token
    window over every document and report how many of its spans occur
    at least ``min_count`` times corpus-wide.  This is the discovery
    half of exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): docs
    with a high ``dup_ratio`` carry boilerplate/templated spans that
    survive document-level dedup (the reference only ever dedups whole
    rows — span-level dedup is the training-pipeline extension).

    Returns (key, n_spans, n_dup_spans, dup_ratio) for every document
    with at least one full-width span (shorter docs have no spans and
    are absent by definition).

    Scale shape: spans are reduced to md5 digests map-side, then TWO
    hash exchanges — gram -> count, and the per-doc rollup.  Unlike
    pair emission (ngram_jaccard_pairs), a corpus-hot span only
    inflates a single count cell, never a quadratic postings group, so
    no df-cap is needed; md5 keys are uniform, so no skew either.

    The corpus-wide count reaches each span via a gram-PARTITIONED
    window, not a groupBy + join-back: one exchange on the gram key
    instead of two, and no join whose fictional post-aggregate estimate
    could statically broadcast a corpus-proportional count table
    (tools/plans.py broadcast; benched ~25% faster than the
    shuffle-pinned join at sf0.1, bit-identical output).
    """
    from pyspark.sql import Window as W

    toks = tokens_col(text_col)
    base = docs.select(F.col(key), toks.alias("_t"))
    n = F.size("_t")
    grams = F.when(
        n >= width,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(width - 1)),
            lambda i: F.md5(F.array_join(F.slice("_t", i, width), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select(F.col(key), F.explode(grams).alias("g"))
    return (
        spans.withColumn("_c", F.count("*").over(W.partitionBy("g")))
        .groupBy(key)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("_c") >= min_count, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup_spans").cast("double") / F.col("n_spans")
        )
    )


def dup_span_scrub(
    docs: DataFrame,
    width: int = 8,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Exact substring deduplication, end to end (Lee et al. 2022):
    every ``width``-token span whose gram occurs elsewhere in the corpus
    keeps only its FIRST occurrence (global (doc, position) order); all
    other occurrences mark their token positions, and marked tokens are
    removed.  Overlapping duplicated spans union their positions — the
    standard cover semantics.  Returns (key, text_scrubbed,
    n_tokens, n_tokens_removed) for every document with >= 1 token
    (whitespace normalizes to single spaces in the rebuilt text).

    First-occurrence selection packs (doc, pos) into one BIGINT
    (doc·2²⁰ + pos — exact while positions stay under 2²⁰, i.e. docs
    under ~1M tokens) so "earliest span" is a plain ``min`` — exact,
    order-free, engine-independent.  Both pack preconditions are
    ENFORCED, not assumed: a non-integral key column raises
    ``TypeError`` at plan time (a string id would silently cast to
    NULL/garbage packs), and a span position >= 2²⁰ raises at run time
    via ``raise_error`` (packs would collide across documents).
    Pre-chunk longer documents or map string ids to BIGINT first.

    Scale shape: linear end to end — gram digests map-side, ONE
    count/min aggregate per gram, a uniform-key join back, a covered-
    position explode bounded by width × duplicated-span count, and the
    per-doc rebuild.  A corpus-hot gram contributes its occurrence list
    once (no pairing), so no df-cap is needed.
    """
    key_type = dict(docs.dtypes).get(key)
    if key_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"dup_span_scrub requires an integral {key!r} column for the"
            f" (doc, pos) pack; got {key_type!r} — map string ids to"
            " BIGINT (e.g. dense ids or xxhash64) first"
        )
    toks = tokens_col(text_col)
    base = docs.select(F.col(key).alias("_d"), toks.alias("_t"))
    n = F.size("_t")
    # token stream: (doc, pos, tok) — pos is 1-based
    stream = base.select(
        "_d", F.posexplode("_t").alias("_p0", "_tok")
    ).select("_d", (F.col("_p0") + 1).alias("_p"), "_tok")
    # spans: (doc, i, gram-digest, pack)
    grams = F.when(
        n >= width,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(width - 1)),
            lambda i: F.md5(F.array_join(F.slice("_t", i, width), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = (
        base.select("_d", F.posexplode(grams).alias("_i0", "_g"))
        .select("_d", (F.col("_i0") + 1).alias("_i"), "_g")
        .withColumn(
            "_pack",
            F.when(
                F.col("_i") >= F.lit(1 << 20),
                F.raise_error(
                    F.lit(
                        "dup_span_scrub: document exceeds 2^20 tokens;"
                        " (doc, pos) packs would collide — pre-chunk it"
                    )
                ).cast("long"),
            ).otherwise(F.col("_d") * F.lit(1 << 20) + F.col("_i")),
        )
    )
    # per-gram (first occurrence, count) reach each span via a
    # gram-PARTITIONED window rather than a groupBy + join-back: one
    # exchange on the gram key instead of two, and no join whose
    # fictional post-aggregate estimate could statically broadcast the
    # corpus-proportional firsts table (tools/plans.py broadcast).
    # The remaining lookups below (covered positions, per-doc rebuild)
    # are shuffle-pinned for the same estimate reason.
    from pyspark.sql import Window as W

    wg = W.partitionBy("_g")
    dup_spans = (
        spans.withColumn("_first", F.min("_pack").over(wg))
        .withColumn("_c", F.count("*").over(wg))
        .filter((F.col("_c") >= 2) & (F.col("_pack") != F.col("_first")))
        .select("_d", "_i")
    )
    covered = dup_spans.select(
        "_d", F.explode(F.sequence(F.col("_i"), F.col("_i") + F.lit(width - 1))).alias("_p")
    ).distinct()
    kept = stream.join(covered.hint("shuffle_hash"), ["_d", "_p"], "left_anti")
    rebuilt = kept.groupBy("_d").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_tok"))),
                lambda s: s.getField("_tok"),
            ),
            " ",
        ).alias("text_scrubbed"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = stream.groupBy("_d").agg(F.count("*").cast("long").alias("n_tokens"))
    return (
        totals.join(rebuilt.hint("shuffle_hash"), "_d", "left")
        .select(
            F.col("_d").alias(key),
            F.coalesce("text_scrubbed", F.lit("")).alias("text_scrubbed"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_tokens_removed"
            ),
        )
    )


# ------------------------------------------------------------ bloom sidecar
# Incremental-ingest dedup against an EXISTING corpus without
# re-scanning it: the prior corpus publishes a Bloom filter of its
# digests (Bloom '70) as a tiny sidecar artifact; each nightly
# increment probes the filter map-side and only bloom-positive docs
# proceed to the (expensive, exact) digest join.  No false negatives
# by construction; false positives cost one extra lookup, never a
# wrong drop.


def bloom_position_expr(c: Column, i: int, mbits: int) -> Column:
    """Bit position of hash ``i`` for value ``c`` — md5-derived with a
    per-hash salt, reproducible in DuckDB as
    ('0x' || substr(md5('bl<i>:' || x), 1, 15))::BIGINT % mbits."""
    return _md5_long(c, f"bl{i}:") % mbits


def bloom_position_set(
    df: DataFrame, col: str, mbits: int = 1 << 15, k: int = 4
) -> DataFrame:
    """(p): DISTINCT set-bit positions of the Bloom filter over
    ``df[col]`` — at most ``mbits`` rows regardless of input size (the
    sketch bound, like HLL registers), produced by one map-side explode
    + distinct."""
    return df.select(
        F.explode(
            F.array(*[bloom_position_expr(F.col(col), i, mbits) for i in range(k)])
        ).alias("p")
    ).distinct()


def bloom_probe(
    incoming: DataFrame,
    col: str,
    positions: DataFrame,
    mbits: int = 1 << 15,
    k: int = 4,
    broadcast_max_bits: int = 1 << 20,
) -> DataFrame:
    """``incoming`` + boolean ``bloom_hit`` (all k bits set).

    Size-dispatched physical strategy, same result (pinned by
    test_bloom_probe_bitmap_and_join_paths_agree):

    - ``mbits <= broadcast_max_bits``: collect the position set — an
      artifact bounded by the SKETCH size (<= mbits bits), not the
      data — into an mbits-bit bitmap embedded as a 64-bit-word
      literal array; the probe is a pure map-side expression, zero
      shuffle.  This is the broadcast-sidecar shape a 100 TB pipeline
      ships nightly (a 1-GB bitmap covers ~10^9 keys at 4 bits each).
    - larger ``mbits``: k-row explode + left join against the position
      set, count-of-matches == k — one uniform-key shuffle, no driver
      artifact, for filters too big to broadcast."""
    if mbits <= broadcast_max_bits:
        setp = [r.p for r in positions.collect()]  # <= mbits rows by bound
        words = [0] * ((mbits + 63) // 64)
        for p in setp:
            words[p // 64] |= 1 << (p % 64)
        # embed as SIGNED 64-bit literals (Spark LongType)
        words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        warr = F.array(*[F.lit(w) for w in words])
        hit = F.lit(True)
        for i in range(k):
            p = bloom_position_expr(F.col(col), i, mbits)
            word = F.element_at(warr, (p / 64).cast("int") + 1)
            # getbit reads any bit position incl. the sign bit
            hit = hit & (F.getbit(word, (p % 64).cast("int")) == 1)
        return incoming.withColumn("bloom_hit", hit)
    probes = incoming.select(
        *incoming.columns,
        F.explode(
            F.array(*[bloom_position_expr(F.col(col), i, mbits) for i in range(k)])
        ).alias("p"),
    )
    matched = probes.join(
        positions.withColumn("_hit", F.lit(1)), "p", "left"
    )
    return (
        matched.groupBy(*incoming.columns)
        .agg((F.sum(F.coalesce(F.col("_hit"), F.lit(0))) == k).alias("bloom_hit"))
    )
