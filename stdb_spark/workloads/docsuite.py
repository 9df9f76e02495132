"""LLM-training-data pipeline queries over documents/embeddings, each
with a DuckDB oracle that replicates the algorithm step-for-step.

Token parity contract: tokens = split(regexp_replace(lower(text),
'\\s+', ' '), ' ') minus empties — identical in both engines.  Dot
products are written as left-associated chains in SQL, matching the
sequential fold of ``F.aggregate`` (0.0 + x1 + x2 ... is IEEE-identical
to x1 + x2 ...)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stdb_spark import model
from stdb_spark.functions import dedup, sampling, similarity, text
from stdb_spark.workloads import mm_oracles

QUERIES = {}
ORACLES = {}


def _q(name, fn, sql=None):
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql


# DuckDB token fragments
_NORM = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
_TOKS = f"list_filter(string_split({_NORM}, ' '), x -> len(x) > 0)"


# ------------------------------------------------------------ fingerprints
_q(
    "doc_fingerprint",
    lambda spark, sf: model.load_table(spark, sf, "documents").select(
        "doc_id", F.substring(F.md5(dedup.normalized_text()), 1, 16).alias("fp")
    ),
    f"SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fp FROM documents",
)

_q(
    "doc_exact_dedup",
    lambda spark, sf: dedup.exact_duplicates(model.load_table(spark, sf, "documents")),
    f"""
SELECT md5({_NORM}) AS digest, count(*) AS dup_count, min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
""",
)

# blocking-key duplicate groups: md5 of the first 3 tokens — the cheap
# pre-clustering step ahead of pairwise verification
_q(
    "doc_block_dup_groups",
    lambda spark, sf: (
        model.load_table(spark, sf, "documents")
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.slice(text.tokens_col(dedup.normalized_text()), 1, 3), " ")
            ).alias("block"),
        )
        .groupBy("block")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    ),
    f"""
SELECT md5(array_to_string({_TOKS}[1:3], ' ')) AS block,
       count(*) AS dup_count, min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
""",
)


# ------------------------------------------------------------- token stats
def _token_stats(spark, sf):
    df = model.load_table(spark, sf, "documents")
    toks = text.tokens_col("text")
    n = F.size(toks).cast("long")
    mean_len = F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t)) / F.greatest(
        n, F.lit(1)
    )
    sw = F.array(*[F.lit(w) for w in text.STOPWORDS_EN])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return df.select(
        "doc_id",
        n.alias("n_tokens"),
        mean_len.alias("mean_word_len"),
        (hits / F.greatest(n, F.lit(1))).alias("stopword_ratio"),
    )


_SW_LIST = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS_EN) + "]"

_q(
    "doc_token_stats",
    _token_stats,
    f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
    / greatest(len(toks), 1) AS mean_word_len,
  CAST(len(list_filter(toks, x -> list_contains({_SW_LIST}, lower(x)))) AS BIGINT)
    / greatest(len(toks), 1) AS stopword_ratio
FROM t
""",
)


# ---------------------------------------------------------------- langid
def _langid(spark, sf):
    df = model.load_table(spark, sf, "documents")
    return text.lang_id(df).select("doc_id", "lang_pred")


def _langid_sql() -> str:
    scores = {
        lang: f"len(list_filter(tl, x -> list_contains([{', '.join(repr(w) for w in ws)}], x)))"
        for lang, ws in text.LANG_MARKERS.items()
    }
    # Spark picks max (score, lang) struct -> ties go to the LARGEST lang
    # code; mirror with a descending-language CASE chain of >= tests.
    langs_desc = sorted(scores, reverse=True)
    cases = []
    for lang in langs_desc:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in scores if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " END"
    score_cols = ",\n    ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    return f"""
WITH t AS (
  SELECT doc_id, list_transform(
      list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0), x -> lower(x)) AS tl
  FROM documents
), s AS (
  SELECT doc_id,
    {score_cols}
  FROM t
)
SELECT doc_id, {case_sql} AS lang_pred FROM s
"""


_q("doc_lang_id", _langid, _langid_sql())


# BPE-ish token counting (tokenizer cost accounting for a training-data
# pipeline): whitespace count + sub-word-ish regex count side by side.
_q(
    "doc_bpe_token_count",
    lambda spark, sf: model.load_table(spark, sf, "documents").select(
        "doc_id",
        text.token_count_col("text").cast("long").alias("ws_tokens"),
        text.bpe_token_count_col("text").cast("long").alias("bpe_tokens"),
    ),
    f"""
SELECT doc_id,
  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS BIGINT)
    AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS BIGINT)
    AS bpe_tokens
FROM documents
""",
)


# --------------------------------------------------------- n-gram jaccard
_JACCARD_N = 2
_JACCARD_T = 0.12

_q(
    "doc_ngram_jaccard_pairs",
    lambda spark, sf: dedup.ngram_jaccard_pairs(
        model.load_table(spark, sf, "documents"),
        block_col="source",
        n=_JACCARD_N,
        threshold=_JACCARD_T,
    ),
    f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= {_JACCARD_N}
         THEN list_distinct(list_transform(range(1, len(t) - {_JACCARD_N} + 2),
              i -> array_to_string(t[i:i+{_JACCARD_N}-1], ' ')))
         ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
), ex AS (
  SELECT doc_id, source, len(g) AS n_sh, unnest(g) AS shingle FROM sh
)
SELECT a, b, jaccard FROM (
  SELECT x.doc_id AS a, y.doc_id AS b,
         count(*) / (any_value(x.n_sh) + any_value(y.n_sh) - count(*)) AS jaccard
  FROM ex x JOIN ex y
    ON x.shingle = y.shingle AND x.source = y.source AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
) WHERE jaccard >= {_JACCARD_T}
""",
)


# The 100 TB-shaped variant: stop-shingles (document frequency above
# the cap, per block) are dropped BEFORE pair emission, bounding the
# otherwise-quadratic postings blowup (a shingle shared by c docs emits
# c^2/2 pair rows).  The oracle mirrors the df filter exactly, so the
# driver gate proves the capped semantics — not just the primitive.
_JACCARD_DF_CAP = 8

_q(
    "doc_ngram_jaccard_capped",
    lambda spark, sf: dedup.ngram_jaccard_pairs(
        model.load_table(spark, sf, "documents"),
        block_col="source",
        n=_JACCARD_N,
        threshold=_JACCARD_T,
        df_cap=_JACCARD_DF_CAP,
    ),
    f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= {_JACCARD_N}
         THEN list_distinct(list_transform(range(1, len(t) - {_JACCARD_N} + 2),
              i -> array_to_string(t[i:i+{_JACCARD_N}-1], ' ')))
         ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
), ex AS (
  SELECT doc_id, source, len(g) AS n_sh, unnest(g) AS shingle FROM sh
), keep AS (
  SELECT source, shingle FROM ex
  GROUP BY source, shingle HAVING count(*) <= {_JACCARD_DF_CAP}
), exk AS (
  SELECT e.* FROM ex e JOIN keep k
    ON e.shingle = k.shingle AND e.source = k.source
)
SELECT a, b, jaccard FROM (
  SELECT x.doc_id AS a, y.doc_id AS b,
         count(*) / (any_value(x.n_sh) + any_value(y.n_sh) - count(*)) AS jaccard
  FROM exk x JOIN exk y
    ON x.shingle = y.shingle AND x.source = y.source AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
) WHERE jaccard >= {_JACCARD_T}
""",
)


# Asymmetric containment (Broder 1997's resemblance-vs-containment
# distinction): catches a short doc embedded in a long one, which
# Jaccard scores near zero.  Same df-capped postings blocking as the
# capped Jaccard entry; both directions emitted, pair kept when either
# >= threshold.
_CONTAIN_T = 0.5

_q(
    "doc_containment_pairs",
    lambda spark, sf: dedup.containment_pairs(
        model.load_table(spark, sf, "documents"),
        block_col="source",
        n=_JACCARD_N,
        threshold=_CONTAIN_T,
        df_cap=_JACCARD_DF_CAP,
    ),
    f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= {_JACCARD_N}
         THEN list_distinct(list_transform(range(1, len(t) - {_JACCARD_N} + 2),
              i -> array_to_string(t[i:i+{_JACCARD_N}-1], ' ')))
         ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
), ex AS (
  SELECT doc_id, source, len(g) AS n_sh, unnest(g) AS shingle FROM sh
), keep AS (
  SELECT source, shingle FROM ex
  GROUP BY source, shingle HAVING count(*) <= {_JACCARD_DF_CAP}
), exk AS (
  SELECT e.* FROM ex e JOIN keep k
    ON e.shingle = k.shingle AND e.source = k.source
)
SELECT a, b, cont_a_in_b, cont_b_in_a FROM (
  SELECT x.doc_id AS a, y.doc_id AS b,
         count(*) / any_value(x.n_sh) AS cont_a_in_b,
         count(*) / any_value(y.n_sh) AS cont_b_in_a
  FROM exk x JOIN exk y
    ON x.shingle = y.shingle AND x.source = y.source AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
) WHERE cont_a_in_b >= {_CONTAIN_T} OR cont_b_in_a >= {_CONTAIN_T}
""",
)


# ------------------------------------------------------------- embeddings
_DIM = 64
_QVEC = [((i * 37) % 19 - 9) / 10.0 for i in range(_DIM)]


def _dot_chain(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, _DIM + 1))


def _norm_chain(a: str) -> str:
    return "sqrt(" + " + ".join(f"{a}[{i}]::DOUBLE * {a}[{i}]::DOUBLE" for i in range(1, _DIM + 1)) + ")"


def _dlit(x: float) -> str:
    # bare float literals parse as DECIMAL in DuckDB — force DOUBLE
    return f"CAST({x!r} AS DOUBLE)"


def _qvec_dot(a: str) -> str:
    return " + ".join(f"{a}[{i+1}]::DOUBLE * {_dlit(_QVEC[i])}" for i in range(_DIM))


_QNORM = "sqrt(" + " + ".join(f"{_dlit(x)} * {_dlit(x)}" for x in _QVEC) + ")"

_q(
    "emb_ann_bruteforce",
    lambda spark, sf: similarity.brute_force_top_k(
        model.load_table(spark, sf, "embeddings"), _QVEC, k=10
    ),
    f"""
SELECT vec_id,
  ({_qvec_dot('embedding')}) / ({_norm_chain('embedding')} * {_QNORM}) AS cosine
FROM embeddings
ORDER BY cosine DESC, vec_id LIMIT 10
""",
)

# k-NN classification: label the first 32 vectors by majority vote of
# their 5 cosine-nearest neighbors among the rest (leave-out split so a
# query never matches itself).  Tie-break: votes desc, label asc.
def _emb_knn_classify(spark, sf):
    emb = model.load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 32)
    return similarity.knn_classify(corpus, queries, k=5)


_q(
    "emb_knn_classify",
    _emb_knn_classify,
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 32
), c AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 32
), knn AS (
  SELECT q.query_id, c.vec_id, c.label,
    row_number() OVER (PARTITION BY q.query_id
      ORDER BY ({_dot_chain('c.embedding', 'q.qe')})
                 / ({_norm_chain('c.embedding')} * {_norm_chain('q.qe')}) DESC,
               c.vec_id) AS rank
  FROM c, q
), v AS (
  SELECT query_id, label, count(*) AS votes
  FROM knn WHERE rank <= 5 GROUP BY query_id, label
)
SELECT query_id, label AS pred_label, votes FROM (
  SELECT query_id, label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS rk
  FROM v
) WHERE rk = 1
""",
)


_q(
    "emb_near_dup_pairs",
    lambda spark, sf: dedup.embedding_near_duplicates(
        model.load_table(spark, sf, "embeddings"), threshold=0.4, block_col="label"
    ),
    f"""
SELECT a.vec_id AS a, b.vec_id AS b,
  ({_dot_chain('a.embedding', 'b.embedding')})
    / ({_norm_chain('a.embedding')} * {_norm_chain('b.embedding')}) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ({_dot_chain('a.embedding', 'b.embedding')})
    / ({_norm_chain('a.embedding')} * {_norm_chain('b.embedding')}) >= 0.4
""",
)

# MinHash-LSH near-dup candidates with the full algorithm replicated in
# SQL: one md5-derived 32-bit hash per shingle, 32 universal-hash
# minhashes (A[i]*h + B[i] mod 2^61-1, constants shared with
# dedup.MINHASH_A/B), banded into 8 buckets of 4, candidate pairs on
# bucket collision — bit-identical to the Spark pipeline because both
# sides embed the same literals and stay in signed-64 arithmetic.
_MH_K, _MH_BANDS, _MH_R = 32, 8, 4
_MH_SHINGLE_N = 3
_MH_A_LIST = "[" + ", ".join(str(a) for a in dedup.MINHASH_A[:_MH_K]) + "]"
_MH_B_LIST = "[" + ", ".join(str(b) for b in dedup.MINHASH_B[:_MH_K]) + "]"

_MH_CTES = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= {_MH_SHINGLE_N}
         THEN list_distinct(list_transform(range(1, len(t) - {_MH_SHINGLE_N} + 2),
              i -> array_to_string(t[i:i+{_MH_SHINGLE_N}-1], ' ')))
         ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
), ex AS (
  SELECT doc_id,
    ('0x' || substr(md5(unnest(g)), 1, 8))::BIGINT AS h
  FROM sh
), hs AS MATERIALIZED (
  SELECT doc_id, i,
    min(({_MH_A_LIST}[i + 1] * h + {_MH_B_LIST}[i + 1])
        % {dedup.MINHASH_PRIME}) AS h
  FROM ex CROSS JOIN range({_MH_K}) r(i)
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, i // {_MH_R} AS band,
    md5(string_agg(h::VARCHAR, ',' ORDER BY i)) AS bucket
  FROM hs GROUP BY doc_id, i // {_MH_R}
), cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
)
"""

_q(
    "doc_minhash_lsh_candidates",
    lambda spark, sf: dedup.minhash_lsh_candidates(
        dedup.minhash_signatures(model.load_table(spark, sf, "documents"))
    ),
    _MH_CTES + "SELECT a, b FROM cands",
)


# Candidate verification: estimated Jaccard = matching signature slots /
# K over the LSH candidate pairs — the full discover→verify pipeline a
# dedup pass actually runs (candidates alone over-approximate).
def _minhash_est(spark, sf):
    # fused banding+verify: signatures ride through the postings, no
    # signature-lookup joins (dedup.minhash_lsh_estimates; candidate
    # set and estimate arithmetic identical to the two-step form)
    sigs = dedup.minhash_signatures(model.load_table(spark, sf, "documents"))
    return dedup.minhash_lsh_estimates(sigs)


_q(
    "doc_minhash_est_jaccard",
    _minhash_est,
    _MH_CTES
    + f"""
SELECT c.a, c.b,
       CAST(count(*) FILTER (ha.h = hb.h) AS DOUBLE) / {_MH_K} AS est_jaccard
FROM cands c
JOIN hs ha ON ha.doc_id = c.a
JOIN hs hb ON hb.doc_id = c.b AND hb.i = ha.i
GROUP BY c.a, c.b
""",
)


# b-bit minwise hashing (Li & Koenig, WWW'10): the same verify step
# with signatures truncated to the low b bits and the matched fraction
# unbiased by the chance-collision rate C = 2^-b — the storage lever
# when the dedup index itself is at TB scale.  Emitted next to the
# full-width estimate as a built-in accuracy audit.  Determinism: slot
# values are nonnegative, so % 2^b is the same low-bit mask in both
# engines; the unbias arithmetic is literal-for-literal identical.
_BBIT_B = 2


def _minhash_bbit(spark, sf):
    sigs = dedup.minhash_signatures(model.load_table(spark, sf, "documents"))
    return dedup.minhash_lsh_estimates(sigs, b=_BBIT_B)


_q(
    "doc_minhash_bbit",
    _minhash_bbit,
    _MH_CTES
    + f"""
SELECT c.a, c.b,
       CAST(count(*) FILTER (ha.h = hb.h) AS DOUBLE) / {_MH_K} AS est_full,
       greatest(
         (CAST(count(*) FILTER (ha.h % {1 << _BBIT_B} = hb.h % {1 << _BBIT_B})
               AS DOUBLE) / {_MH_K} - {1.0 / (1 << _BBIT_B)!r})
           / {1.0 - 1.0 / (1 << _BBIT_B)!r},
         0.0) AS est_bbit
FROM cands c
JOIN hs ha ON ha.doc_id = c.a
JOIN hs hb ON hb.doc_id = c.b AND hb.i = ha.i
GROUP BY c.a, c.b
""",
)


# End-to-end near-dup removal — the pass a training pipeline actually
# ships: LSH candidates -> signature-estimate verify (>= threshold) ->
# greedy survivor set (drop the higher doc_id of each verified pair).
_NEARDUP_T = 0.5


def _neardup_survivors(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    sigs = dedup.minhash_signatures(docs)
    verified = dedup.minhash_lsh_estimates(sigs).filter(
        F.col("est_jaccard") >= _NEARDUP_T
    )
    # the drop list is dup-count-proportional — shuffle-pinned so its
    # fictional post-distinct estimate can't pick a broadcast anti-join
    # that OOMs at scale (tools/plans.py broadcast)
    drop = verified.select(F.col("b").alias("doc_id")).distinct()
    return docs.join(drop.hint("shuffle_hash"), "doc_id", "left_anti").select(
        "doc_id", "source"
    )


_q(
    "doc_neardup_survivors",
    _neardup_survivors,
    _MH_CTES
    + f"""
, est AS (
  SELECT c.a, c.b,
         CAST(count(*) FILTER (ha.h = hb.h) AS DOUBLE) / {_MH_K} AS ej
  FROM cands c
  JOIN hs ha ON ha.doc_id = c.a
  JOIN hs hb ON hb.doc_id = c.b AND hb.i = ha.i
  GROUP BY c.a, c.b
)
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT b FROM est WHERE ej >= {_NEARDUP_T})
""",
)

# SimHash signatures with the bit votes replicated in SQL: per-shingle
# 64-bit md5 value (two 32-bit halves), per-bit +1/-1 votes summed per
# doc, sign -> bit.  The 64 bit-terms are disjoint, so integer addition
# equals the Spark side's bitwiseOR (bit 63 enters as the two's
# complement sign term).
def _simhash_sql() -> str:
    votes = []
    terms = []
    for j in range(64):
        src, shift = ("h", j) if j < 32 else ("l", j - 32)
        votes.append(
            f"sum(CASE WHEN ({src} >> {shift}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        )
        bitval = (1 << j) if j < 63 else -(1 << 63)
        terms.append(f"CASE WHEN v{j} > 0 THEN CAST({bitval} AS BIGINT) ELSE 0 END")
    shingle_n = 3
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= {shingle_n}
         THEN list_distinct(list_transform(range(1, len(t) - {shingle_n} + 2),
              i -> array_to_string(t[i:i+{shingle_n}-1], ' ')))
         ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
), ex AS (
  SELECT doc_id,
    ('0x' || substr(md5(unnest(g)), 1, 8))::BIGINT AS h,
    ('0x' || substr(md5(unnest(g)), 9, 8))::BIGINT AS l
  FROM sh
), v AS (
  SELECT doc_id, {", ".join(votes)} FROM ex GROUP BY doc_id
)
SELECT doc_id, {" + ".join(terms)} AS simhash FROM v
"""


_q(
    "doc_simhash",
    lambda spark, sf: dedup.simhash(model.load_table(spark, sf, "documents")),
    _simhash_sql(),
)

# SimHash near-dup pairs with FULL recall (4-block pigeonhole: any pair
# at distance <= 3 agrees on >= 1 of the 4 16-bit blocks).  The oracle
# is the unblocked all-pairs scan — identical output because the
# blocking provably misses nothing at this distance.
_q(
    "doc_hamming_near_dups",
    lambda spark, sf: dedup.hamming_pairs(
        dedup.simhash(model.load_table(spark, sf, "documents")), max_distance=3
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming")),
    f"""
WITH sims AS ({_simhash_sql()})
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
""",
)


# Presigned variant — the 100 TB shape: signatures are a write-time
# column (a dedup service computes them at ingest); the query pays only
# the postings pairing, not the shingle/vote pipeline.  Same oracle.
def _hamming_presigned(spark, sf):
    import os

    cache = model.derived_cache_path(sf, "doc_simhash", "documents")
    if not model.cache_ready(cache):
        dedup.simhash(model.load_table(spark, sf, "documents")).coalesce(
            4
        ).write.mode("overwrite").parquet(cache)
    return dedup.hamming_pairs(spark.read.parquet(cache), max_distance=3).select(
        "a", "b", F.col("hamming").cast("long").alias("hamming")
    )


_q(
    "doc_hamming_presigned",
    _hamming_presigned,
    f"""
WITH sims AS ({_simhash_sql()})
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
""",
)


# ---------------------------------------------------------- quality score
def _quality(spark, sf):
    df = text.quality_score(model.load_table(spark, sf, "documents"))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


_q(
    "doc_quality_score",
    _quality,
    f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
      / greatest(len(toks), 1) AS mean_word_len,
    len(regexp_replace(text, '[^.,;:!?]', '', 'g'))
      / greatest(len(text), 1) AS punct_ratio,
    CAST(len(list_filter(toks, x -> list_contains({_SW_LIST}, lower(x)))) AS BIGINT)
      / greatest(len(toks), 1) AS stopword_ratio
  FROM t
)
SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
  least(n_tokens / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
  + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
         THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
  + CASE WHEN punct_ratio <= CAST(0.1 AS DOUBLE)
         THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
  + least(stopword_ratio * CAST(2.0 AS DOUBLE), CAST(0.1 AS DOUBLE)) AS quality_score
FROM m
""",
)


# ----------------------------------------------------- LSH-bucketed ANN
# The scale path for ANN: hyperplane signatures bucket the vectors so a
# query touches ~1/2^planes of the table per hash table instead of
# brute-forcing all rows.  Hyperplanes are md5-derived literals, so the
# oracle replicates the exact bucketing + re-rank in SQL.
_LSH_PLANES = 6
_LSH_TABLES = 2


def _lsh_sig_sql(table: int) -> str:
    from stdb_spark.functions.similarity import _hyperplane

    bits = []
    for j in range(_LSH_PLANES):
        plane = _hyperplane(_DIM, table * 1000 + j)
        chain = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * {_dlit(plane[i])}" for i in range(_DIM)
        )
        bits.append(f"(CASE WHEN ({chain}) >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def _lsh_query_sigs() -> list[int]:
    import numpy as np

    from stdb_spark.functions.similarity import _hyperplane

    sigs = []
    qv = np.array(_QVEC, dtype="float64")
    for t in range(_LSH_TABLES):
        s = 0
        for j in range(_LSH_PLANES):
            if float(np.dot(qv, np.array(_hyperplane(_DIM, t * 1000 + j)))) >= 0:
                s |= 1 << j
        sigs.append(s)
    return sigs


def _emb_ann_lsh(spark, sf):
    return similarity.lsh_top_k(
        model.load_table(spark, sf, "embeddings"),
        _QVEC,
        k=10,
        n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES,
    )


def _emb_ann_lsh_sql() -> str:
    q0, q1 = _lsh_query_sigs()
    return f"""
WITH s AS (
  SELECT vec_id, embedding,
    {_lsh_sig_sql(0)} AS sig0,
    {_lsh_sig_sql(1)} AS sig1
  FROM embeddings
)
SELECT vec_id,
  ({_qvec_dot('embedding')}) / ({_norm_chain('embedding')} * {_QNORM}) AS cosine
FROM s WHERE sig0 = {q0} OR sig1 = {q1}
ORDER BY cosine DESC, vec_id LIMIT 10
"""


_q("emb_ann_lsh", _emb_ann_lsh, _emb_ann_lsh_sql())


# Write-time-signature variant: the 100 TB path.  Signatures are
# materialized ONCE per sf into a repo-local parquet cache (standing in
# for the real deployment's write-time columns); the query is then an
# OR of long-equality predicates that reaches Parquet PushedFilters —
# no per-row hyperplane dot products at query time.  Same buckets, same
# re-rank, so the oracle is identical to emb_ann_lsh.
def _emb_ann_lsh_presigned(spark, sf):
    import os

    cache = model.derived_cache_path(sf, "emb_lsh", "embeddings")
    if not model.cache_ready(cache):
        signed = similarity.with_lsh_signatures(
            model.load_table(spark, sf, "embeddings"),
            dim=_DIM,
            n_planes=_LSH_PLANES,
            n_tables=_LSH_TABLES,
        )
        signed.write.mode("overwrite").parquet(cache)
    return similarity.lsh_top_k_presigned(
        spark.read.parquet(cache),
        _QVEC,
        k=10,
        n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES,
    )


_q("emb_ann_lsh_presigned", _emb_ann_lsh_presigned, _emb_ann_lsh_sql())


# ------------------------------------------------------------- multimodal
# REAL in-repo decoders (PNG / RIFF-WAV PCM / MJPEG-AVI baseline JPEG)
# over deterministic fixture payloads, Arrow-batched mapInPandas.  Full
# value-hash oracles since r7: expected outputs are derived
# INDEPENDENTLY of the decoders (from the source arrays, plus an
# independent dequant+IDCT for the lossy JPEG frames) and embedded as
# DuckDB VALUES tables — see workloads/mm_oracles.py for the
# independence argument per entry.
def _mm_features(spark, sf):
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=64, kind="image")
    return multimodal.extract_image_features(media)


_q("mm_image_features", _mm_features, mm_oracles.image_features_sql(64))


# Media-manifest statistics with a FULL value-hash oracle: documents'
# text bytes stand in as opaque binary payloads (encode utf-8), typed
# by a deterministic kind split.  This proves the binary-column
# plumbing a media lake needs — byte sizes, content digests, per-kind
# rollups — end to end through the driver gate; only the codec decode
# itself stays stubbed (DecodeUnavailable boundary).
def _mm_manifest(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    man = media.select(
        "media_id",
        "kind",
        F.octet_length("payload").cast("long").alias("bytes"),
        F.md5("payload").alias("digest"),
    )
    return man.groupBy("kind").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.count_distinct("digest").cast("long").alias("distinct_payloads"),
        F.min("bytes").cast("long").alias("min_bytes"),
        F.max("bytes").cast("long").alias("max_bytes"),
    )


_q(
    "mm_manifest_stats",
    _mm_manifest,
    """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       count(*) AS n,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       count(DISTINCT md5(text)) AS distinct_payloads,
       min(strlen(text)) AS min_bytes,
       max(strlen(text)) AS max_bytes
FROM documents
GROUP BY 1
""",
)


def _mm_frames(spark, sf):
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=16, kind="video")
    return multimodal.sample_video_frames(media, every_ms=250)


_q("mm_video_frame_sample", _mm_frames, mm_oracles.video_frames_sql(16, 250))


def _mm_audio(spark, sf):
    """RMS / zero-crossing features over GENUINE PCM: the payloads are
    real RIFF/WAV containers decoded by the stdlib parser
    (multimodal.decode_wav); oracle = independent derivation from the
    source PCM (mm_oracles.audio_features_sql)."""
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=32, kind="audio")
    return multimodal.extract_audio_features(media)


_q("mm_audio_features", _mm_audio, mm_oracles.audio_features_sql(32))


def _mm_tiles(spark, sf):
    """Patch-level image stats over real decoded PNGs; oracle =
    independent pure-Python tiling over the SOURCE arrays
    (mm_oracles.image_tiles_sql)."""
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=64, kind="image")
    return multimodal.extract_image_tiles(media, tiles_y=2, tiles_x=2)


_q("mm_image_tiles", _mm_tiles, mm_oracles.image_tiles_sql(64, 2, 2))


def _mm_thumbs(spark, sf):
    """Thumbnail sidecar pipeline through the PRODUCTION decode+resize
    path; oracle = independent floor-index resample from the SOURCE
    arrays (mm_oracles.thumbnail_sql)."""
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=64, kind="image")
    return multimodal.thumbnail_stats(media, w=8, h=8)


_q("mm_thumbnail_stats", _mm_thumbs, mm_oracles.thumbnail_sql(64, 8, 8))


def _mm_silence(spark, sf):
    """Silence-run detection over REAL RIFF/WAV PCM; oracle = hand-rolled
    run-length loop over the SOURCE samples
    (mm_oracles.audio_silence_sql)."""
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=32, kind="audio")
    return multimodal.extract_audio_silence(media, threshold=1000, min_run=3)


_q("mm_audio_silence", _mm_silence, mm_oracles.audio_silence_sql(32, 1000, 3))


# ------------------------------------------- exact-arithmetic k-means
# Oracle plumbing for the integer fixed-point k-means family
# (similarity.kmeans_fit_exact — the PageRank pattern from
# operators/graph.py applied to Lloyd's iterations): components
# quantize to BIGINT millionths, assignment is integer argmin with
# lowest-cell ties, recentering is truncating BIGINT division.  Every
# step reproduces bit-for-bit in DuckDB, so the whole IVF / SemDeDup /
# PQ family carries full value-hash oracles (VERDICT r4 #1).
_KMQ = similarity.KM_QSCALE


def _km_x_cte(src: str = "embeddings") -> str:
    """Exploded quantized components: (vec_id, pos 1-based, qx)."""
    return f"""x AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_KMQ}.0) AS BIGINT) AS qx
  FROM {src})"""


def _km_seeds_cte(k_sql: str, src: str = "embeddings") -> str:
    """k smallest (md5-hash, key) rows -> 0-based cell ids (the
    deterministic seeding rule of kmeans_fit_exact)."""
    return f"""seeds AS MATERIALIZED (
  SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
  FROM (SELECT vec_id,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM {src})
  ORDER BY h, vec_id LIMIT {k_sql})"""


def _km_iters_cte(iters: int, p: str = "", pos_filter: str = "") -> str:
    """Unrolled Lloyd's iterations against the shared x/seeds CTEs.
    ``p`` prefixes CTE names (PQ trains one chain per subspace);
    ``pos_filter`` restricts to a subspace's component range."""
    w = f" WHERE {pos_filter}" if pos_filter else ""
    # c{i} is referenced by BOTH d{i+1} and c{i+1}: un-materialized,
    # DuckDB may inline the whole prior chain into each reference —
    # exponential plan growth in the iteration count (the PageRank
    # oracle bomb, commit 3273086).  Centroid tables are bounded
    # (k x dim rows), so materializing is always safe.
    blocks = [
        f"""{p}c0 AS MATERIALIZED (
  SELECT s.cell, x.pos, x.qx AS c FROM seeds s JOIN x ON s.vec_id = x.vec_id{w})"""
    ]
    for i in range(1, iters + 1):
        blocks.append(f"""{p}d{i} AS (
  SELECT x.vec_id, c.cell, SUM((x.qx - c.c) * (x.qx - c.c)) AS dist
  FROM x JOIN {p}c{i-1} c USING (pos) GROUP BY 1, 2),
{p}a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM {p}d{i}) WHERE rn = 1),
{p}s{i} AS (
  SELECT a.cell, x.pos, CAST(SUM(x.qx) AS BIGINT) // COUNT(*) AS m
  FROM {p}a{i} a JOIN x USING (vec_id){w} GROUP BY 1, 2),
{p}c{i} AS MATERIALIZED (
  SELECT pr.cell, pr.pos, COALESCE(s.m, pr.c) AS c
  FROM {p}c{i-1} pr LEFT JOIN {p}s{i} s ON pr.cell = s.cell AND pr.pos = s.pos)""")
    return ",\n".join(blocks)


def _km_query_cte(name: str = "qv") -> str:
    """The quantized query vector as (pos 1-based, qq) rows."""
    qq = similarity.quantize_query(_QVEC, _KMQ)
    vals = ", ".join(f"({i + 1}, {v})" for i, v in enumerate(qq))
    return f"{name} AS MATERIALIZED (SELECT * FROM (VALUES {vals}) AS t(pos, qq))"


# IVF-style ANN over the table's label column as cell ids: probe the 2
# cells whose INTEGER centroid (truncating-division mean of quantized
# members) is squared-L2 nearest the quantized query, exact fold-cosine
# rerank inside.  Full value-hash oracle — centroid, probe ranking, and
# rerank all reproduce bit-for-bit.
def _emb_ann_ivf(spark, sf):
    return similarity.ivf_label_top_k_exact(
        model.load_table(spark, sf, "embeddings"), _QVEC, k=10, n_probe=2
    )


_q(
    "emb_ann_ivf",
    _emb_ann_ivf,
    f"""
WITH {_km_x_cte()},
{_km_query_cte()},
cent AS (
  SELECT label, pos, CAST(SUM(qx) AS BIGINT) // COUNT(*) AS c
  FROM x JOIN embeddings USING (vec_id) GROUP BY 1, 2),
pd AS (
  SELECT label, SUM((c - qq) * (c - qq)) AS dist
  FROM cent JOIN qv USING (pos) GROUP BY 1),
probe AS (SELECT label FROM pd ORDER BY dist, label LIMIT 2)
SELECT vec_id,
  ({_qvec_dot('embedding')}) / ({_norm_chain('embedding')} * {_QNORM}) AS cosine
FROM embeddings
WHERE label IN (SELECT label FROM probe)
ORDER BY cosine DESC, vec_id LIMIT 10
""",
)


# ------------------------------------------------------------- PII scrub
# Text-cleaning pass of a training-data pipeline: mask emails and long
# digit runs.  Patterns are plain ASCII classes, identical under Java
# regex (Spark) and RE2 (DuckDB).
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_LONGNUM_RE = "[0-9]{6,}"


def _pii_scrub(spark, sf):
    df = model.load_table(spark, sf, "documents")
    clean = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _LONGNUM_RE, "<NUM>"
    )
    return df.select(
        "doc_id",
        F.md5(clean).alias("clean_digest"),
        (F.length("text") - F.length(clean)).alias("removed_chars"),
    )


_q(
    "doc_pii_scrub",
    _pii_scrub,
    f"""
SELECT doc_id,
  md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
      '{_LONGNUM_RE}', '<NUM>', 'g')) AS clean_digest,
  len(text) - len(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
      '{_LONGNUM_RE}', '<NUM>', 'g')) AS removed_chars
FROM documents
""",
)


# Dedup applied: the survivor set (keep min doc_id per normalized-text
# group) — the step a pipeline actually runs after candidate discovery.
def _dedup_survivors(spark, sf):
    df = model.load_table(spark, sf, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(dedup.normalized_text()))
    return (
        df.withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .select("doc_id", "source")
    )


_q(
    "doc_dedup_survivors",
    _dedup_survivors,
    f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source, min(doc_id) OVER (PARTITION BY md5({_NORM})) AS m
  FROM documents
) WHERE doc_id = m
""",
)


# Group-wise vector search: top-3 most query-similar vectors per label —
# the "per-shard ANN" building block.  Label cardinality is tiny, so a
# label-partitioned window would funnel the whole table onto a handful
# of reducers; the shared two-phase rank spreads the exchange over
# (label, input-partition) cells first.
def _topk_per_label(spark, sf):
    df = model.load_table(spark, sf, "embeddings")
    q = F.array(*[F.lit(float(x)) for x in _QVEC])
    cos = similarity.cosine_expr(F.col("embedding"), q)
    scored = df.select("label", "vec_id", cos.alias("cosine"))
    return similarity._local_then_global_top_k(scored, "label", "vec_id", 3)


_q(
    "emb_topk_per_label",
    _topk_per_label,
    f"""
SELECT label, vec_id, cosine, rank FROM (
  SELECT label, vec_id,
    ({_qvec_dot('embedding')}) / ({_norm_chain('embedding')} * {_QNORM}) AS cosine,
    row_number() OVER (PARTITION BY label
      ORDER BY ({_qvec_dot('embedding')}) / ({_norm_chain('embedding')} * {_QNORM}) DESC,
               vec_id) AS rank
  FROM embeddings
) WHERE rank <= 3
""",
)


# Transitive dedup clustering: LSH candidate pairs -> connected
# components -> (doc_id, cluster_id = min member).  The oracle replays
# the identical banding pipeline in SQL and closes it transitively with
# a recursive reachability CTE (UNION-distinct, so it terminates at the
# component closure).
def _dedup_clusters(spark, sf):
    sigs = dedup.minhash_signatures(model.load_table(spark, sf, "documents"))
    cands = dedup.minhash_lsh_candidates(sigs)
    return dedup.connected_components(cands).select(
        F.col("id").alias("doc_id"), F.col("cluster_id")
    )


_q(
    "doc_dedup_clusters",
    _dedup_clusters,
    _MH_CTES.replace("WITH toks", "WITH RECURSIVE toks")
    + """
, edges AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM cands
  UNION SELECT b, a FROM cands
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
""",
)


# ---------------------------------------------------- reproducible sampling
# Deterministic hash sampling: the 100 TB-safe replacement for
# df.sample() — membership depends only on md5(doc_id, salt), so the
# sample is identical across engines, reruns, and repartitions.
from stdb_spark.functions import sampling

_SAMPLE_FRACTION = 0.25
_SAMPLE_THRESHOLD = int(_SAMPLE_FRACTION * sampling.HASH_DOMAIN)
_SAMPLE_SALT = "s0"


_q(
    "doc_hash_sample",
    lambda spark, sf: sampling.hash_sample(
        model.load_table(spark, sf, "documents"),
        fraction=_SAMPLE_FRACTION,
        salt=_SAMPLE_SALT,
    ).select("doc_id", "source"),
    f"""
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5('{_SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      < {_SAMPLE_THRESHOLD}
""",
)


# Deterministic train/val/test split: membership decided only by
# hash(doc_id, salt) ranges — reproducible across engines and cluster
# sizes, leakage structurally impossible.  Output is the per-source
# split audit (counts + char mass), the thing a curation run actually
# publishes.
_SPLIT_SALT = "split0"
_SPLIT_T1 = int(0.8 * sampling.HASH_DOMAIN)
_SPLIT_T2 = int(0.9 * sampling.HASH_DOMAIN)

_q(
    "doc_train_val_test_split",
    lambda spark, sf: sampling.train_val_test_split(
        model.load_table(spark, sf, "documents"), salt=_SPLIT_SALT
    )
    .groupBy("source", "split")
    .agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    ),
    f"""
SELECT source,
  CASE WHEN h < {_SPLIT_T1} THEN 'train'
       WHEN h < {_SPLIT_T2} THEN 'val'
       ELSE 'test' END AS split,
  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT source, n_chars,
         ('0x' || substr(md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
)
GROUP BY 1, 2
""",
)


# Exactly-n-per-source quota sample (mixture weighting), ranked by the
# same deterministic hash — one shuffle on the group key.
_q(
    "doc_stratified_quota",
    lambda spark, sf: sampling.stratified_quota(
        model.load_table(spark, sf, "documents"),
        group_col="source",
        n=5,
        salt=_SAMPLE_SALT,
    ).select("doc_id", "source"),
    f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY
      ('0x' || substr(md5('{_SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      doc_id) AS _rk
  FROM documents
) WHERE _rk <= 5
""",
)


# ------------------------------------------------------- decontamination
# Test-set n-gram overlap: docs from every other source that share a
# 4-gram with the 'src0' "benchmark" slice (the public 8-gram test,
# shrunk to 4 so the synthetic corpus produces collisions).  Benchmark
# postings broadcast; the corpus side never shuffles.
def _contamination(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    return sampling.ngram_contamination(
        corpus=docs.filter(F.col("source") != "src0"),
        benchmark=docs.filter(F.col("source") == "src0"),
        key="doc_id",
        bench_key="doc_id",
        n=4,
    )


_q(
    "doc_contamination",
    _contamination,
    f"""
WITH toksall AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
), g AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= 4
         THEN list_distinct(list_transform(range(1, len(t) - 4 + 2),
              i -> array_to_string(t[i:i+3], ' ')))
         ELSE [array_to_string(t, ' ')] END AS gs
  FROM toksall
), ex AS (
  SELECT doc_id, source, md5(unnest(gs)) AS gh FROM g
)
SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS shared_ngrams
FROM (SELECT doc_id, gh FROM ex WHERE source <> 'src0') c
JOIN (SELECT doc_id, gh FROM ex WHERE source = 'src0') b USING (gh)
GROUP BY c.doc_id, b.doc_id
""",
)


# Trained IVF: integer fixed-point k-means centroids (k=8, 4 Lloyd's
# iterations) fitted once and cached as a write-time artifact; the
# probe filters to the 2 cells integer-nearest the quantized query and
# exact-reranks by fold cosine inside.  The oracle re-trains the SAME
# centroids in unrolled SQL CTEs — full value-hash parity end-to-end
# (graduated from rows-only, VERDICT r4 #1).
_IVF_K, _IVF_ITERS = 8, 4


def _emb_ann_ivf_trained(spark, sf):
    import json
    import os

    docs = model.load_table(spark, sf, "embeddings")
    cache = model.derived_cache_path(sf, "ivf_centroids_exact", "embeddings")
    cfile = os.path.join(cache, "centroids.json")
    if os.path.exists(cfile):
        with open(cfile) as f:
            cents = json.load(f)
    else:
        cents = similarity.kmeans_fit_exact(docs, k=_IVF_K, iters=_IVF_ITERS)
        os.makedirs(cache, exist_ok=True)
        with open(cfile, "w") as f:
            json.dump(cents, f)
    return similarity.ivf_top_k_exact(docs, cents, _QVEC, k=10, n_probe=2)


_q(
    "emb_ann_ivf_trained",
    _emb_ann_ivf_trained,
    f"""
WITH {_km_x_cte()},
{_km_seeds_cte(str(_IVF_K))},
{_km_iters_cte(_IVF_ITERS)},
{_km_query_cte()},
pd AS (
  SELECT c.cell, SUM((c.c - q.qq) * (c.c - q.qq)) AS dist
  FROM c{_IVF_ITERS} c JOIN qv q USING (pos) GROUP BY 1),
probe AS (SELECT cell FROM pd ORDER BY dist, cell LIMIT 2),
fd AS (
  SELECT x.vec_id, c.cell, SUM((x.qx - c.c) * (x.qx - c.c)) AS dist
  FROM x JOIN c{_IVF_ITERS} c USING (pos) GROUP BY 1, 2),
fa AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM fd) WHERE rn = 1)
SELECT e.vec_id,
  ({_qvec_dot('e.embedding')}) / ({_norm_chain('e.embedding')} * {_QNORM}) AS cosine
FROM embeddings e JOIN fa ON e.vec_id = fa.vec_id
WHERE fa.cell IN (SELECT cell FROM probe)
ORDER BY cosine DESC, e.vec_id LIMIT 10
""",
)


# ------------------------------------------- Gopher-style quality signals
# Within-doc repetition ratios (duplicate lines / duplicate tokens / top
# token share) — the classic repetitive-document filters.  All map-side
# array algebra; the oracle recomputes each ratio relationally.
def _repetition(spark, sf):
    return text.repetition_stats(model.load_table(spark, sf, "documents")).select(
        "doc_id", "dup_line_ratio", "dup_token_ratio", "top_token_share"
    )


_q(
    "doc_repetition_stats",
    _repetition,
    f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> len(l) > 0) AS lines
  FROM documents
), tok_counts AS (
  SELECT doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok
)
SELECT t.doc_id,
  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
    / greatest(len(lines), 1) AS dup_line_ratio,
  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
    / greatest(len(toks), 1) AS dup_token_ratio,
  CASE WHEN len(toks) > 0
       THEN CAST((SELECT max(c) FROM tok_counts k WHERE k.doc_id = t.doc_id)
                 AS DOUBLE) / len(toks)
       ELSE 0.0 END AS top_token_share
FROM t
""",
)


# Mean unigram log-probability under the corpus' own distribution — the
# cheap perplexity-filter stand-in.  Decimal-summed log terms make the
# score partitioning-independent and engine-exact.
def _unigram_lp(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    return text.unigram_logprob(docs).select("doc_id", "mean_logprob", "n_tokens")


_q(
    "doc_unigram_logprob",
    _unigram_lp,
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), uni AS (
  SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
), total AS (SELECT count(*) AS n FROM tok)
SELECT doc_id,
  CAST(sum(CAST(ln(CAST(cnt AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM total))
                AS DECIMAL(28,12))) AS VARCHAR)::DOUBLE / count(*) AS mean_logprob,
  count(*) AS n_tokens
FROM tok JOIN uni USING (tok)
GROUP BY doc_id
""",
)


# DSIR importance weight (Xie et al. 2023): mean per-token
# ln(p_target/p_background) with the English subset as the target
# domain and the whole corpus as background — the resampling weight for
# domain-targeted data selection.
_q(
    "doc_dsir_logratio",
    lambda spark, sf: text.importance_logratio(
        model.load_table(spark, sf, "documents"), target=F.col("lang") == "en"
    ).select("doc_id", "mean_logratio", "n_tokens"),
    f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS tgt, unnest({_TOKS}) AS tok FROM documents
), counts AS (
  SELECT tok, count(*) AS c_bg,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
  FROM tok GROUP BY tok
), tot AS (
  SELECT sum(c_bg) AS n_bg, sum(c_tgt) AS n_tgt, count(*) AS v FROM counts
)
SELECT doc_id,
  CAST(sum(CAST(ln(((c_tgt + 1.0) / ((SELECT n_tgt FROM tot) + (SELECT v FROM tot)))
                 / ((c_bg + 1.0) / ((SELECT n_bg FROM tot) + (SELECT v FROM tot))))
               AS DECIMAL(28,12))) AS VARCHAR)::DOUBLE / count(*) AS mean_logratio,
  count(*) AS n_tokens
FROM tok JOIN counts USING (tok)
GROUP BY doc_id
""",
)


# Mean bigram log-probability under the corpus' own add-one-smoothed
# bigram LM — the CCNet-style perplexity filter without an external
# model (p(w2|w1) = (C(w1 w2)+1)/(C(w1·)+V)).  Same decimal-quantized
# log-sum contract as the unigram entry, so the score is
# partitioning-independent and engine-exact.
def _bigram_lp(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    return text.bigram_logprob(docs).select(
        "doc_id", "mean_bigram_logprob", "n_bigrams"
    )


_q(
    "doc_bigram_logprob",
    _bigram_lp,
    f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), bgs AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
), big AS (
  SELECT bg, count(*) AS c12 FROM bgs GROUP BY bg
), ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS cctx FROM big GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM t)
)
SELECT doc_id,
  CAST(sum(CAST(ln((c12 + 1.0) / (cctx + (SELECT CAST(v AS DOUBLE) FROM vocab)))
               AS DECIMAL(28,12))) AS VARCHAR)::DOUBLE / count(*)
    AS mean_bigram_logprob,
  count(*) AS n_bigrams
FROM bgs JOIN big USING (bg)
JOIN ctx ON split_part(bg, ' ', 1) = ctx.w1
GROUP BY doc_id
""",
)


# Multimodal dedup: perceptual hash over the REAL PNG decode, then the
# SAME full-recall Hamming pairing used for text SimHash — one pipeline
# for text and image near-dup discovery.  The fixture plants exact
# payload duplicates (ids 100+i), so pairs are guaranteed.  Oracle:
# clean-room pHash over the SOURCE arrays (independent DCT basis /
# contraction / median) + brute-force all-pairs scan — identical output
# because the pigeonhole blocking provably misses nothing at
# distance <= blocks-1 (the doc_hamming_near_dups argument).
def _mm_phash_near_dups(spark, sf):
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=48, kind="image")
    dup = media.select(
        (F.col("media_id") + 100).alias("media_id"),
        "kind", "mime", "width", "height", "duration_ms", "payload",
    ).limit(8)
    hashes = multimodal.image_phash(media.unionByName(dup))
    return dedup.hamming_pairs(
        hashes, sig_col="phash", key="media_id", max_distance=3
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


_q("mm_phash_near_dups", _mm_phash_near_dups, mm_oracles.phash_pairs_sql(48, 8, 3))


# Image near-dup CLUSTERING: the pHash pair graph closed transitively
# with the SAME connected-components operator text dedup uses — one
# pipeline from binary payloads to dedup clusters (A~B and B~C collapse
# even if A~C never paired).  Oracle: the clean-room pHash VALUES +
# brute-force pair scan (full recall at distance <= blocks-1) + the
# recursive reachability closure — the doc_dedup_clusters pattern with
# the pair CTE materialized (it feeds both members of the recursion).
def _mm_phash_clusters(spark, sf):
    from stdb_spark.functions import multimodal

    media = multimodal.make_fake_media(spark, n=48, kind="image")
    dup = media.select(
        (F.col("media_id") + 100).alias("media_id"),
        "kind", "mime", "width", "height", "duration_ms", "payload",
    ).limit(8)
    hashes = multimodal.image_phash(media.unionByName(dup))
    pairs = dedup.hamming_pairs(
        hashes, sig_col="phash", key="media_id", max_distance=3
    )
    return dedup.connected_components(pairs, src="a", dst="b").select(
        F.col("id").alias("media_id"), F.col("cluster_id")
    )


def _mm_phash_clusters_sql() -> str:
    pairs = mm_oracles.phash_pairs_sql(48, 8, 3)
    return f"""
WITH RECURSIVE prs AS MATERIALIZED ({pairs}),
edges AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM prs
  UNION SELECT b, a FROM prs
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS media_id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""


_q("mm_phash_clusters", _mm_phash_clusters, _mm_phash_clusters_sql())


# Weighted (importance) sampling: inclusion probability = per-row
# weight, decision = content hash — reproducible across engines and
# repartitions like doc_hash_sample.  Weight here: favor longer docs,
# least(n_chars/2000, 1).
_q(
    "doc_weighted_sample",
    lambda spark, sf: sampling.weighted_sample(
        model.load_table(spark, sf, "documents").withColumn(
            "w",
            F.least(F.col("n_chars") / F.lit(2000.0), F.lit(1.0)),
        ),
        weight_col="w",
        salt="w0",
    ).select("doc_id", "source"),
    f"""
SELECT doc_id, source FROM documents
WHERE CAST(('0x' || substr(md5('w0' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS DOUBLE) / {float(sampling.HASH_DOMAIN)!r}
      < least(n_chars / CAST(2000.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
""",
)


# Per-label embedding centroids: flat (label, pos, centroid) rows with
# decimal element sums — the class-prototype table for semantic dedup /
# IVF seeding; partitioning-independent and engine-exact.
def _emb_label_centroids(spark, sf):
    from stdb_spark.functions import similarity

    emb = model.load_table(spark, sf, "embeddings")
    return similarity.label_centroids(emb).orderBy("label", "pos")


_q(
    "emb_label_centroids",
    _emb_label_centroids,
    """
WITH d AS (
  SELECT label, u.pos AS pos, u.x AS x FROM (
    SELECT label, unnest(list_transform(range(len(embedding)),
                  i -> struct_pack(pos := i, x := embedding[i+1]))) AS u
    FROM embeddings)
)
SELECT label, pos,
  CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
    / count(*) AS centroid
FROM d GROUP BY label, pos ORDER BY label, pos
""",
)


# Corpus-level paragraph dedup (C4/Dolma pass): repeated non-blank
# paragraphs survive only at their first (doc, position) occurrence;
# docs reassembled in order.  Keeper choice is a struct min ->
# deterministic under any partitioning, so the full text carries a
# value-hash oracle.
def _doc_paragraph_dedup(spark, sf):
    from stdb_spark.functions import dedup

    docs = model.load_table(spark, sf, "documents")
    return dedup.paragraph_dedup(docs).orderBy("doc_id")


_q(
    "doc_paragraph_dedup",
    _doc_paragraph_dedup,
    """
WITH p AS (
  SELECT doc_id, u.idx AS idx, u.para AS para FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(sp)),
                  i -> struct_pack(idx := i, para := sp[i+1]))) AS u
    FROM (SELECT doc_id, string_split(text, chr(10)) AS sp FROM documents))
), k AS (
  SELECT para,
         min(struct_pack(d := doc_id, i := idx)) AS keeper
  FROM p WHERE trim(para) <> '' GROUP BY para
)
, assembled AS (
  SELECT p.doc_id,
         string_agg(p.para, chr(10) ORDER BY p.idx) AS text
  FROM p LEFT JOIN k ON p.para = k.para
  WHERE trim(p.para) = '' OR (k.keeper.d = p.doc_id AND k.keeper.i = p.idx)
  GROUP BY p.doc_id
)
SELECT d.doc_id, coalesce(a.text, '') AS text
FROM documents d LEFT JOIN assembled a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
""",
)


# Corpus-wide top-K bigrams (vocabulary / BPE-prep staple).  Map-side
# explode + partial-aggregated count, TakeOrdered finish (no global
# sort); deterministic total order via (count desc, bigram asc).
_TOP_NGRAMS_K = 50


# Per-doc top-3 tf·idf terms.  idf is rounded to 6 dp then ranking is
# DECIMAL-exact on both engines (see text.tfidf_top_terms); ties break
# on term asc.
_q(
    "doc_tfidf_top_terms",
    lambda spark, sf: text.tfidf_top_terms(
        model.load_table(spark, sf, "documents"), k=3
    ),
    f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n FROM documents
), idf AS (
  SELECT term,
         CAST(round(ln(CAST(n.n AS DOUBLE) / df), 6) AS DECIMAL(18,6)) AS idf
  FROM dfq, n
), s AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DECIMAL(10,0)) * idf.idf AS score
  FROM tf JOIN idf USING (term)
), r AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rk
  FROM s
)
SELECT doc_id, term, rk, CAST(score AS DOUBLE) AS score
FROM r WHERE rk <= 3
""",
)


def _doc_top_bigrams(spark, sf):
    from stdb_spark.functions.text import tokens_col

    docs = model.load_table(spark, sf, "documents")
    toks = tokens_col("text")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(_TOP_NGRAMS_K)
    )


_q(
    "doc_top_bigrams",
    _doc_top_bigrams,
    f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
b AS (
  SELECT unnest(list_transform(range(len(toks) - 1),
                i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
  FROM t WHERE len(toks) > 1
)
SELECT bigram, count(*) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC LIMIT {_TOP_NGRAMS_K}
""",
)


# ------------------------------------------------- training-batch prep
# Reproducible global shuffle: (shard, pos) layout for shard-file
# writing.  One hash shuffle + per-shard window; the permutation is a
# pure function of (doc_id, salt) so re-runs and engines agree.
def _shuffle_shards(spark, sf):
    from stdb_spark.functions import packing

    return packing.shuffle_shards(
        model.load_table(spark, sf, "documents").select("doc_id", "source"),
        n_shards=8,
        salt="shuf0",
    ).select("doc_id", "source", "shard", F.col("pos").cast("long").alias("pos"))


def _pack_hash(salt: str) -> str:
    return f"('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"


_q(
    "doc_shuffle_shards",
    _shuffle_shards,
    f"""
WITH h AS (
  SELECT doc_id, source,
         CAST({_pack_hash("shuf0/shard")} % 8 AS INTEGER) AS shard,
         {_pack_hash("shuf0/order")} AS _h
  FROM documents
)
SELECT doc_id, source, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY _h, doc_id) - 1 AS BIGINT) AS pos
FROM h
""",
)


# Concat-and-chunk sample packing (GPT-style): shuffled per-shard token
# stream cut into 1024-token bins; documents may span bins.  The whole
# layout is one window cumsum over exact BIGINTs — no UDF, no state.
def _pack_sequences(spark, sf):
    from stdb_spark.functions import packing

    docs = model.load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(text.tokens_col(dedup.normalized_text())).cast("long").alias("n_tokens"),
    )
    return packing.pack_concat_chunks(
        docs, budget=1024, n_shards=8, salt="pack0"
    )


_q(
    "doc_pack_sequences",
    _pack_sequences,
    f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST({_pack_hash("pack0/shard")} % 8 AS INTEGER) AS shard,
         {_pack_hash("pack0/order")} AS _h
  FROM documents
), c AS (
  SELECT doc_id, n_tokens, shard,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY _h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT doc_id, n_tokens, shard,
       CAST(cum_before // 1024 AS BIGINT) AS bin_id,
       CAST(cum_before % 1024 AS BIGINT) AS offset
FROM c
""",
)


# --------------------------------------------------- JSONL corpus ingest
# Round-trip through the training-corpus interchange format: the
# documents table is exported once as JSONL shards (write-time ETL into
# the derived cache, like the summary/LSH artifacts), read back through
# the explicit-schema JSONL source, and reduced to a fingerprint
# projection.  The oracle reads the parquet directly, so the gate
# proves the JSON serde round-trips every row bit-for-bit — including
# unicode text and embedded newlines.
def _ingest_jsonl(spark, sf):
    import os

    from stdb_spark.sources import corpus

    docs = model.load_table(spark, sf, "documents")
    path = model.derived_cache_path(sf, "jsonl_corpus", "documents")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        corpus.write_jsonl(docs, path)
    back = corpus.read_jsonl(spark, path, corpus.DOCUMENTS_SCHEMA)
    # quarantine filter inline (a standalone count over ONLY the corrupt
    # column is unsupported on a raw JSON read — SPARK-21610); the gate
    # proves zero rows were lost because the row count must match the
    # oracle's direct parquet read.
    return back.filter(~corpus.is_corrupt(back)).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("text_fp"),
    )


_q(
    "ingest_jsonl_roundtrip",
    _ingest_jsonl,
    "SELECT doc_id, lang, source, n_chars, md5(text) AS text_fp FROM documents",
)


# --------------------------------------------- quantile quality filter
# The two-phase corpus curation pass: an exact percentile threshold is
# computed over the whole corpus (one scalar), broadcast, and applied
# as a filter — "keep the top quartile by quality".  Spark's exact
# F.percentile and DuckDB's quantile_cont share the same linear
# interpolation, so the threshold double matches bit-for-bit and the
# boundary comparison is engine-exact.  The oracle reuses the
# doc_quality_score SQL verbatim as a CTE.
def _quality_filter(spark, sf):
    scored = text.quality_score(model.load_table(spark, sf, "documents")).select(
        "doc_id", "quality_score"
    )
    thr = scored.agg(F.percentile("quality_score", F.lit(0.75)).alias("_thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_score") >= F.col("_thr"))
        .select("doc_id", "quality_score")
    )


_q(
    "doc_quality_quantile_filter",
    _quality_filter,
    f"""
WITH scored AS ({ORACLES["doc_quality_score"]})
SELECT doc_id, quality_score FROM scored
WHERE quality_score >= (SELECT quantile_cont(quality_score, 0.75) FROM scored)
""",
)


# ------------------------------------------------ unicode normalization
# NFC cleanup pass: per doc, the normalized-text fingerprint and
# whether normalization changed the bytes (decomposed accents etc.).
# The one pandas-UDF text op — Spark has no JVM Unicode normalizer;
# DuckDB's nfc_normalize implements the same spec.
_q(
    "doc_unicode_nfc",
    lambda spark, sf: model.load_table(spark, sf, "documents").select(
        "doc_id",
        F.md5(text.nfc_normalize_col("text")).alias("nfc_fp"),
        (text.nfc_normalize_col("text") != F.col("text")).alias("changed"),
    ),
    """
SELECT doc_id, md5(nfc_normalize(text)) AS nfc_fp,
       nfc_normalize(text) <> text AS changed
FROM documents
""",
)


# ----------------------------------------------- semantic dedup (SemDeDup)
# Cluster-pruned embedding near-dup: k-means cells bound the quadratic
# pairing (Abbas et al. 2023).  GATE variant: integer fixed-point
# training + fold-cosine pairs — full value-hash oracle (the SQL
# re-trains the same centroids with k computed from the corpus size by
# the same rule).  The BLAS-blocked semantic_dedup_pairs stays the
# production kernel (emb_semantic_dedup_blas below) — identical pair
# set up to last-ulp threshold straddles, ~100x faster per pair.
_SEMDEDUP_ITERS = 4
_SEMDEDUP_T = 0.35  # ~99th pct of intra-cell cosine on the synthetic corpus


def _semdedup_centroids(spark, sf):
    import json
    import os

    emb = model.load_table(spark, sf, "embeddings")
    # SemDeDup's cluster count scales with corpus size (the published
    # method uses k ~ n/expected-cluster-size): pairing cost is
    # sum(cell^2), so a fixed small k degrades quadratically as the
    # table grows.  Trained separately from the IVF probe's k=8
    # centroids — different operator, different k, own artifact.
    n = emb.count()
    k = max(8, min(256, n // 200))
    cache = model.derived_cache_path(
        sf, f"semdedup_centroids_exact_k{k}", "embeddings"
    )
    cfile = os.path.join(cache, "centroids.json")
    if os.path.exists(cfile):
        with open(cfile) as f:
            cents = json.load(f)
    else:
        cents = similarity.kmeans_fit_exact(emb, k=k, iters=_SEMDEDUP_ITERS)
        os.makedirs(cache, exist_ok=True)
        with open(cfile, "w") as f:
            json.dump(cents, f)
    return emb, cents


def _emb_semantic_dedup(spark, sf):
    emb, cents = _semdedup_centroids(spark, sf)
    return similarity.semantic_dedup_pairs_exact(emb, cents, threshold=_SEMDEDUP_T)


# the k-by-corpus-size rule, in SQL (mirrors max(8, min(256, n//200)))
_SEMDEDUP_K_SQL = (
    "(SELECT GREATEST(8, LEAST(256, COUNT(*) // 200)) FROM embeddings)"
)

# the exact-pair SQL, shared by the emb_semantic_dedup oracle and the
# BLAS twin's verdict oracle (which counts the same pair set)
_SEMDEDUP_CTES = f"""
WITH {_km_x_cte()},
{_km_seeds_cte(_SEMDEDUP_K_SQL)},
{_km_iters_cte(_SEMDEDUP_ITERS)},
fd AS (
  SELECT x.vec_id, c.cell, SUM((x.qx - c.c) * (x.qx - c.c)) AS dist
  FROM x JOIN c{_SEMDEDUP_ITERS} c USING (pos) GROUP BY 1, 2),
fa AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM fd) WHERE rn = 1)
"""

_SEMDEDUP_PAIRS_SELECT = f"""
SELECT a.vec_id AS a, b.vec_id AS b,
  ({_dot_chain('ea.embedding', 'eb.embedding')})
    / ({_norm_chain('ea.embedding')} * {_norm_chain('eb.embedding')}) AS cosine
FROM fa a JOIN fa b ON a.cell = b.cell AND a.vec_id < b.vec_id
JOIN embeddings ea ON ea.vec_id = a.vec_id
JOIN embeddings eb ON eb.vec_id = b.vec_id
WHERE ({_dot_chain('ea.embedding', 'eb.embedding')})
    / ({_norm_chain('ea.embedding')} * {_norm_chain('eb.embedding')}) >= {_SEMDEDUP_T}
"""

_q(
    "emb_semantic_dedup",
    _emb_semantic_dedup,
    _SEMDEDUP_CTES + _SEMDEDUP_PAIRS_SELECT,
)


# The production-scale BLAS twin, in verdict-oracle form (VERDICT r10
# task #2b): BLAS summation order is platform-dependent in the last
# ulp, so the pair list itself can never value-hash — instead the
# query runs BOTH kernels over the SAME deterministic integer cell
# assignment (isolating the blocked-matmul pairing from float-argmin
# cell-boundary flips) and hashes one verdict row: the exact twin's
# pair count (deterministic, reproduced by the oracle from the shared
# pair CTE) plus a boolean that the two pair SETS agree except for
# pairs whose exact-arithmetic cosine sits within 1e-9 of the
# threshold — the only divergence last-ulp BLAS rounding can cause.
def _emb_semantic_dedup_blas(spark, sf):
    emb, cents = _semdedup_centroids(spark, sf)
    qcells = emb.withColumn(
        "cell", similarity.assign_cells_exact(cents, "embedding")
    )
    blas = similarity.semantic_dedup_pairs(
        qcells,
        [[c / _KMQ for c in cc] for cc in cents],
        threshold=_SEMDEDUP_T,
        cell_col="cell",
    ).select("a", "b", F.col("cosine").alias("cos_blas"))
    exact = similarity.semantic_dedup_pairs_exact(
        emb, cents, threshold=_SEMDEDUP_T
    ).select("a", "b", F.col("cosine").alias("cos_exact"))
    j = exact.join(blas, ["a", "b"], "full_outer")
    both = F.col("cos_exact").isNotNull() & F.col("cos_blas").isNotNull()
    straddle = (
        F.abs(F.coalesce("cos_exact", "cos_blas") - F.lit(_SEMDEDUP_T))
        <= 1e-9
    )
    return j.agg(
        F.sum(F.col("cos_exact").isNotNull().cast("long")).alias("n_pairs"),
        F.min(F.when(both, F.lit(True)).otherwise(straddle)).alias(
            "pair_sets_match_within_ulp"
        ),
    )


_q(
    "emb_semantic_dedup_blas",
    _emb_semantic_dedup_blas,
    _SEMDEDUP_CTES
    + f""", pairs AS ({_SEMDEDUP_PAIRS_SELECT})
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
  TRUE AS pair_sets_match_within_ulp
FROM pairs
""",
)


# Decontamination end-to-end: the corpus that SURVIVES the 4-gram
# overlap test against the src0 benchmark slice — the left-anti join a
# pipeline actually ships (doc_contamination is the audit list, this is
# the clean corpus).  The droplist is usually small (docs overlapping a
# bounded test set) but has NO a-priori bound — one stop-gram shared
# with the benchmark can pull in an arbitrary corpus fraction — so the
# anti join is shuffle-pinned rather than broadcast-pinned: the narrow
# (doc_id, source, n_chars) exchange is cheap at any scale, a droplist
# broadcast gone wrong is a driver OOM.
def _decontaminated(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    dropped = sampling.ngram_contamination(
        corpus=docs.filter(F.col("source") != "src0"),
        benchmark=docs.filter(F.col("source") == "src0"),
        n=4,
    ).select("doc_id").distinct()
    return (
        docs.filter(F.col("source") != "src0")
        .join(dropped.hint("shuffle_hash"), "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


_q(
    "doc_decontaminated_corpus",
    _decontaminated,
    f"""
WITH toksall AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
), g AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= 4
         THEN list_distinct(list_transform(range(1, len(t) - 4 + 2),
              i -> array_to_string(t[i:i+3], ' ')))
         ELSE [array_to_string(t, ' ')] END AS gs
  FROM toksall
), ex AS (
  SELECT doc_id, source, unnest(gs) AS gh FROM g
)
SELECT doc_id, source, n_chars FROM documents d
WHERE source <> 'src0'
  AND NOT EXISTS (
    SELECT 1 FROM ex c JOIN ex b ON c.gh = b.gh
    WHERE b.source = 'src0' AND c.source <> 'src0' AND c.doc_id = d.doc_id
  )
""",
)


# ----------------------------------------- hybrid text+embedding dedup
# Cross-modal verification: MinHash-LSH textual candidates scored by
# their documents' embedding cosine (vec_id is doc-aligned in the
# testdata).  The real-pipeline shape — a cheap lexical discover stage
# feeding an embedding verify stage — as ONE plan: the candidate list
# is candidate-sized (not corpus-sized), so the embedding joins stay
# cheap.  The candidate side is shuffle-pinned: its post-banding
# static estimate is fiction, so left alone Catalyst broadcasts the
# candidate list — fine at this sf, a driver OOM at billions of
# candidates (the embedding sides are plain narrow scans whose honest
# estimates flip to shuffle on their own; tools/plans.py broadcast).
def _hybrid_neardup(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    emb = model.load_table(spark, sf, "embeddings")
    cands = dedup.minhash_lsh_candidates(dedup.minhash_signatures(docs)).hint(
        "shuffle_hash"
    )
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("_ea"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("_eb"))
    return (
        cands.join(ea, "a")
        .join(eb, "b")
        .select(
            "a",
            "b",
            similarity.cosine_expr(F.col("_ea"), F.col("_eb")).alias("cosine"),
        )
    )


_q(
    "doc_hybrid_neardup",
    _hybrid_neardup,
    _MH_CTES
    + f"""
SELECT c.a, c.b,
  ({_dot_chain('ea.embedding', 'eb.embedding')})
    / ({_norm_chain('ea.embedding')} * {_norm_chain('eb.embedding')}) AS cosine
FROM cands c
JOIN embeddings ea ON ea.vec_id = c.a
JOIN embeddings eb ON eb.vec_id = c.b
""",
)


# -------------------------------------------------- vocabulary coverage
# Tokenizer-budget analysis: what fraction of all corpus token
# OCCURRENCES the top-50 vocabulary covers — the measurement behind
# "how big must the vocab be".  Two-phase: exact counts pick the vocab
# (ties broken by token text), then one conditional sum over the same
# aggregated counts — no second corpus scan; integer-exact until the
# single final division.
def _vocab_coverage(spark, sf):
    toks = (
        model.load_table(spark, sf, "documents")
        .select(F.explode(text.tokens_col(dedup.normalized_text())).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # top-50 via TakeOrderedAndProject (per-partition top-k, no global
    # sort — a single-partition row_number window over the vocab would
    # funnel every distinct token through one task), then a broadcast
    # membership flag on the same aggregated counts.
    vocab = toks.orderBy(F.col("c").desc(), F.col("tok")).limit(50).select(
        F.col("tok").alias("_vtok")
    )
    flagged = toks.join(
        F.broadcast(vocab), toks.tok == F.col("_vtok"), "left_outer"
    )
    in_vocab = F.when(F.col("_vtok").isNotNull(), F.col("c")).otherwise(0)
    return flagged.agg(
        F.sum("c").alias("total_tokens"),
        F.sum(in_vocab).alias("vocab_tokens"),
        (F.sum(in_vocab) / F.sum("c").cast("double")).alias("coverage"),
    )


_q(
    "doc_vocab_coverage",
    _vocab_coverage,
    f"""
WITH counts AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM counts
)
SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN rk <= 50 THEN c ELSE 0 END) AS BIGINT) AS vocab_tokens,
       CAST(sum(CASE WHEN rk <= 50 THEN c ELSE 0 END) AS DOUBLE)
         / CAST(sum(c) AS DOUBLE) AS coverage
FROM ranked
""",
)


# ---------------------------------------------------- corpus curation v3
# C4-style line-level boilerplate removal (public Raffel et al. 2020
# rules).  The synthetic corpus has no newlines or terminal punctuation,
# so the registered variant exercises the word-count + blacklist rules
# (terminal punctuation is pinned by
# tests/test_functions.py::test_c4_line_filter_rules on planted texts).
_C4_MIN_WORDS = 25
_C4_BLACKLIST = ("javascript", "dup")


def _c4_line_filter(spark, sf):
    return text.c4_line_filter(
        model.load_table(spark, sf, "documents"),
        min_words_per_line=_C4_MIN_WORDS,
        require_terminal_punct=False,
        blacklist=_C4_BLACKLIST,
        min_kept_lines=1,
    ).select("doc_id", "source", "clean_text", "n_kept_lines")


_q(
    "doc_c4_line_filter",
    _c4_line_filter,
    f"""
WITH kept AS (
  SELECT doc_id, source,
    list_filter(string_split(text, chr(10)),
      x -> len(list_filter(string_split_regex(x, '\\s+'), w -> len(w) > 0)) >= {_C4_MIN_WORDS}
           AND NOT contains(lower(x), '{_C4_BLACKLIST[0]}')
           AND NOT contains(lower(x), '{_C4_BLACKLIST[1]}')) AS k
  FROM documents)
SELECT doc_id, source, array_to_string(k, chr(10)) AS clean_text,
       len(k) AS n_kept_lines
FROM kept WHERE len(k) >= 1
""",
)


# Epoch-weighted source mixing (Pile/Dolma-style): up-sample some
# sources (2.5x, 3x), down-sample others (0.3x, 0.5x), drop the rest.
_MIX_WEIGHTS = {
    "src0": 2.5,
    "src1": 0.3,
    "src2": 1.0,
    "src3": 0.8,
    "src4": 3.0,
    "src5": 0.5,
}
_MIX_SALT = "mix0"


def _source_mixture(spark, sf):
    return sampling.source_mixture(
        model.load_table(spark, sf, "documents"),
        weights=_MIX_WEIGHTS,
        salt=_MIX_SALT,
    ).select("doc_id", "source", "epoch")


_MIX_VALUES = ", ".join(
    f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in sorted(_MIX_WEIGHTS.items())
)

_q(
    "doc_source_mixture",
    _source_mixture,
    f"""
WITH w(source, wt) AS (VALUES {_MIX_VALUES}),
c AS (
  SELECT doc_id, d.source,
    CAST(floor(wt) AS INT)
      + CASE WHEN CAST(('0x' || substr(md5('{_MIX_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  AS DOUBLE) / {float(sampling.HASH_DOMAIN)!r} < wt - floor(wt)
             THEN 1 ELSE 0 END AS copies
  FROM documents d JOIN w USING (source))
SELECT doc_id, source, unnest(generate_series(1, copies)) AS epoch
FROM c WHERE copies >= 1
""",
)


# Sequence-length bucketing: padding/truncation accounting per pow-2
# rung — the planning query behind length-bucketed batching.
def _length_buckets(spark, sf):
    from stdb_spark.functions import packing

    docs = model.load_table(spark, sf, "documents").withColumn(
        "n_tokens", text.token_count_col("text").cast("long")
    )
    return packing.length_bucket_stats(docs)


def _ladder_case() -> str:
    from stdb_spark.functions.packing import DEFAULT_LENGTH_LADDER as L

    whens = " ".join(f"WHEN n <= {r} THEN {r}" for r in L)
    return f"CASE {whens} ELSE {L[-1]} END"


_q(
    "doc_length_buckets",
    _length_buckets,
    f"""
WITH t AS (
  SELECT len(list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0)) AS n
  FROM documents),
b AS (
  SELECT CAST({_ladder_case()} AS BIGINT) AS bucket,
         CAST(least(n, 4096) AS BIGINT) AS kept,
         CAST(greatest(n - 4096, 0) AS BIGINT) AS trunc
  FROM t)
SELECT bucket, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS kept_tokens,
       CAST(sum(bucket - kept) AS BIGINT) AS padding_tokens,
       CAST(sum(trunc) AS BIGINT) AS truncated_tokens
FROM b GROUP BY bucket
""",
)


# Int8-quantized ANN: exact int64 dot product over symmetric int8
# vectors, rescaled by the two per-vector scales — the 4x-smaller scan
# path for cosine top-k at 100 TB.
def _emb_ann_int8(spark, sf):
    return similarity.ann_int8_top_k(
        model.load_table(spark, sf, "embeddings"), _QVEC, k=10
    )


def _int8_oracle() -> str:
    qscale, qvec = similarity.quantize_query_int8(_QVEC)
    dot = " + ".join(f"qv[{i + 1}]::BIGINT * {qvec[i]}" for i in range(_DIM))
    return f"""
WITH q AS (
  SELECT vec_id,
    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale,
    list_transform(embedding,
      x -> CASE WHEN scale = 0.0 THEN 0
                ELSE CAST(floor(x::DOUBLE / scale + 0.5) AS INT) END) AS qv
  FROM embeddings)
SELECT vec_id, CAST(({dot}) AS DOUBLE) * scale * {_dlit(qscale)} AS qdot
FROM q ORDER BY qdot DESC, vec_id LIMIT 10
"""


_q("emb_ann_int8", _emb_ann_int8, _int8_oracle())


# Per-document n-gram novelty: fraction of a doc's distinct shingles
# unique to it corpus-wide (one postings exchange; see dedup.ngram_novelty).
def _ngram_novelty(spark, sf):
    return dedup.ngram_novelty(model.load_table(spark, sf, "documents"), n=3)


_q(
    "doc_ngram_novelty",
    _ngram_novelty,
    f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct(list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')))
         ELSE [array_to_string(t, ' ')] END AS g
  FROM toks
), ex AS (
  SELECT doc_id, len(g) AS n_shingles, unnest(g) AS shingle FROM sh
), own AS (
  SELECT shingle, count(*) AS c FROM ex GROUP BY 1
)
SELECT e.doc_id, e.n_shingles,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_shingles,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / greatest(e.n_shingles, 1) AS novelty
FROM ex e JOIN own USING (shingle)
GROUP BY e.doc_id, e.n_shingles
""",
)


# Corpus snapshot diff: v1 = docs except doc_id % 10 == 7 (those appear
# as "added" in v2); v2 mutates text for doc_id % 10 == 3 ("changed").
# Both snapshots derive deterministically from the shipped table, so
# the oracle rebuilds them identically.
def _snapshot_diff(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 7)
    v2 = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 3, F.concat(F.col("text"), F.lit(" edited"))
        ).otherwise(F.col("text")),
    )
    return dedup.snapshot_diff(v1, v2)


_q(
    "doc_snapshot_diff",
    _snapshot_diff,
    f"""
WITH v1 AS (
  SELECT doc_id, md5({_NORM}) AS d FROM documents WHERE doc_id % 10 != 7
), v2 AS (
  SELECT doc_id,
    md5(regexp_replace(lower(CASE WHEN doc_id % 10 = 3 THEN text || ' edited' ELSE text END),
        '\\s+', ' ', 'g')) AS d
  FROM documents
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.d IS NULL THEN 'added'
            WHEN v2.d IS NULL THEN 'removed'
            WHEN v1.d != v2.d THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
""",
)


# Simplified silhouette per label (centroid-based clustering quality,
# O(n*d*k)): decimal-exact centroid means, every squared-distance term
# quantized to DECIMAL(38,8) before reduction, distances via sqrt of
# the exact sum — bit-deterministic, so the oracle replicates it.
def _emb_silhouette(spark, sf):
    return similarity.simplified_silhouette(
        model.load_table(spark, sf, "embeddings")
    )


_q(
    "emb_silhouette",
    _emb_silhouette,
    """
WITH ex AS (
  SELECT vec_id, label AS vlabel,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS x
  FROM embeddings
), cents AS (
  SELECT vlabel AS clabel, pos,
         CAST(CAST(sum(CAST(x::DOUBLE AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
           / count(*) AS c
  FROM ex GROUP BY vlabel, pos
), sq AS (
  SELECT e.vec_id, e.vlabel, cents.clabel,
    CAST(CAST(sum(CAST((e.x::DOUBLE - c) * (e.x::DOUBLE - c) AS DECIMAL(38,8)))
         AS VARCHAR) AS DOUBLE) AS sq
  FROM ex e JOIN cents ON e.pos = cents.pos
  GROUP BY e.vec_id, e.vlabel, cents.clabel
), pv AS (
  SELECT vec_id, vlabel,
    sqrt(max(CASE WHEN clabel = vlabel THEN sq END)) AS a,
    sqrt(min(CASE WHEN clabel != vlabel THEN sq END)) AS b
  FROM sq GROUP BY vec_id, vlabel
), s AS (
  SELECT vlabel AS label,
    CASE WHEN greatest(a, b) = 0.0 THEN 0.0
         ELSE (b - a) / greatest(a, b) END AS sil
  FROM pv
)
SELECT label, count(*) AS n,
  CAST(CAST(sum(CAST(sil AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / count(*)
    AS mean_silhouette
FROM s GROUP BY label
""",
)


# Survivor-selection policy variant: within each exact-duplicate class
# keep the LONGEST document (ties: smallest doc_id) — the usual policy
# when near-identical crawls differ by truncation.  max_by via struct
# ordering; deterministic by the tie-break.
def _dedup_keep_longest(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    digest = F.md5(dedup.normalized_text())
    return (
        docs.select(digest.alias("digest"), "doc_id", "n_chars")
        .groupBy("digest")
        .agg(
            F.count("*").alias("dup_count"),
            F.max(
                F.struct(
                    F.col("n_chars").alias("len"), (-F.col("doc_id")).alias("negid")
                )
            ).alias("_best"),
        )
        .filter(F.col("dup_count") > 1)
        .select(
            "digest",
            "dup_count",
            F.col("_best.len").alias("keep_len"),
            (-F.col("_best.negid")).alias("keep_id"),
        )
    )


_q(
    "doc_dedup_keep_longest",
    _dedup_keep_longest,
    f"""
SELECT md5({_NORM}) AS digest, count(*) AS dup_count,
       max(n_chars) AS keep_len,
       min(doc_id) FILTER (WHERE n_chars = max_n) AS keep_id
FROM (
  SELECT *, max(n_chars) OVER (PARTITION BY md5({_NORM})) AS max_n
  FROM documents
)
GROUP BY 1 HAVING count(*) > 1
""",
)


# ---------------------------------------------- duplicate-span profile
# Span-level duplicate discovery (the Lee et al. 2022 exact-substring-
# dedup primitive): how much of each document is W-token boilerplate
# that recurs corpus-wide.  Unlike pair emission, a corpus-hot span
# only bumps one count cell — no df-cap needed, no skew (md5 keys).
def _doc_dup_spans(spark, sf):
    from stdb_spark.functions.dedup import dup_span_profile

    return dup_span_profile(
        model.load_table(spark, sf, "documents"), width=8
    )


_q(
    "doc_dup_spans",
    _doc_dup_spans,
    """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
),
s AS (SELECT doc_id, unnest(range(1, len(toks) - 6)) AS i, toks FROM t),
g AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS gram FROM s
),
c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS dup_ratio
FROM g JOIN c USING (gram)
GROUP BY doc_id
""",
)


# ------------------------------------------------- winnowing fingerprints
# MOSS-style winnowing (Schleimer et al. SIGMOD'03): min-hash per
# sliding window of 5-gram digests — local-sampling fingerprints
# guaranteeing any shared run of >= k+w-1 tokens shares a fingerprint.
# Pure map-side array expressions; zero shuffles in the Spark plan.
def _doc_winnowing(spark, sf):
    from stdb_spark.functions.text import winnowing_fingerprints

    return winnowing_fingerprints(
        model.load_table(spark, sf, "documents"), k=5, window=4
    )


_q(
    "doc_winnowing",
    _doc_winnowing,
    """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
),
h AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 5
      THEN list_transform(range(1, len(toks) - 3),
                          i -> md5(array_to_string(toks[i:i+4], ' ')))
      ELSE []::VARCHAR[] END AS hs
  FROM t
),
s AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN []::VARCHAR[]
         WHEN len(hs) < 4 THEN [list_min(hs)]
         ELSE list_transform(range(1, len(hs) - 2),
                             j -> list_min(hs[j:j+3])) END AS sel
  FROM h
),
f AS (SELECT doc_id, list_sort(list_distinct(sel)) AS fps FROM s)
SELECT doc_id,
  CAST(len(fps) AS BIGINT) AS n_fingerprints,
  md5(array_to_string(fps, '')) AS fp_digest
FROM f
""",
)


# ------------------------------------------------- product quantization
# PQ ANN (Jégou et al. TPAMI'11): 4 subspace codebooks × 16 centroids,
# m-byte codes, asymmetric-distance top-k via a broadcast m×ks lookup
# table.  Integer fixed-point codebooks + integer ADC distances — the
# entire pipeline (training, codes, scores) is BIGINT arithmetic, so
# the oracle re-derives it bit-for-bit: 4 unrolled trainings sharing
# one exploded CTE (graduated from rows-only, VERDICT r4 #1).
_PQ_M, _PQ_KS, _PQ_ITERS = 4, 16, 3
_PQ_SUB = _DIM // _PQ_M


def _emb_ann_pq(spark, sf):
    import json
    import os

    emb = model.load_table(spark, sf, "embeddings")
    cache = model.derived_cache_path(sf, "pq_codebooks_exact_m4k16", "embeddings")
    cfile = os.path.join(cache, "codebooks.json")
    if os.path.exists(cfile):
        with open(cfile) as f:
            books = json.load(f)
    else:
        books = similarity.pq_train_exact(
            emb, dim=_DIM, m=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS
        )
        os.makedirs(cache, exist_ok=True)
        with open(cfile, "w") as f:
            json.dump(books, f)
    codes = similarity.pq_codes_exact(emb, books)
    return similarity.pq_adc_top_k_exact(codes, books, _QVEC, k=10)


def _pq_oracle_sql() -> str:
    trains, codes, qdists = [], [], []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_SUB + 1, (j + 1) * _PQ_SUB
        trains.append(
            _km_iters_cte(_PQ_ITERS, p=f"p{j}", pos_filter=f"pos BETWEEN {lo} AND {hi}")
        )
        codes.append(f"""cd{j} AS (
  SELECT x.vec_id, c.cell, SUM((x.qx - c.c) * (x.qx - c.c)) AS dist
  FROM x JOIN p{j}c{_PQ_ITERS} c USING (pos) GROUP BY 1, 2),
co{j} AS (
  SELECT vec_id, cell AS code FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM cd{j}) WHERE rn = 1)""")
        qdists.append(f"""qd{j} AS (
  SELECT c.cell, SUM((c.c - q.qq) * (c.c - q.qq)) AS dist
  FROM p{j}c{_PQ_ITERS} c JOIN qv q USING (pos) GROUP BY 1)""")
    joins = "\n".join(
        f"JOIN co{j} ON co{j}.vec_id = co0.vec_id\nJOIN qd{j} ON qd{j}.cell = co{j}.code"
        for j in range(1, _PQ_M)
    )
    score = " + ".join(f"qd{j}.dist" for j in range(_PQ_M))
    trains_sql = ",\n".join(trains)
    codes_sql = ",\n".join(codes)
    qdists_sql = ",\n".join(qdists)
    return f"""
WITH {_km_x_cte()},
{_km_seeds_cte(str(_PQ_KS))},
{_km_query_cte()},
{trains_sql},
{codes_sql},
{qdists_sql}
SELECT co0.vec_id, CAST({score} AS BIGINT) AS adc_dist2
FROM co0
JOIN qd0 ON qd0.cell = co0.code
{joins}
ORDER BY adc_dist2, co0.vec_id LIMIT 10
"""


_q("emb_ann_pq", _emb_ann_pq, _pq_oracle_sql())


# ------------------------------------------- exact substring scrub
# The apply half of doc_dup_spans: remove every non-first duplicated
# 8-token span corpus-wide (Lee et al. 2022 exact substring dedup),
# rebuilding each document.  Linear end to end — no pair emission.
def _doc_dup_span_scrub(spark, sf):
    from stdb_spark.functions.dedup import dup_span_scrub

    return dup_span_scrub(model.load_table(spark, sf, "documents"), width=8)


_q(
    "doc_dup_span_scrub",
    _doc_dup_span_scrub,
    """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
),
st AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM t
),
sp AS (
  SELECT doc_id, i, md5(array_to_string(toks[i:i+7], ' ')) AS g,
         doc_id * 1048576 + i AS pack
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t)
),
fr AS (SELECT g, min(pack) AS fst, count(*) AS c FROM sp GROUP BY g),
ds AS (
  SELECT sp.doc_id, sp.i FROM sp JOIN fr USING (g)
  WHERE c >= 2 AND pack <> fst
),
cov AS (
  SELECT DISTINCT doc_id, pos
  FROM (SELECT doc_id, unnest(range(i, i + 8)) AS pos FROM ds)
),
kept AS (
  SELECT st.doc_id, st.pos, st.tok FROM st
  ANTI JOIN cov ON st.doc_id = cov.doc_id AND st.pos = cov.pos
),
reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_scrubbed,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_tokens FROM st GROUP BY doc_id)
SELECT tot.doc_id,
  coalesce(text_scrubbed, '') AS text_scrubbed,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM tot LEFT JOIN reb USING (doc_id)
""",
)


# --------------------------------------------- quality classifier score
# Model-based quality filtering (the fastText/logreg stage of C4-class
# pipelines) as a transparent linear model over engine-portable
# features — real weights drop in unchanged.  Raw linear score, no
# sigmoid (monotone link; exp() is libm-dependent).
def _doc_quality_classifier(spark, sf):
    from stdb_spark.functions.text import quality_classifier_score

    return quality_classifier_score(model.load_table(spark, sf, "documents"))


_q(
    "doc_quality_classifier",
    _doc_quality_classifier,
    f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
    CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE)
      / greatest(len(toks), 1) AS mwl,
    len(list_filter(toks, x -> list_contains({_SW_LIST}, lower(x))))
      / greatest(len(toks), 1) AS swr,
    CAST(len(toks) AS DOUBLE) / greatest(len(text), 1) AS tpc
  FROM t
),
s AS (
  SELECT doc_id,
    CAST(-0.3 AS DOUBLE) * mwl + CAST(4.0 AS DOUBLE) * swr
      + CAST(8.0 AS DOUBLE) * tpc + CAST(0.0 AS DOUBLE) AS quality_lin
  FROM f
)
SELECT doc_id, quality_lin, quality_lin > CAST(0.0 AS DOUBLE) AS keep FROM s
""",
)


# ------------------------------------------------- inverted text index
# Write-time inverted index (term, doc, tf) sorted by term so lookups
# prune parquet row groups — the on-disk twin of the reference's
# in-memory inverted index (stdb/index/invertedindex.h).  The oracle
# recomputes the same postings straight from the documents table.
_LOOKUP_TERMS = ("the", "and")


def _doc_term_lookup(spark, sf):
    import os

    from stdb_spark.functions.text import inverted_index, term_lookup

    cache = model.derived_cache_path(sf, "inverted_index", "documents")
    if not model.cache_ready(cache):
        idx = inverted_index(model.load_table(spark, sf, "documents"))
        (
            # range partitioning gives each FILE a disjoint term
            # range (file-level skip) on top of the in-file sort
            # (row-group skip); a hash repartition would spread every
            # file across the whole term alphabet.  Task count scales
            # with the range partition count, never pinned.
            idx.repartitionByRange(8, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(cache)
        )
    return term_lookup(spark.read.parquet(cache), list(_LOOKUP_TERMS))


_q(
    "doc_term_lookup",
    _doc_term_lookup,
    f"""
WITH t AS (
  SELECT doc_id,
    unnest(list_transform(
      list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0),
      x -> lower(x))) AS term
  FROM documents
)
SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
FROM t WHERE term IN ('{_LOOKUP_TERMS[0]}', '{_LOOKUP_TERMS[1]}')
GROUP BY term, doc_id
""",
)


# ------------------------------------------------ BM25 + phrase search
# Ranked retrieval and exact phrase matching over the written index —
# the query half of the search story (invertedindex.h analog).
def _doc_lengths(spark, sf):
    from stdb_spark.functions.text import tokens_col

    return model.load_table(spark, sf, "documents").select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("dl")
    )


def _doc_bm25(spark, sf):
    from stdb_spark.functions.text import bm25_topk, inverted_index

    idx = inverted_index(model.load_table(spark, sf, "documents"))
    return bm25_topk(idx, _doc_lengths(spark, sf), ["the", "and"], k=10)


_q(
    "doc_bm25_search",
    _doc_bm25,
    """
WITH t AS (
  SELECT doc_id,
    list_transform(
      list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0),
      x -> lower(x)) AS toks
  FROM documents
),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(dl AS DECIMAL(28,10))) AS DOUBLE) AS sdl
  FROM dl
),
idx AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term
),
h AS (SELECT * FROM idx WHERE term IN ('the', 'and')),
dfq AS (SELECT term, count(*) AS df FROM h GROUP BY term),
sc AS (
  SELECT h.doc_id,
    ln((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
        / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
    * (tf * CAST(2.2 AS DOUBLE))
    / (tf + CAST(1.2 AS DOUBLE)
         * (CAST(0.25 AS DOUBLE)
            + CAST(0.75 AS DOUBLE) * (dl / (sdl / n)))) AS s
  FROM h JOIN dfq USING (term) JOIN dl USING (doc_id), stats
)
SELECT doc_id, CAST(sum(CAST(s AS DECIMAL(38,10))) AS DOUBLE) AS bm25
FROM sc GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT 10
""",
)


def _doc_phrase(spark, sf):
    import os

    from stdb_spark.functions.text import phrase_query, positional_index

    cache = model.derived_cache_path(sf, "positional_index", "documents")
    if not model.cache_ready(cache):
        idx = positional_index(model.load_table(spark, sf, "documents"))
        (
            # range partitioning gives each FILE a disjoint term
            # range (file-level skip) on top of the in-file sort
            # (row-group skip); a hash repartition would spread every
            # file across the whole term alphabet.  Task count scales
            # with the range partition count, never pinned.
            idx.repartitionByRange(8, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(cache)
        )
    return phrase_query(spark.read.parquet(cache), ["of", "the"])


_q(
    "doc_phrase_search",
    _doc_phrase,
    """
WITH t AS (
  SELECT doc_id,
    list_transform(
      list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0),
      x -> lower(x)) AS toks
  FROM documents
),
p AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM t
),
a AS (SELECT doc_id, pos FROM p WHERE term = 'of'),
b AS (SELECT doc_id, pos FROM p WHERE term = 'the')
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
GROUP BY a.doc_id
""",
)


# ------------------------------------------------- hybrid search (RAG)
# Lexical-recall + semantic-rerank: BM25 top-50 candidates joined to
# their embeddings (doc_id == vec_id in the testdata) and reranked by
# cosine against the query vector — the standard hybrid-retrieval
# shape.  The candidate set is 50 rows, so the rerank join broadcasts.
def _doc_hybrid_search(spark, sf):
    from stdb_spark.functions.text import bm25_topk, inverted_index

    docs = model.load_table(spark, sf, "documents")
    idx = inverted_index(docs)
    cands = bm25_topk(idx, _doc_lengths(spark, sf), ["the", "and"], k=50)
    emb = model.load_table(spark, sf, "embeddings")
    q = F.array(*[F.lit(float(x)) for x in _QVEC])
    joined = emb.join(
        F.broadcast(cands), emb.vec_id == cands.doc_id
    ).select(
        "doc_id", "bm25", similarity.cosine_expr(F.col("embedding"), q).alias("cosine")
    )
    return joined.orderBy(
        F.col("cosine").desc(), F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(10)


_BM25_CAND_SQL = """
WITH t AS (
  SELECT doc_id,
    list_transform(
      list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0),
      x -> lower(x)) AS toks
  FROM documents
),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(dl AS DECIMAL(28,10))) AS DOUBLE) AS sdl
  FROM dl
),
idx AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term
),
h AS (SELECT * FROM idx WHERE term IN ('the', 'and')),
dfq AS (SELECT term, count(*) AS df FROM h GROUP BY term),
sc AS (
  SELECT h.doc_id,
    ln((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
        / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
    * (tf * CAST(2.2 AS DOUBLE))
    / (tf + CAST(1.2 AS DOUBLE)
         * (CAST(0.25 AS DOUBLE)
            + CAST(0.75 AS DOUBLE) * (dl / (sdl / n)))) AS s
  FROM h JOIN dfq USING (term) JOIN dl USING (doc_id), stats
),
cands AS (
  SELECT doc_id, CAST(sum(CAST(s AS DECIMAL(38,10))) AS DOUBLE) AS bm25
  FROM sc GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id ASC LIMIT 50
)
"""


def _hybrid_sql() -> str:
    return (
        _BM25_CAND_SQL
        + f"""
SELECT c.doc_id, c.bm25,
  ({_qvec_dot('e.embedding')}) / ({_norm_chain('e.embedding')} * {_QNORM})
    AS cosine
FROM cands c JOIN embeddings e ON e.vec_id = c.doc_id
ORDER BY cosine DESC, bm25 DESC, doc_id ASC LIMIT 10
"""
    )


_q("doc_hybrid_search", _doc_hybrid_search, _hybrid_sql())


# ------------------------------------------------ embedding outliers
# Per-label mislabeled/garbage-embedding screen: distance to own-label
# centroid beyond mean + 3σ.  Same decimal discipline as the
# silhouette; the driver gate carries a full value hash.
def _emb_outliers(spark, sf):
    return similarity.centroid_outliers(
        model.load_table(spark, sf, "embeddings")
    )


_q(
    "emb_centroid_outliers",
    _emb_outliers,
    """
WITH ex AS (
  SELECT vec_id, label AS vlabel,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS x
  FROM embeddings
), cents AS (
  SELECT vlabel AS clabel, pos,
         CAST(CAST(sum(CAST(x::DOUBLE AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
           / count(*) AS c
  FROM ex GROUP BY vlabel, pos
), sq AS (
  SELECT e.vec_id, e.vlabel,
    CAST(CAST(sum(CAST((e.x::DOUBLE - c) * (e.x::DOUBLE - c) AS DECIMAL(38,8)))
         AS VARCHAR) AS DOUBLE) AS sq
  FROM ex e JOIN cents ON e.pos = cents.pos AND e.vlabel = cents.clabel
  GROUP BY e.vec_id, e.vlabel
), m AS (
  SELECT vlabel AS label, count(*) AS n,
    CAST(CAST(sum(CAST(sq AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(CAST(CAST(sq AS DECIMAL(28,8)) * CAST(sq AS DECIMAL(28,8))
         AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM sq GROUP BY vlabel
), f AS (
  SELECT sq.vlabel AS label, count(*) AS n_outliers
  FROM sq JOIN m ON sq.vlabel = m.label
  WHERE sq > sx / n + CAST(3.0 AS DOUBLE)
    * sqrt(greatest((sxx - sx * sx / n) / n, CAST(0.0 AS DOUBLE)))
  GROUP BY sq.vlabel
)
SELECT m.label, CAST(m.n AS BIGINT) AS n, sx / n AS mean_dist2,
  CAST(coalesce(f.n_outliers, 0) AS BIGINT) AS n_outliers
FROM m LEFT JOIN f ON m.label = f.label
""",
)


# ------------------------------------------- lang-ID confusion matrix
# Predicted vs labeled language counts — the evaluation view of the
# n-gram classifier (the testdata carries a ground-truth lang column).
def _doc_lang_confusion(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    pred = text.lang_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


_q(
    "doc_lang_confusion",
    _doc_lang_confusion,
    f"""
WITH p AS ({_langid_sql()})
SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN p USING (doc_id)
GROUP BY d.lang, p.lang_pred
""",
)


# ------------------------------------------- tokenizer fertility by lang
# Sub-word tokens per whitespace word, aggregated per language — the
# standard tokenizer-fairness metric (high fertility = the tokenizer
# fragments that language).  Integer sums, one exact division.
_q(
    "doc_tokenizer_fertility",
    lambda spark, sf: model.load_table(spark, sf, "documents")
    .groupBy("lang")
    .agg(
        F.sum(text.token_count_col("text").cast("long")).cast("long").alias("ws_tokens"),
        F.sum(text.bpe_token_count_col("text").cast("long")).cast("long").alias("bpe_tokens"),
    )
    .select(
        "lang",
        "ws_tokens",
        "bpe_tokens",
        (
            F.col("bpe_tokens").cast("double")
            / F.greatest(F.col("ws_tokens"), F.lit(1))
        ).alias("fertility"),
    ),
    f"""
SELECT lang,
  CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0))) AS BIGINT)
    AS ws_tokens,
  CAST(sum(len(regexp_extract_all(text, '{text.BPE_PATTERN}'))) AS BIGINT)
    AS bpe_tokens,
  CAST(sum(len(regexp_extract_all(text, '{text.BPE_PATTERN}'))) AS DOUBLE)
    / greatest(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0))), 1)
    AS fertility
FROM documents GROUP BY lang
""",
)


# ------------------------------------------------- embedding dim stats
# Per-dimension mean/σ across the corpus — the embedding-health probe
# (collapsed/dead dimensions show near-zero variance).  Decimal moment
# sums per (pos); the same posexplode shape as the centroid table.
def _emb_dim_stats(spark, sf):
    emb = model.load_table(spark, sf, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "x"))
    d = "DECIMAL(28,10)"
    d2 = "DECIMAL(38,8)"
    m = ex.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.expr(f"CAST(sum(CAST(CAST(x AS DOUBLE) AS {d})) AS DOUBLE)").alias("sx"),
        # multiply in DOUBLE (IEEE-identical in any engine), cast the
        # product to decimal ONCE — decimal x decimal would trigger
        # engine-specific precision/scale reduction on tiny components
        F.expr(
            f"CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)"
            f" AS {d2})) AS DOUBLE)"
        ).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    return m.select(
        "pos",
        mean.alias("mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sd"),
    )


_q(
    "emb_dim_stats",
    _emb_dim_stats,
    """
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS x
  FROM embeddings
),
m AS (
  SELECT pos, count(*) AS n,
    CAST(CAST(sum(CAST(x::DOUBLE AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(CAST(x::DOUBLE * x::DOUBLE
         AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM ex GROUP BY pos
)
SELECT pos, sx / n AS mean,
  sqrt(greatest((sxx - sx * sx / n) / n, CAST(0.0 AS DOUBLE))) AS sd
FROM m
""",
)


# ---------------------------------------------- dup ratio by source
# Curation diagnostic: exact-duplicate share per corpus source (which
# crawl/feed contributes the boilerplate).  One digest aggregate.
_q(
    "doc_dup_ratio_by_source",
    lambda spark, sf: model.load_table(spark, sf, "documents")
    .groupBy("source")
    .agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct(F.md5(dedup.normalized_text())).cast("long").alias(
            "n_unique"
        ),
    )
    .select(
        "source",
        "n_docs",
        "n_unique",
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs")
        ).alias("dup_ratio"),
    ),
    f"""
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT md5({_NORM})) AS BIGINT) AS n_unique,
  CAST(count(*) - count(DISTINCT md5({_NORM})) AS DOUBLE) / count(*)
    AS dup_ratio
FROM documents GROUP BY source
""",
)


# ---------------------------------------------- ANN recall evaluation
# Recall@10 of the LSH candidate path against the exact brute force for
# the fixed query — the eval harness an ANN deployment watches.  Both
# sides are deterministic, so the single-row result carries a full
# oracle composed from the two proven query texts.
def _recall_eval(spark, sf, cand_df):
    """Shared recall@10 assembly: overlap of a candidate top-10 with the
    float brute force (single-row eval summary; the count collect is the
    point, not a hot path)."""
    brute = similarity.brute_force_top_k(
        model.load_table(spark, sf, "embeddings"), _QVEC, k=10
    ).select("vec_id")
    hit = brute.join(cand_df.select("vec_id"), "vec_id").count()
    return spark.createDataFrame([(int(hit),)], "n_hits int").select(
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits") / F.lit(10.0)).alias("recall_at_10"),
    )


def _recall_sql(cand_sql: str) -> str:
    return f"""
WITH brute AS (
  SELECT vec_id,
    ({_qvec_dot('embedding')}) / ({_norm_chain('embedding')} * {_QNORM}) AS cosine
  FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10
),
cand AS ({cand_sql})
SELECT CAST(count(*) AS BIGINT) AS n_hits,
  count(*) / CAST(10.0 AS DOUBLE) AS recall_at_10
FROM brute JOIN cand USING (vec_id)
"""


def _emb_lsh_recall(spark, sf):
    return _recall_eval(spark, sf, _emb_ann_lsh(spark, sf))


_q("emb_lsh_recall_eval", _emb_lsh_recall, _recall_sql(_emb_ann_lsh_sql()))


# ------------------------------------------------- PII audit by source
# Which feed carries the PII: per-source email/long-number hit counts
# and the share of affected documents — the audit view over the same
# regexes doc_pii_scrub redacts with.
_q(
    "doc_pii_audit_by_source",
    lambda spark, sf: model.load_table(spark, sf, "documents")
    .groupBy("source")
    .agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)")))
        .cast("long")
        .alias("n_emails"),
        F.sum(F.size(F.expr(f"regexp_extract_all(text, '{_LONGNUM_RE}', 0)")))
        .cast("long")
        .alias("n_longnums"),
        F.sum(
            F.when(
                (F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)")) > 0)
                | (F.size(F.expr(f"regexp_extract_all(text, '{_LONGNUM_RE}', 0)")) > 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_affected_docs"),
    ),
    f"""
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len(regexp_extract_all(text, '{_EMAIL_RE}'))) AS BIGINT) AS n_emails,
  CAST(sum(len(regexp_extract_all(text, '{_LONGNUM_RE}'))) AS BIGINT) AS n_longnums,
  CAST(sum(CASE WHEN len(regexp_extract_all(text, '{_EMAIL_RE}')) > 0
              OR len(regexp_extract_all(text, '{_LONGNUM_RE}')) > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_affected_docs
FROM documents GROUP BY source
""",
)


# ----------------------------------------- length percentiles by source
# Exact doc-length quartiles per source (the proven percentile ==
# quantile_cont pattern) — the curation view of length distribution.
_q(
    "doc_length_percentiles_by_source",
    lambda spark, sf: model.load_table(spark, sf, "documents")
    .groupBy("source")
    .agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.5)").alias("p50"),
        F.expr("percentile(n_chars, 0.75)").alias("p75"),
    ),
    """
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  quantile_cont(n_chars, 0.25) AS p25,
  quantile_cont(n_chars, 0.5) AS p50,
  quantile_cont(n_chars, 0.75) AS p75
FROM documents GROUP BY source
""",
)


# ------------------------------------------------ curation funnel report
# The one-row pipeline report every curation run prints: how many docs
# survive each progressive stage — predicted-English -> positive
# quality score -> exact-dedup keeper (first doc_id per normalized
# digest).  Stages reuse the oracle-proven primitives.
def _doc_curation_funnel(spark, sf):
    from pyspark.sql import Window as W

    from stdb_spark.functions.text import quality_classifier_score

    docs = model.load_table(spark, sf, "documents")
    pred = text.lang_id(docs).select("doc_id", "lang_pred")
    qual = quality_classifier_score(docs).select("doc_id", "keep")
    keeper = (
        docs.select(
            "doc_id",
            (
                F.col("doc_id")
                == F.min("doc_id").over(
                    W.partitionBy(F.md5(dedup.normalized_text()))
                )
            ).alias("is_keeper"),
        )
    )
    # pred/qual are narrow map-side projections (honest estimates);
    # keeper carries a corpus-wide window whose static estimate is
    # fiction — shuffle-pin it so Catalyst can't broadcast a per-doc
    # table (tools/plans.py broadcast)
    j = docs.select("doc_id").join(pred, "doc_id").join(qual, "doc_id").join(
        keeper.hint("shuffle_hash"), "doc_id"
    )
    en = F.col("lang_pred") == "en"
    return j.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(en, 1).otherwise(0)).cast("long").alias("n_lang_en"),
        F.sum(F.when(en & F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_quality"),
        F.sum(F.when(en & F.col("keep") & F.col("is_keeper"), 1).otherwise(0))
        .cast("long")
        .alias("n_survivors"),
    )


_q(
    "doc_curation_funnel",
    _doc_curation_funnel,
    f"""
WITH p AS ({_langid_sql()}),
t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
    CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE)
      / greatest(len(toks), 1) AS mwl,
    len(list_filter(toks, x -> list_contains({_SW_LIST}, lower(x))))
      / greatest(len(toks), 1) AS swr,
    CAST(len(toks) AS DOUBLE) / greatest(len(text), 1) AS tpc
  FROM t
),
q AS (
  SELECT doc_id,
    (CAST(-0.3 AS DOUBLE) * mwl + CAST(4.0 AS DOUBLE) * swr
      + CAST(8.0 AS DOUBLE) * tpc + CAST(0.0 AS DOUBLE))
      > CAST(0.0 AS DOUBLE) AS keep
  FROM f
),
k AS (
  SELECT doc_id,
    doc_id = min(doc_id) OVER (PARTITION BY md5({_NORM})) AS is_keeper
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_total,
  CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_lang_en,
  CAST(sum(CASE WHEN lang_pred = 'en' AND keep THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quality,
  CAST(sum(CASE WHEN lang_pred = 'en' AND keep AND is_keeper
            THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
FROM p JOIN q USING (doc_id) JOIN k USING (doc_id)
""",
)


# --------------------------------------------------- embedding norms
# Distribution of vector L2 norms (quantization/normalization health):
# exact-decimal squared-sums per vector, exact percentiles across the
# corpus.
_q(
    "emb_norm_stats",
    lambda spark, sf: model.load_table(spark, sf, "embeddings")
    .select(similarity.norm_expr(F.col("embedding")).alias("nrm"))
    .agg(
        F.count("*").cast("long").alias("n"),
        F.expr("percentile(nrm, 0.05)").alias("p05"),
        F.expr("percentile(nrm, 0.5)").alias("p50"),
        F.expr("percentile(nrm, 0.95)").alias("p95"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    ),
    f"""
WITH n AS (
  SELECT {_norm_chain('embedding')} AS nrm FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n,
  quantile_cont(nrm, 0.05) AS p05,
  quantile_cont(nrm, 0.5) AS p50,
  quantile_cont(nrm, 0.95) AS p95,
  min(nrm) AS min_norm,
  max(nrm) AS max_norm
FROM n
""",
)


# --------------------------------------------- character-bigram entropy
# Shannon entropy of the character-bigram distribution per document —
# the gibberish/keyboard-mash detector (low entropy = repetitive mash,
# high = natural text; ln is the single libm call, driver-gate
# tolerant at 1e-6).
def _doc_char_entropy(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    # Map-side Arrow kernel (guide §4.2): the former plan exploded one
    # 2-char string per character position (~n·len(text) rows) through
    # a (doc_id, gram) exchange; here each task counts bigrams with
    # numpy (code-point pairs packed into int64 keys, np.unique) and
    # emits ONE row per doc — zero exchanges, nothing but the pruned
    # (doc_id, text) columns crosses into Python.
    #
    # Bit-parity argument (the oracle quantizes each c·ln(c) term to
    # DECIMAL(28,10) then sums exactly): the kernel groups each doc's
    # distinct-gram counts by VALUE, quantizes c·ln(c) once per
    # distinct c with Python Decimal (Decimal(float) is the exact
    # binary expansion, quantize(1e-10, HALF_UP) == Spark/DuckDB's
    # double->DECIMAL(28,10) cast), and sums m_c · q_c in exact integer
    # arithmetic — the identical decimal sum, at ~1000 Decimal calls
    # per task instead of one per (doc, gram).  ln is libm log
    # (math.log), the same library the DuckDB oracle's ln calls.
    id_type = dict(docs.dtypes)["doc_id"]
    return docs.select("doc_id", "text").mapInPandas(
        _char_entropy_kernel(),
        f"doc_id {id_type}, bigram_entropy double, n_distinct_bigrams long",
    )


def _char_entropy_kernel():
    def fn(batches):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        grid = Decimal("1e-10")
        qmemo: dict = {}  # distinct count value -> quantized int(1e-10)

        def qterm(c: int) -> int:
            q = qmemo.get(c)
            if q is None:
                q = int(
                    Decimal(float(c) * math.log(float(c)))
                    .quantize(grid, rounding=ROUND_HALF_UP)
                    .scaleb(10)
                )
                qmemo[c] = q
            return q

        for pdf in batches:
            ids, ents, nds = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) < 2:
                    continue  # the explode form drops these docs too
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                keys = codes[:-1] * np.int64(0x110000) + codes[1:]
                _, counts = np.unique(keys, return_counts=True)
                c_vals, m = np.unique(counts, return_counts=True)
                total = int(counts.sum())
                dec_sum = sum(
                    int(mc) * qterm(int(cv))
                    for cv, mc in zip(c_vals, m)
                )
                dec_as_double = float(Decimal(dec_sum).scaleb(-10))
                ids.append(doc_id)
                ents.append(
                    math.log(float(total)) - dec_as_double / float(total)
                )
                nds.append(len(counts))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                    "bigram_entropy": pd.Series(ents, dtype="float64"),
                    "n_distinct_bigrams": pd.Series(nds, dtype="int64"),
                }
            )

    return fn


_q(
    "doc_char_entropy",
    _doc_char_entropy,
    """
WITH g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(text)),
                 i -> substr(text, CAST(i AS BIGINT), 2))) AS g
  FROM documents WHERE len(text) >= 2
),
c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
SELECT doc_id,
  ln(CAST(sum(c) AS DOUBLE))
    - CAST(CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
      / CAST(sum(c) AS DOUBLE) AS bigram_entropy,
  CAST(count(*) AS BIGINT) AS n_distinct_bigrams
FROM c GROUP BY doc_id
""",
)


# ------------------------------------------- label centroid distances
# Pairwise distances between label centroids — the label-geometry view
# (labels whose centroids nearly coincide are candidates for merging /
# relabeling).  k² rows over the tiny centroid table; decimal element
# sums make the centroids engine-exact, the distance is a fixed-order
# double fold over dims.
def _emb_label_distances(spark, sf):
    cents = similarity.label_centroids(
        model.load_table(spark, sf, "embeddings")
    )
    a = cents.select(
        F.col("label").alias("la"), "pos", F.col("centroid").alias("ca")
    )
    b = cents.select(
        F.col("label").alias("lb"), "pos", F.col("centroid").alias("cb")
    )
    return (
        a.join(b, "pos")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.expr(
                    "CAST(sum(CAST((ca - cb) * (ca - cb) AS DECIMAL(38,8)))"
                    " AS DOUBLE)"
                )
            ).alias("dist")
        )
    )


_q(
    "emb_label_distances",
    _emb_label_distances,
    """
WITH ex AS (
  SELECT label AS vlabel,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS x
  FROM embeddings
), cents AS (
  SELECT vlabel AS label, pos,
         CAST(CAST(sum(CAST(x::DOUBLE AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
           / count(*) AS c
  FROM ex GROUP BY vlabel, pos
)
SELECT a.label AS la, b.label AS lb,
  sqrt(CAST(CAST(sum(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(38,8)))
       AS VARCHAR) AS DOUBLE)) AS dist
FROM cents a JOIN cents b ON a.pos = b.pos AND a.label < b.label
GROUP BY a.label, b.label
""",
)


# ---------------------------------------------- int8 ANN recall eval
# Recall@10 of the int8-quantized scan against the float brute force —
# the quantization-quality number a deployment tracks next to the 4×
# byte savings.  Both sides deterministic; the oracle composes the two
# proven texts.
def _emb_int8_recall(spark, sf):
    return _recall_eval(
        spark,
        sf,
        similarity.ann_int8_top_k(
            model.load_table(spark, sf, "embeddings"), _QVEC, k=10
        ),
    )


_q("emb_int8_recall_eval", _emb_int8_recall, _recall_sql(_int8_oracle()))


# --------------------------------------------- source × lang quality
# Mean linear quality score per (source, lang) cell — where the good
# and bad text comes from.  Reuses the classifier's exact features;
# decimal-quantized means over the ~unit-magnitude scores.
def _doc_source_quality(spark, sf):
    from stdb_spark.functions.text import quality_classifier_score

    docs = model.load_table(spark, sf, "documents")
    q = quality_classifier_score(docs).select("doc_id", "quality_lin")
    return (
        docs.select("doc_id", "source", "lang")
        .join(q, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST(sum(CAST(quality_lin AS DECIMAL(28,10))) AS DOUBLE)"
                " / count(*)"
            ).alias("mean_quality"),
        )
    )


_q(
    "doc_source_quality_matrix",
    _doc_source_quality,
    f"""
WITH t AS (
  SELECT doc_id, source, lang, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
),
f AS (
  SELECT doc_id, source, lang,
    CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE)
      / greatest(len(toks), 1) AS mwl,
    len(list_filter(toks, x -> list_contains({_SW_LIST}, lower(x))))
      / greatest(len(toks), 1) AS swr,
    CAST(len(toks) AS DOUBLE) / greatest(len(text), 1) AS tpc
  FROM t
),
s AS (
  SELECT doc_id, source, lang,
    CAST(-0.3 AS DOUBLE) * mwl + CAST(4.0 AS DOUBLE) * swr
      + CAST(8.0 AS DOUBLE) * tpc + CAST(0.0 AS DOUBLE) AS quality_lin
  FROM f
)
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(CAST(sum(CAST(quality_lin AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
    / count(*) AS mean_quality
FROM s GROUP BY source, lang
""",
)


# ------------------------------------------------ PCA spectrum probe
# (registered below, after _eig_oracle_sql is defined: the gate form
# verdict-checks the numpy spectrum against the portable integer
# power-iteration dominant eigenvalue, whose oracle SQL that helper
# builds — VERDICT r10 task #2a.)


# -------------------------------------------- dedup cluster size report
# Cluster-size histogram of the near-dup graph (how much mass sits in
# big boilerplate clusters vs pairs) — the dedup run report.
def _dedup_cluster_sizes(spark, sf):
    labels = _dedup_clusters(spark, sf)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )


_q(
    "doc_dedup_cluster_sizes",
    _dedup_cluster_sizes,
    _MH_CTES.replace("WITH toks", "WITH RECURSIVE toks")
    + """
, edges AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM cands
  UNION SELECT b, a FROM cands
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY cluster_id)
SELECT CAST(sz AS BIGINT) AS cluster_size,
  CAST(count(*) AS BIGINT) AS n_clusters,
  CAST(count(*) * sz AS BIGINT) AS n_docs
FROM sizes GROUP BY sz
""",
)


# ------------------------------------------------- boilerplate lines
# Most-duplicated non-blank lines corpus-wide (the boilerplate targets
# paragraph dedup removes) — top-20 by document frequency with a
# total-order tie-break.
def _doc_boilerplate_lines(spark, sf):
    from stdb_spark.operators.ranks import top_k_ranked

    docs = model.load_table(spark, sf, "documents")
    lines = F.filter(
        F.transform(F.split("text", "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    d = docs.select("doc_id", F.explode(lines).alias("line")).distinct()
    counts = d.groupBy("line").agg(F.count("*").cast("long").alias("df"))
    # TakeOrdered-then-rank: the unpartitioned window only ever sees
    # the 20 survivors, not the distinct-line table (VERDICT r3 #3).
    return top_k_ranked(
        counts, [F.col("df").desc(), F.col("line").asc()], 20, out_col="rk"
    ).select(F.md5("line").alias("line_digest"), "df", "rk")


_q(
    "doc_boilerplate_lines",
    _doc_boilerplate_lines,
    """
WITH l AS (
  SELECT DISTINCT doc_id, line FROM (
    SELECT doc_id,
      unnest(list_filter(list_transform(string_split(text, chr(10)),
             x -> trim(x)), x -> len(x) > 0)) AS line
    FROM documents)
),
c AS (SELECT line, CAST(count(*) AS BIGINT) AS df FROM l GROUP BY line),
r AS (
  SELECT line, df,
    CAST(row_number() OVER (ORDER BY df DESC, line ASC) AS INT) AS rk
  FROM c
)
SELECT md5(line) AS line_digest, df, rk FROM r WHERE rk <= 20
""",
)


# ------------------------------------------------ duplicate vectors
# Exact-duplicate embedding detection by grouping on the raw vector
# (byte-equality — the degenerate-ANN hygiene check before any
# similarity work).
_q(
    "emb_duplicate_vectors",
    lambda spark, sf: model.load_table(spark, sf, "embeddings")
    .groupBy("embedding")
    .agg(F.count("*").alias("c"))
    .agg(
        F.count("*").cast("long").alias("n_distinct_vectors"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_classes"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_dup_vectors"),
    ),
    """
WITH g AS (SELECT embedding, count(*) AS c FROM embeddings GROUP BY embedding)
SELECT CAST(count(*) AS BIGINT) AS n_distinct_vectors,
  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_classes,
  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_vectors
FROM g
""",
)


# ------------------------------------------------- readability score
# Flesch-style reading ease per doc from engine-portable counts:
# words (whitespace tokens), sentences (.!? runs, min 1), syllables ≈
# vowel groups per word (the standard heuristic).  Pure regex counts
# and fixed-order double arithmetic — no libm.
_q(
    "doc_readability",
    lambda spark, sf: model.load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(text.tokens_col("text")).cast("long").alias("n_words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
        )
        .cast("long")
        .alias("n_sentences"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
        )
        .cast("long")
        .alias("n_syllables"),
    )
    .filter(F.col("n_words") > 0)
    .select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6)
            * (F.col("n_syllables").cast("double") / F.col("n_words"))
        ).alias("flesch"),
    ),
    """
WITH c AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0))
         AS BIGINT) AS n_words,
    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
      AS n_sentences,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  CAST(206.835 AS DOUBLE)
    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sentences)
    - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words)
    AS flesch
FROM c WHERE n_words > 0
""",
)


# -------------------------------------------- near-dup threshold curve
# Candidate-pair counts per estimated-Jaccard band — the tuning curve
# for picking a dedup threshold (how many pairs each cutoff keeps).
def _doc_threshold_curve(spark, sf):
    est = _minhash_est(spark, sf)
    band = (
        F.when(F.col("est_jaccard") >= 0.9, "ge_090")
        .when(F.col("est_jaccard") >= 0.7, "070_090")
        .when(F.col("est_jaccard") >= 0.5, "050_070")
        .when(F.col("est_jaccard") >= 0.3, "030_050")
        .otherwise("lt_030")
    )
    return est.groupBy(band.alias("jaccard_band")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )


_q(
    "doc_neardup_threshold_curve",
    _doc_threshold_curve,
    _MH_CTES
    + f"""
, est AS (
  SELECT c.a, c.b,
         CAST(count(*) FILTER (ha.h = hb.h) AS DOUBLE) / {_MH_K} AS ej
  FROM cands c
  JOIN hs ha ON ha.doc_id = c.a
  JOIN hs hb ON hb.doc_id = c.b AND hb.i = ha.i
  GROUP BY c.a, c.b
)
SELECT CASE WHEN ej >= CAST(0.9 AS DOUBLE) THEN 'ge_090'
            WHEN ej >= CAST(0.7 AS DOUBLE) THEN '070_090'
            WHEN ej >= CAST(0.5 AS DOUBLE) THEN '050_070'
            WHEN ej >= CAST(0.3 AS DOUBLE) THEN '030_050'
            ELSE 'lt_030' END AS jaccard_band,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM est GROUP BY 1
""",
)


# ------------------------------------------- sampled cosine histogram
# Embedding-space geometry: cosine distribution over a deterministic
# 1-per-vector pair sample (partner = (id*7+3) mod n — reproducible,
# no RNG), bucketed into bands.  The anisotropy companion to
# emb_pca_spectrum with a full oracle.
def _emb_cosine_hist(spark, sf):
    emb = model.load_table(spark, sf, "embeddings")
    # n rides along as a broadcast scalar column (the _ts_freq idiom)
    # instead of an eager .count() — building this DataFrame costs no
    # driver job, and the bench's timed pass measures only the plan
    a = (
        emb.crossJoin(F.broadcast(emb.agg(F.count("*").alias("_n"))))
        .select(
            F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"), "_n"
        )
    )
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.join(
        b, ((F.col("ia") * 7 + 3) % F.col("_n")) == F.col("ib")
    ).filter(F.col("ia") != F.col("ib"))
    cos = similarity.cosine_expr(F.col("ea"), F.col("eb"))
    band = (
        F.when(cos >= 0.5, "ge_05")
        .when(cos >= 0.2, "02_05")
        .when(cos >= -0.2, "-02_02")
        .when(cos >= -0.5, "-05_-02")
        .otherwise("lt_-05")
    )
    return pairs.select(band.alias("cos_band")).groupBy("cos_band").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


_q(
    "emb_cosine_histogram",
    _emb_cosine_hist,
    f"""
WITH a AS (SELECT vec_id AS ia, embedding AS ea FROM embeddings),
b AS (SELECT vec_id AS ib, embedding AS eb FROM embeddings),
p AS (
  SELECT ia, ib,
    ({_dot_chain('ea', 'eb')}) / ({_norm_chain('ea')} * {_norm_chain('eb')})
      AS cosine
  FROM a JOIN b
    ON (ia * 7 + 3) % (SELECT count(*) FROM embeddings) = ib
  WHERE ia <> ib
)
SELECT CASE WHEN cosine >= CAST(0.5 AS DOUBLE) THEN 'ge_05'
            WHEN cosine >= CAST(0.2 AS DOUBLE) THEN '02_05'
            WHEN cosine >= CAST(-0.2 AS DOUBLE) THEN '-02_02'
            WHEN cosine >= CAST(-0.5 AS DOUBLE) THEN '-05_-02'
            ELSE 'lt_-05' END AS cos_band,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1
""",
)


# ------------------------------------------- quality vs length corr
# Does the quality score just proxy length?  Pearson corr between
# n_chars and the linear quality score: integer moments where exact
# (n_chars), decimal-quantized where computed (score ~unit magnitude).
def _doc_quality_length_corr(spark, sf):
    from stdb_spark.functions.text import quality_classifier_score

    docs = model.load_table(spark, sf, "documents")
    q = quality_classifier_score(docs).select("doc_id", "quality_lin")
    d = docs.select("doc_id", F.col("n_chars").cast("long").alias("x")).join(
        q.select("doc_id", F.col("quality_lin").alias("y")), "doc_id"
    )
    m = d.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.expr("CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE)").alias("sy"),
        F.expr(
            "CAST(sum(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE)"
        ).alias("syy"),
        F.expr(
            "CAST(sum(CAST(x * y AS DECIMAL(28,8))) AS DOUBLE)"
        ).alias("sxy"),
    )
    corr = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            )
            * F.sqrt(
                F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
            )
        )
    )
    return m.select(F.col("n").cast("long").alias("n"), corr.alias("corr"))


_q(
    "doc_quality_length_corr",
    _doc_quality_length_corr,
    f"""
WITH t AS (
  SELECT doc_id, n_chars, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents
),
f AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
    CAST(-0.3 AS DOUBLE)
      * (CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS DOUBLE)
         / greatest(len(toks), 1))
    + CAST(4.0 AS DOUBLE)
      * (len(list_filter(toks, x -> list_contains({_SW_LIST}, lower(x))))
         / greatest(len(toks), 1))
    + CAST(8.0 AS DOUBLE)
      * (CAST(len(toks) AS DOUBLE) / greatest(len(text), 1))
    + CAST(0.0 AS DOUBLE) AS y
  FROM t
),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
    CAST(CAST(sum(CAST(y AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(sum(CAST(y * y AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS syy,
    CAST(CAST(sum(CAST(x * y AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM f
)
SELECT CAST(n AS BIGINT) AS n,
  (n * sxy - sx * sy)
    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       * sqrt(n * syy - sy * sy)) AS corr
FROM m
""",
)


# --------------------------------------- intra vs inter label cosine
# Mean cosine within-label vs across-label over the deterministic
# pair sample — the separability margin of the labeling in embedding
# space (companion to silhouette, with a full oracle).
def _emb_label_margin(spark, sf):
    emb = model.load_table(spark, sf, "embeddings")
    a = (
        emb.crossJoin(F.broadcast(emb.agg(F.count("*").alias("_n"))))
        .select(
            F.col("vec_id").alias("ia"),
            F.col("embedding").alias("ea"),
            F.col("label").alias("la"),
            "_n",
        )
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("lb"),
    )
    pairs = a.join(
        b, ((F.col("ia") * 7 + 3) % F.col("_n")) == F.col("ib")
    ).filter(F.col("ia") != F.col("ib"))
    cos = similarity.cosine_expr(F.col("ea"), F.col("eb"))
    grp = F.when(F.col("la") == F.col("lb"), "intra").otherwise("inter")
    return (
        pairs.select(grp.alias("pair_kind"), cos.alias("_c"))
        .groupBy("pair_kind")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST(sum(CAST(_c AS DECIMAL(28,10))) AS DOUBLE) / count(*)"
            ).alias("mean_cosine"),
        )
    )


_q(
    "emb_label_margin",
    _emb_label_margin,
    f"""
WITH a AS (SELECT vec_id AS ia, embedding AS ea, label AS la FROM embeddings),
b AS (SELECT vec_id AS ib, embedding AS eb, label AS lb FROM embeddings),
p AS (
  SELECT CASE WHEN la = lb THEN 'intra' ELSE 'inter' END AS pair_kind,
    ({_dot_chain('ea', 'eb')}) / ({_norm_chain('ea')} * {_norm_chain('eb')})
      AS c
  FROM a JOIN b
    ON (ia * 7 + 3) % (SELECT count(*) FROM embeddings) = ib
  WHERE ia <> ib
)
SELECT pair_kind, CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(CAST(sum(CAST(c AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / count(*)
    AS mean_cosine
FROM p GROUP BY pair_kind
""",
)


# ----------------------------------------------- norms by label
# L2-norm quartiles per label — the per-class variant of
# emb_norm_stats (a label whose norms drift signals a bad batch).
_q(
    "emb_norm_by_label",
    lambda spark, sf: model.load_table(spark, sf, "embeddings")
    .select(
        "label", similarity.norm_expr(F.col("embedding")).alias("nrm")
    )
    .groupBy("label")
    .agg(
        F.count("*").cast("long").alias("n"),
        F.expr("percentile(nrm, 0.5)").alias("p50"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    ),
    f"""
WITH n AS (
  SELECT label, {_norm_chain('embedding')} AS nrm FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
  quantile_cont(nrm, 0.5) AS p50,
  min(nrm) AS min_norm, max(nrm) AS max_norm
FROM n GROUP BY label
""",
)


# ----------------------------------------------- dedup bytes saved
# Storage impact of exact dedup: characters removed by dropping all
# non-keeper duplicates (keeper = min doc_id per normalized digest).
def _doc_dedup_savings(spark, sf):
    from pyspark.sql import Window as W

    docs = model.load_table(spark, sf, "documents")
    keeper = F.col("doc_id") == F.min("doc_id").over(
        W.partitionBy(F.md5(dedup.normalized_text()))
    )
    d = docs.select("doc_id", "n_chars", keeper.alias("k"))
    return d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(~F.col("k"), 1).otherwise(0)).cast("long").alias(
            "n_removed"
        ),
        F.sum(F.when(~F.col("k"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_saved"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    ).select(
        "n_docs",
        "n_removed",
        "chars_saved",
        (F.col("chars_saved").cast("double") / F.col("chars_total")).alias(
            "savings_share"
        ),
    )


_q(
    "doc_dedup_savings",
    _doc_dedup_savings,
    f"""
WITH k AS (
  SELECT doc_id, n_chars,
    doc_id = min(doc_id) OVER (PARTITION BY md5({_NORM})) AS keep
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(sum(CASE WHEN NOT keep THEN n_chars ELSE 0 END) AS BIGINT)
    AS chars_saved,
  CAST(sum(CASE WHEN NOT keep THEN n_chars ELSE 0 END) AS DOUBLE)
    / sum(n_chars) AS savings_share
FROM k
""",
)


# ------------------------------------------------ line stats by source
# Mean non-blank line count per document per source (structure profile).
_q(
    "doc_line_stats_by_source",
    lambda spark, sf: model.load_table(spark, sf, "documents")
    .select(
        "source",
        F.size(
            F.filter(
                F.transform(F.split("text", "\n"), lambda l: F.trim(l)),
                lambda l: F.length(l) > 0,
            )
        ).cast("long").alias("n_lines"),
    )
    .groupBy("source")
    .agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_lines").cast("long").alias("n_lines"),
    )
    .select(
        "source",
        "n_docs",
        "n_lines",
        (F.col("n_lines").cast("double") / F.col("n_docs")).alias(
            "mean_lines_per_doc"
        ),
    ),
    """
WITH l AS (
  SELECT source,
    CAST(len(list_filter(list_transform(string_split(text, chr(10)),
         x -> trim(x)), x -> len(x) > 0)) AS BIGINT) AS n_lines
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_lines) AS BIGINT) AS n_lines,
  CAST(sum(n_lines) AS DOUBLE) / count(*) AS mean_lines_per_doc
FROM l GROUP BY source
""",
)


# ------------------------------------------- token budget planning
# Mixture planning under a fixed training-token budget (the step
# BEFORE source_mixture executes a mixture): per source, available
# tokens vs the share-implied target, the resulting document sampling
# rate (capped at 1 — a source cannot yield more than it has), and the
# expected token yield.  Pure aggregates + a broadcast share table;
# float math is single-op-per-step (mult, div, least, mult), identical
# across engines.
_BUDGET_TOKENS = 500_000.0
_BUDGET_SHARES = {
    "src0": 0.30,
    "src1": 0.10,
    "src2": 0.20,
    "src3": 0.15,
    "src4": 0.15,
    "src5": 0.10,
}


def _token_budget_plan(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(text.tokens_col("text"))).cast("long").alias("avail_tokens"),
    )
    shares = spark.createDataFrame(
        sorted(_BUDGET_SHARES.items()), "source string, share double"
    )
    target = F.col("share") * F.lit(_BUDGET_TOKENS)
    rate = F.least(F.lit(1.0), target / F.col("avail_tokens"))
    return (
        per.join(F.broadcast(shares), "source")
        .select(
            "source",
            "n_docs",
            "avail_tokens",
            target.alias("target_tokens"),
            rate.alias("sample_rate"),
            (rate * F.col("avail_tokens")).alias("expected_tokens"),
        )
    )


_BUDGET_VALUES = ", ".join(
    f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in sorted(_BUDGET_SHARES.items())
)

_q(
    "doc_token_budget_plan",
    _token_budget_plan,
    f"""
WITH w(source, share) AS (VALUES {_BUDGET_VALUES}),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                             x -> len(x) > 0))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
)
SELECT per.source, n_docs, avail_tokens,
  share * {_BUDGET_TOKENS!r} AS target_tokens,
  least(1.0, share * {_BUDGET_TOKENS!r} / avail_tokens) AS sample_rate,
  least(1.0, share * {_BUDGET_TOKENS!r} / avail_tokens) * avail_tokens
    AS expected_tokens
FROM per JOIN w ON per.source = w.source
""",
)


# ------------------------------------------- curriculum phase ordering
# Curriculum-style training order: documents rank into quality
# quartiles (phase 1 = cleanest quarter first) and the plan reports
# each phase's size and token mass.  ntile runs through the TWO-PHASE
# global rank (operators/ranks.py — per-bucket rank + histogram
# offsets, bit-identical to the window form, no single-partition sort),
# with the bucket key a monotone image of the DESC quality order.
# Tie-break doc_id makes the quartile assignment deterministic.
def _curriculum_phases(spark, sf):
    from stdb_spark.operators.ranks import two_phase_ntile

    scored = text.quality_score(model.load_table(spark, sf, "documents")).select(
        "doc_id",
        "quality_score",
        F.size(text.tokens_col("text")).cast("long").alias("n_tokens"),
    )
    phased = two_phase_ntile(
        scored,
        4,
        [F.col("quality_score").desc(), F.col("doc_id").asc()],
        F.floor(-F.col("quality_score") * 100),
        out_col="phase",
        # a NULL quality_score (e.g. NULL text) ranks where the DESC
        # window form would put it: NULLS LAST — not silently dropped
        nulls="last",
    )
    return phased.groupBy("phase").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("quality_score").alias("q_min"),
        F.max("quality_score").alias("q_max"),
    )


_q(
    "doc_curriculum_phases",
    _curriculum_phases,
    f"""
WITH scored AS ({{QS}}),
tok AS (
  SELECT d.doc_id, s.quality_score,
    CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
                         x -> len(x) > 0)) AS BIGINT) AS n_tokens
  FROM documents d JOIN scored s ON d.doc_id = s.doc_id
),
phased AS (
  SELECT *, ntile(4) OVER (ORDER BY quality_score DESC, doc_id ASC) AS phase
  FROM tok
)
SELECT CAST(phase AS INT) AS phase,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
  min(quality_score) AS q_min, max(quality_score) AS q_max
FROM phased GROUP BY phase
""".replace("{QS}", ORACLES["doc_quality_score"]),
)


# ----------------------------------------------- lexical diversity (TTR)
# Type-token ratio per source: corpus-level distinct-type share and the
# mean per-document TTR — the lexical-diversity screen (templated/spun
# text scores low).  Map-side token explode, two hash aggregates; the
# mean of per-doc ratios sums through decimal so the result is
# order-independent.
def _doc_ttr(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    toks = docs.select(
        "source", "doc_id", F.explode(text.tokens_col("text")).alias("tok")
    )
    per_doc = toks.groupBy("source", "doc_id").agg(
        (
            F.countDistinct("tok").cast("double")
            / F.count("*").cast("double")
        ).alias("ttr")
    )
    corpus = toks.groupBy("source").agg(
        F.countDistinct("tok").cast("long").alias("n_types"),
        F.count("*").cast("long").alias("n_tokens"),
    )
    doc_mean = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr(
            "CAST(sum(CAST(ttr AS DECIMAL(28,12))) AS DOUBLE) / count(*)"
        ).alias("mean_doc_ttr"),
    )
    return corpus.join(doc_mean, "source").select(
        "source",
        "n_docs",
        "n_types",
        "n_tokens",
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias(
            "corpus_ttr"
        ),
        "mean_doc_ttr",
    )


_q(
    "doc_ttr_by_source",
    _doc_ttr,
    """
WITH t AS (
  SELECT source, doc_id,
    unnest(list_filter(string_split_regex(text, '\\s+'),
                       x -> len(x) > 0)) AS tok
  FROM documents
),
per_doc AS (
  SELECT source, doc_id,
    CAST(count(DISTINCT tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ttr
  FROM t GROUP BY source, doc_id
),
corpus AS (
  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM t GROUP BY source
),
dm AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(CAST(sum(CAST(ttr AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)
      / count(*) AS mean_doc_ttr
  FROM per_doc GROUP BY source
)
SELECT corpus.source, n_docs, n_types, n_tokens,
  CAST(n_types AS DOUBLE) / n_tokens AS corpus_ttr, mean_doc_ttr
FROM corpus JOIN dm ON corpus.source = dm.source
""",
)


# --------------------------------- exact dedup, best-quality survivor
# Survivor policy a training pipeline actually ships: within each
# exact-duplicate class (md5 of normalized text) keep the HIGHEST
# quality-score copy, doc_id as the deterministic tie-break — not
# min-id.  The rank window partitions on the (high-cardinality) digest,
# so parallelism scales with classes; emits one row per kept document
# of a duplicated class.
def _doc_dedup_best_quality(spark, sf):
    from pyspark.sql import Window as W

    scored = text.quality_score(model.load_table(spark, sf, "documents"))
    d = scored.select(
        "doc_id",
        F.md5(dedup.normalized_text()).alias("digest"),
        "quality_score",
    )
    w = W.partitionBy("digest").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    n = W.partitionBy("digest")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .withColumn("dup_count", F.count("*").over(n).cast("long"))
        .filter((F.col("rk") == 1) & (F.col("dup_count") > 1))
        .select("digest", "dup_count", F.col("doc_id").alias("keep_id"),
                "quality_score")
    )


_q(
    "doc_exact_dedup_best_quality",
    _doc_dedup_best_quality,
    f"""
WITH scored AS ({{QS}}),
d AS (
  SELECT s.doc_id, md5({_NORM}) AS digest, s.quality_score
  FROM documents JOIN scored s USING (doc_id)
),
r AS (
  SELECT digest, doc_id, quality_score,
    row_number() OVER (PARTITION BY digest
                       ORDER BY quality_score DESC, doc_id ASC) AS rk,
    count(*) OVER (PARTITION BY digest) AS dup_count
  FROM d
)
SELECT digest, CAST(dup_count AS BIGINT) AS dup_count,
       doc_id AS keep_id, quality_score
FROM r WHERE rk = 1 AND dup_count > 1
""".replace("{QS}", ORACLES["doc_quality_score"]),
)


# ------------------------------------------------------- RAG chunking
# Overlapping character windows (the retrieval-index pre-processing
# stage before embedding): width 200 / stride 150, final window always
# reaching the document end.  flatMap shape — zero exchanges.
_q(
    "doc_chunk_windows",
    lambda spark, sf: text.chunk_windows(
        model.load_table(spark, sf, "documents"), width=200, stride=150
    ),
    """
WITH k AS (
  SELECT doc_id, text,
         CASE WHEN length(text) > 200
              THEN ((length(text) - 200) + 149) // 150 ELSE 0 END AS nc
  FROM documents
),
g AS (
  SELECT doc_id, text, unnest(generate_series(0, nc)) AS chunk_idx FROM k
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       substr(text, CAST(chunk_idx * 150 + 1 AS BIGINT), 200) AS chunk_text,
       CAST(length(substr(text, CAST(chunk_idx * 150 + 1 AS BIGINT), 200)) AS BIGINT)
         AS chunk_chars
FROM g
""",
)


# ---------------------------------------------------- bloom incremental
# Nightly-increment dedup against the EXISTING corpus via its Bloom
# sidecar (functions/dedup.py: bloom_position_set/bloom_probe): prior
# docs (3 of every 4 ids) publish a 32 Kbit filter of their digests;
# the incoming quarter probes it map-side, then only the bloom-hits
# pay the exact digest join.  The per-doc verdict labels the filter's
# false positives explicitly — the entry doubles as an FP-rate audit
# of the sketch.  Oracle: identical md5-salted bit positions; bloom
# membership = all k probe positions found in the prior position set.
_BLOOM_MBITS, _BLOOM_K = 1 << 15, 4


def _bloom_incremental(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    dg = F.md5(dedup.normalized_text())
    prior = docs.filter(F.col("doc_id") % 4 != 0).select(dg.alias("dg"))
    inc = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", dg.alias("dg"))
    pos = dedup.bloom_position_set(prior, "dg", _BLOOM_MBITS, _BLOOM_K)
    probed = dedup.bloom_probe(inc, "dg", pos, _BLOOM_MBITS, _BLOOM_K)
    exact = prior.distinct().withColumn("_ex", F.lit(True))
    verdict = (
        F.when(F.col("bloom_hit") & F.col("exact_dup"), "dup")
        .when(F.col("bloom_hit") & ~F.col("exact_dup"), "false_positive")
        .otherwise("new")
    )
    # the exact digest set is prior-corpus-proportional — shuffle-pin
    # the verify join (its post-distinct estimate is fiction; a
    # broadcast of the full corpus digest set OOMs at scale —
    # tools/plans.py broadcast).  The BLOOM side stays the broadcast:
    # that is the whole point of the sidecar (32 Kbit, size-dispatched
    # in bloom_probe).
    return (
        probed.join(exact.hint("shuffle_hash"), "dg", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_ex"), F.lit(False)).alias("exact_dup"),
        )
        .withColumn("verdict", verdict)
    )


_q(
    "doc_bloom_incremental_dedup",
    _bloom_incremental,
    f"""
WITH prior AS (
  SELECT md5({_NORM}) AS dg FROM documents WHERE doc_id % 4 <> 0
),
prior_d AS (SELECT DISTINCT dg FROM prior),
pos AS MATERIALIZED (
  SELECT DISTINCT
    ('0x' || substr(md5('bl' || CAST(i AS VARCHAR) || ':' || dg), 1, 15))::BIGINT
      % {_BLOOM_MBITS} AS p
  FROM prior CROSS JOIN range({_BLOOM_K}) r(i)
),
inc AS (
  SELECT doc_id, md5({_NORM}) AS dg FROM documents WHERE doc_id % 4 = 0
),
probe AS (
  SELECT doc_id, dg,
    ('0x' || substr(md5('bl' || CAST(i AS VARCHAR) || ':' || dg), 1, 15))::BIGINT
      % {_BLOOM_MBITS} AS p
  FROM inc CROSS JOIN range({_BLOOM_K}) r(i)
),
hits AS (
  SELECT probe.doc_id, probe.dg,
         count(pos.p) = {_BLOOM_K} AS bloom_hit
  FROM probe LEFT JOIN pos ON probe.p = pos.p
  GROUP BY 1, 2
)
SELECT h.doc_id, h.bloom_hit,
       prior_d.dg IS NOT NULL AS exact_dup,
       CASE WHEN h.bloom_hit AND prior_d.dg IS NOT NULL THEN 'dup'
            WHEN h.bloom_hit THEN 'false_positive'
            ELSE 'new' END AS verdict
FROM hits h LEFT JOIN prior_d ON h.dg = prior_d.dg
""",
)


# ------------------------------------- portable dominant eigenvalue
# The spectral-probe graduation path (VERDICT r6 #3 method, applied to
# PCA): emb_pca_spectrum's full LAPACK eigendecomposition stays
# rows-only, but the DOMINANT eigenvalue reproduces bit-for-bit via
# integer power iteration (functions/similarity.py:
# dominant_eigen_portable) — quantize once, keep the iterative core in
# exact integers (HUGEINT on the DuckDB side) with truncating rescale,
# floats only in the final Rayleigh division chain.
_EIG_K = 10
_EIG_D = 64  # embeddings are 64-dim in every driver generation


def _eig_oracle_sql(
    k_iter: int = _EIG_K,
    d: int = _EIG_D,
    qscale: int = 1000000,
    label_sql: str = "label",
) -> str:
    scale = 1 << similarity.EIG_SCALE_BITS
    ctes = [
        f"""q AS MATERIALIZED (
  SELECT {label_sql} AS label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * {float(qscale)!r}) AS BIGINT)) AS q
  FROM embeddings
)""",
        f"""gm AS MATERIALIZED (
  SELECT label, a.i AS i, b.j AS j,
         SUM(CAST(q[a.i + 1] AS HUGEINT) * q[b.j + 1]) AS g
  FROM q CROSS JOIN range({d}) a(i) CROSS JOIN range({d}) b(j)
  GROUP BY 1, 2, 3
)""",
        f"""sv AS MATERIALIZED (
  SELECT label, i, SUM(CAST(q[i + 1] AS HUGEINT)) AS s
  FROM q CROSS JOIN range({d}) r(i) GROUP BY 1, 2
)""",
        """nn AS MATERIALIZED (SELECT label, count(*) AS n FROM q GROUP BY 1)""",
        """mat AS MATERIALIZED (
  SELECT gm.label, gm.i, gm.j, nn.n * gm.g - sa.s * sb.s AS m
  FROM gm JOIN nn ON nn.label = gm.label
  JOIN sv sa ON sa.label = gm.label AND sa.i = gm.i
  JOIN sv sb ON sb.label = gm.label AND sb.i = gm.j
)""",
        "x0 AS (SELECT DISTINCT label, i AS j, CAST(1 AS HUGEINT) AS x FROM mat)",
    ]
    for t in range(1, k_iter + 1):
        ctes.append(
            f"""y{t} AS MATERIALIZED (
  SELECT mat.label, mat.i, SUM(mat.m * x.x) AS y
  FROM mat JOIN x{t - 1} x ON x.label = mat.label AND x.j = mat.j
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""x{t} AS MATERIALIZED (
  SELECT y{t}.label, i AS j,
    CASE WHEN am = 0 THEN CAST(0 AS HUGEINT)
         WHEN y < 0 THEN -((-y) * {scale} // am)
         ELSE (y * {scale}) // am END AS x
  FROM y{t} JOIN (SELECT label, max(abs(y)) AS am FROM y{t} GROUP BY 1) mx
    ON mx.label = y{t}.label
)"""
        )
    ctes.append(
        f"""yf AS MATERIALIZED (
  SELECT mat.label, mat.i, SUM(mat.m * x.x) AS y
  FROM mat JOIN x{k_iter} x ON x.label = mat.label AND x.j = mat.j
  GROUP BY 1, 2
)"""
    )
    ctes.append(
        f"""ray AS (
  SELECT yf.label, SUM(x.x * yf.y) AS num, SUM(x.x * x.x) AS den
  FROM yf JOIN x{k_iter} x ON x.label = yf.label AND x.j = yf.i
  GROUP BY 1
)"""
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT ray.label, CAST(nn.n AS BIGINT) AS n_vecs,
  CASE WHEN den = 0 THEN 0.0
       ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
            / CAST(nn.n * nn.n AS DOUBLE) / {float(qscale * qscale)!r}
  END AS lambda1
FROM ray JOIN nn ON nn.label = ray.label
"""
    )


_q(
    "emb_dominant_eigen_portable",
    lambda spark, sf: similarity.dominant_eigen_portable(
        model.load_table(spark, sf, "embeddings"), k_iter=_EIG_K
    ),
    _eig_oracle_sql(),
)


# ------------------------------------------------ PCA spectrum probe
# Top-8 eigenvalue shares of the embedding covariance — anisotropy /
# collapsed-representation check (driver-side numpy eig on the d×d
# matrix only).  Verdict-oracle form (VERDICT r10 task #2a): LAPACK
# eigenvalues ride on partition-dependent float Gram sums and can
# never value-hash, so the hashed row carries (1) the GLOBAL dominant
# eigenvalue by the portable integer power-iteration spec — a full-
# precision float the oracle reproduces bit-for-bit via the same
# unrolled-CTE trajectory over label=0 — and (2) verdict booleans tying
# the numpy spectrum to it.  The synthetic corpus is nearly isotropic
# (λ2/λ1 ≈ 0.93-0.99 at sf0.001-0.1), so convergence is the slow
# (λ2/λ1)^(2t) regime: k_iter=120 lands the Rayleigh quotient within
# 2% of LAPACK at every tested sf; the 15% verdict band leaves >7x
# margin while the theorem-true direction (Rayleigh ≤ λ1 up to
# quantization) gets its own tight check.  Spectrum shape properties
# stay pinned in pytest.
_EIG_GLOBAL_K = 120


def _emb_pca_spectrum_gate(spark, sf):
    emb = model.load_table(spark, sf, "embeddings")
    schema = (
        "n_vecs long, lambda1_portable double,"
        " top1_upper_ok boolean, top1_near_portable boolean,"
        " spectrum_sane boolean"
    )
    spec = sorted(
        similarity.pca_spectrum(emb, k=8).collect(),
        key=lambda r: r.component,
    )
    prow = similarity.dominant_eigen_portable(
        emb.select(F.lit(0).alias("label"), "embedding"),
        k_iter=_EIG_GLOBAL_K,
    ).collect()
    if not spec or not prow:
        return spark.createDataFrame([], schema)
    p = prow[0]
    lam1 = float(spec[0].eigenvalue)
    # Rayleigh quotient of the quantized covariance <= its lambda1;
    # quantization (floor at 1e-6) moves lambda1 by <= d * 2e-6 abs
    upper_ok = p.lambda1 <= lam1 + 1e-3
    near = abs(lam1 - p.lambda1) <= 0.15 * abs(p.lambda1)
    sane = (
        all(
            spec[i].eigenvalue >= spec[i + 1].eigenvalue - 1e-12
            for i in range(len(spec) - 1)
        )
        and all(0.0 <= r.explained_share <= 1.0 for r in spec)
        and sum(r.explained_share for r in spec) <= 1.0 + 1e-9
    )
    return spark.createDataFrame(
        [(int(p.n_vecs), float(p.lambda1), bool(upper_ok), bool(near), bool(sane))],
        schema,
    )


_q(
    "emb_pca_spectrum",
    _emb_pca_spectrum_gate,
    f"""
SELECT CAST(n_vecs AS BIGINT) AS n_vecs, lambda1 AS lambda1_portable,
  TRUE AS top1_upper_ok, TRUE AS top1_near_portable, TRUE AS spectrum_sane
FROM ({_eig_oracle_sql(k_iter=_EIG_GLOBAL_K, label_sql="0")})
""",
)


# ----------------------------------------- truncated-dimension recall
# Matryoshka-style serving eval (Kusupati et al., "Matryoshka
# Representation Learning", NeurIPS'22): search with only the FIRST 16
# of 64 dims — a 4x compute/IO cut when the index stores truncated
# prefixes — and measure recall@10 against the full-dim brute force.
# The standard production pattern is truncated first-pass + full-dim
# re-rank; this entry quantifies what the first pass alone loses.
# Determinism: both engines score with identical left-associated
# float chains over the 16-dim prefix (the _dot_chain parity rule).
_TRUNC_D = 16


def _emb_trunc_recall(spark, sf):
    emb = model.load_table(spark, sf, "embeddings")
    cand = similarity.brute_force_top_k(
        emb.select(
            "vec_id", F.slice("embedding", 1, _TRUNC_D).alias("embedding")
        ),
        _QVEC[:_TRUNC_D],
        k=10,
    )
    return _recall_eval(spark, sf, cand)


def _trunc_cand_sql() -> str:
    dot = " + ".join(
        f"embedding[{i + 1}]::DOUBLE * {_dlit(_QVEC[i])}" for i in range(_TRUNC_D)
    )
    nrm = (
        "sqrt("
        + " + ".join(
            f"embedding[{i}]::DOUBLE * embedding[{i}]::DOUBLE"
            for i in range(1, _TRUNC_D + 1)
        )
        + ")"
    )
    qn = (
        "sqrt("
        + " + ".join(f"{_dlit(x)} * {_dlit(x)}" for x in _QVEC[:_TRUNC_D])
        + ")"
    )
    return f"""
  SELECT vec_id, ({dot}) / ({nrm} * {qn}) AS cosine
  FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10
"""


_q("emb_truncated_dim_recall", _emb_trunc_recall, _recall_sql(_trunc_cand_sql()))


# ---------------------------------------------------- MMR diversification
# Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998): k
# picks balancing query relevance against redundancy with the already
# picked set.  Stage 1 is a distributed top-pool_n by cosine
# (TakeOrdered); the sequential selection runs over that bounded pool
# driver-side (the centroids rule).  Oracle = the same selection
# unrolled as k CTE stages over a MATERIALIZED pool (the r6 directive
# for iterative oracles), every float op the same tree.
_MMR_K, _MMR_POOL, _MMR_LAM = 8, 64, 0.7


def _mmr_sql(k: int = _MMR_K, pool_n: int = _MMR_POOL, lam: float = _MMR_LAM) -> str:
    dot = _dot_chain("x.embedding", "s.embedding")
    nx = _norm_chain("x.embedding")
    ns = _norm_chain("s.embedding")
    lam_sql, mu_sql = _dlit(lam), _dlit(1.0 - lam)
    parts = [
        f"""WITH pool AS MATERIALIZED (
  SELECT vec_id, embedding,
    ({_qvec_dot('embedding')}) / ({_norm_chain('embedding')} * {_QNORM}) AS rel
  FROM embeddings ORDER BY rel DESC, vec_id LIMIT {pool_n}
),
p1 AS MATERIALIZED (SELECT vec_id, rel, rel AS score FROM pool
       ORDER BY score DESC, vec_id LIMIT 1)"""
    ]
    sel = "SELECT vec_id FROM p1"
    for i in range(2, k + 1):
        parts.append(
            f""",
c{i} AS MATERIALIZED (
  SELECT x.vec_id, any_value(x.rel) AS rel,
         max(({dot}) / ({nx} * {ns})) AS msim
  FROM pool x JOIN pool s ON s.vec_id IN ({sel})
  WHERE x.vec_id NOT IN ({sel})
  GROUP BY x.vec_id
),
p{i} AS MATERIALIZED (
  SELECT vec_id, rel, {lam_sql} * rel - {mu_sql} * msim AS score
  FROM c{i} ORDER BY score DESC, vec_id LIMIT 1
)"""
        )
        sel += f" UNION ALL SELECT vec_id FROM p{i}"
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS pick_rank, vec_id, rel, score FROM p{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + finals


_q(
    "emb_mmr_diversify",
    lambda spark, sf: similarity.mmr_select(
        model.load_table(spark, sf, "embeddings"),
        _QVEC,
        k=_MMR_K,
        pool_n=_MMR_POOL,
        lam=_MMR_LAM,
    ),
    _mmr_sql(),
)


# -------------------------------------- minhash calibration (P/R eval)
# The calibration report a dedup rollout runs before trusting LSH at
# scale: precision/recall of the 32-hash 8x4-band minhash pipeline
# (candidates -> estimate >= T) against EXACT 3-gram Jaccard >= T
# ground truth.  The truth side is complete, not sampled: Jaccard > 0
# requires a shared shingle, so the shared-shingle pair generator
# covers every true pair — affordable at eval scale (run this on a
# sample corpus; the capped variants are the production path).
# Same shingle spec on all three legs (minhash, truth, oracle).
_PR_T = 0.5

#: the calibration eval's complete ground truth (uncapped shared-shingle
#: exact Jaccard) is quadratic in shingle document-frequency — the ONE
#: deliberately-uncapped path in the suite, affordable only at eval
#: scale.  The eval therefore runs on the <=50k documents with the
#: SMALLEST md5(salt||doc_id) hash — a deterministic top-k that (a) is
#: the whole corpus whenever n_docs <= cap, so every driver/local-gated
#: scale (sf0.01/0.1/1 = 500/5k/50k docs) stays exact full-corpus,
#: (b) is a uniform random-equivalent 50k-doc sample above the cap
#: (statistically equivalent for P/R calibration; the r9 sf10
#: rehearsal OOM'd the uncapped form at 500k docs), and (c) unlike the
#: r9 fraction-based hash_sample needs NO docs.count() pre-scan
#: (VERDICT r9 directive #4) and is mirrored EXACTLY by the static
#: oracle's ORDER BY hash LIMIT k (r9 ADVICE: the fraction form's
#: runtime cap/n threshold could not be expressed in static SQL).
#: doc_id tie-break makes the set fully deterministic in both engines.
_PR_EVAL_MAX_DOCS = 50_000
_PR_SALT = "prcal0"


def _pr_eval_sample(docs, cap=None):
    """The <=cap documents with the smallest md5(salt||doc_id) hash,
    doc_id tie-break — deterministic, engine-portable, and the whole
    corpus whenever n_docs <= cap.  TakeOrdered top-k distributed; no
    count() pre-scan."""
    return (
        docs.withColumn("_prh", sampling.hash_bucket(F.col("doc_id"), _PR_SALT))
        .orderBy("_prh", "doc_id")
        .limit(cap if cap is not None else _PR_EVAL_MAX_DOCS)
        .drop("_prh")
        # the global limit funnels the sample through one partition;
        # re-spread the (<=cap-row) sample before the shingle explode
        .repartition("doc_id")
    )


def _minhash_pr(spark, sf):
    docs = _pr_eval_sample(model.load_table(spark, sf, "documents"))
    # Shape deliberately UNCHANGED in r12 (VERDICT r11 directive #4
    # measured as a negative result; OPTIMIZATION_r12.md §P/R):
    # - fusing both legs onto one materialized shingle base
    #   (localCheckpoint) measured SLOWER (2.28 -> 3.88 s median-of-7,
    #   both orders): the checkpoint barrier + serialization costs more
    #   than the duplicated pipelined shingle pass it saves, and a
    #   persist() would be CacheManager-deduped across bench runs
    #   (cross-run result caching — disallowed);
    # - replacing the full-outer join with union + (a,b) aggregate
    #   measured flat-to-worse (2.28 -> 2.55): the join's pred side
    #   already reuses the dropDuplicates (a,b) exchange, so the union
    #   form shuffles MORE, not less.
    sigs = dedup.minhash_signatures(docs)
    pred = (
        dedup.minhash_lsh_estimates(sigs)
        .filter(F.col("est_jaccard") >= _PR_T)
        .select("a", "b", F.lit(1).alias("_p"))
    )
    truth = (
        dedup.ngram_jaccard_pairs(docs, n=_MH_SHINGLE_N, threshold=_PR_T)
        .select("a", "b", F.lit(1).alias("_t"))
    )
    j = pred.join(truth, ["a", "b"], "full_outer")
    agg = j.agg(
        F.count("_p").cast("long").alias("n_pred"),
        F.count("_t").cast("long").alias("n_true"),
        F.sum(F.when(F.col("_p").isNotNull() & F.col("_t").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    return agg.select(
        "n_pred",
        "n_true",
        "tp",
        F.when(F.col("n_pred") == 0, F.lit(0.0))
        .otherwise(F.col("tp").cast("double") / F.col("n_pred"))
        .alias("precision"),
        F.when(F.col("n_true") == 0, F.lit(0.0))
        .otherwise(F.col("tp").cast("double") / F.col("n_true"))
        .alias("recall"),
    )


# The oracle's minhash/shingle CTE chain, re-rooted on the same
# deterministic hash-top-k sample the engine evaluates (exact mirror:
# md5-60-bit ascending, doc_id tie-break, LIMIT cap — a no-op at every
# corpus size <= _PR_EVAL_MAX_DOCS).
_PR_CTES = _MH_CTES.replace("FROM documents", "FROM docs_pr").replace(
    "WITH toks AS (",
    f"""WITH docs_pr AS MATERIALIZED (
  SELECT * FROM documents
  ORDER BY ('0x' || substr(md5('{_PR_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
           doc_id
  LIMIT {_PR_EVAL_MAX_DOCS}
), toks AS (""",
)

_q(
    "doc_minhash_precision_recall",
    _minhash_pr,
    _PR_CTES
    + f""",
est AS (
  SELECT c.a, c.b,
         CAST(count(*) FILTER (ha.h = hb.h) AS DOUBLE) / {_MH_K} AS ej
  FROM cands c
  JOIN hs ha ON ha.doc_id = c.a
  JOIN hs hb ON hb.doc_id = c.b AND hb.i = ha.i
  GROUP BY c.a, c.b
),
pred AS (SELECT a, b FROM est WHERE ej >= {_PR_T!r}),
ex3 AS (
  SELECT doc_id, len(g) AS n_sh, unnest(g) AS shingle FROM sh
),
truth AS (
  SELECT a, b FROM (
    SELECT x.doc_id AS a, y.doc_id AS b,
           count(*) / (any_value(x.n_sh) + any_value(y.n_sh) - count(*))
             AS jaccard
    FROM ex3 x JOIN ex3 y
      ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
  ) WHERE jaccard >= {_PR_T!r}
),
m AS (
  SELECT CAST(count(p.a) AS BIGINT) AS n_pred,
         CAST(count(t.a) AS BIGINT) AS n_true,
         CAST(count(*) FILTER (p.a IS NOT NULL AND t.a IS NOT NULL) AS BIGINT)
           AS tp
  FROM pred p FULL OUTER JOIN truth t ON p.a = t.a AND p.b = t.b
)
SELECT n_pred, n_true, tp,
  CASE WHEN n_pred = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / n_pred END
    AS precision,
  CASE WHEN n_true = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / n_true END
    AS recall
FROM m
""",
)


# ------------------------------------------ binary quantization (BQ) ANN
# Sign-bit codes: 64 dims pack into ONE long (32x scan/shuffle cut over
# float32 — the compression modern vector stores call BQ), ranked by
# Hamming distance to the query's sign pattern.  Integer-exact end to
# end.  The oracle never packs: it counts per-dimension sign
# disagreements directly, which equals bit_count(xor(codes)) by
# construction — so the engine's packed form is checked against an
# independent formulation.
def _bq_hamming_sql(limit: int = 10) -> str:
    terms = " + ".join(
        f"CASE WHEN (embedding[{j + 1}]::DOUBLE > 0) != {str(float(_QVEC[j]) > 0.0).upper()}"
        " THEN 1 ELSE 0 END"
        for j in range(_DIM)
    )
    return f"""
  SELECT vec_id, CAST({terms} AS BIGINT) AS hamming
  FROM embeddings ORDER BY hamming, vec_id LIMIT {limit}
"""


_q(
    "emb_ann_binary",
    lambda spark, sf: similarity.ann_binary_top_k(
        model.load_table(spark, sf, "embeddings"), _QVEC, k=10
    ),
    "WITH cand AS (" + _bq_hamming_sql(10) + ") SELECT vec_id, hamming FROM cand",
)


def _emb_bq_recall(spark, sf):
    return _recall_eval(
        spark,
        sf,
        similarity.ann_binary_top_k(
            model.load_table(spark, sf, "embeddings"), _QVEC, k=10
        ),
    )


_q("emb_binary_recall_eval", _emb_bq_recall, _recall_sql(_bq_hamming_sql(10)))


# ------------------------------------------------ BPE vocabulary training
# Learn the first k byte-pair-encoding merges from the corpus
# (functions/text.py:bpe_merges — Sennrich et al. 2016): the tokenizer
# TRAINING step an LLM data pipeline runs, not just cost accounting
# with an external tokenizer.  The whole trajectory is integer counts
# + a (count desc, lhs, rhs) argmax + leftmost non-overlapping literal
# replaces, so the oracle replays it exactly as k unrolled CTE stages.
_BPE_K = 6


def _bpe_oracle(k: int = _BPE_K) -> str:
    parts = [
        f"""WITH words AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest({_TOKS}) AS w FROM documents
  ) WHERE regexp_full_match(w, '[a-z0-9]+') GROUP BY w
),
v0 AS MATERIALIZED (
  SELECT freq, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seg FROM words
)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT bigram, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
    SELECT freq,
      unnest(list_transform(range(len(s) - 1),
                            i -> s[i+1] || ' ' || s[i+2])) AS bigram
    FROM (SELECT freq, string_split(trim(seg), ' ') AS s FROM v{r - 1})
    WHERE len(s) > 1
  ) GROUP BY bigram
),
b{r} AS MATERIALIZED (
  SELECT split_part(bigram, ' ', 1) AS lhs,
         split_part(bigram, ' ', 2) AS rhs, pair_count
  FROM p{r} ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1
),
v{r} AS MATERIALIZED (
  SELECT freq, replace(seg,
    ' ' || (SELECT lhs FROM b{r}) || ' ' || (SELECT rhs FROM b{r}) || ' ',
    ' ' || (SELECT lhs FROM b{r}) || (SELECT rhs FROM b{r}) || ' ') AS seg
  FROM v{r - 1}
)"""
        )
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, lhs, rhs, pair_count FROM b{r}"
        for r in range(1, k + 1)
    )
    return "".join(parts) + "\n" + finals


_q(
    "doc_bpe_train",
    lambda spark, sf: text.bpe_merges(
        model.load_table(spark, sf, "documents"), k_merges=_BPE_K
    ),
    _bpe_oracle(),
)


# Fertility / compression of the TRAINED tokenizer: apply the k learned
# merges back to the weighted vocabulary and report corpus-level
# tokens-per-word and chars-per-token — the metric that tells a
# pipeline whether its token budget math holds (doc_tokenizer_fertility
# is the external-tokenizer PROXY; this one measures the tokenizer the
# corpus itself trained).  Integer sums; two final IEEE divisions of
# identical BIGINT operands.
def _doc_bpe_fertility(spark, sf):
    docs = model.load_table(spark, sf, "documents")
    # ONE corpus-scale word-count pass shared by training and
    # application (guide §5): without the shared vocab the query
    # derives _bpe_vocab twice — once inside bpe_merges, once inside
    # bpe_segmentation — and the corpus explode+groupBy runs twice
    # (r12 A/B: 2.95 -> 2.16 s median-of-5 locally).  localCheckpoint
    # materializes the (w, freq, seg) table (vocab-scale: distinct
    # words, NOT corpus-scale) and cuts the lineage.
    vocab = text._bpe_vocab(docs).localCheckpoint(eager=True)
    merges = [
        (r.lhs, r.rhs)
        for r in text.bpe_merges(docs, k_merges=_BPE_K, vocab=vocab)
        .orderBy("merge_rank")
        .collect()
    ]
    seg = text.bpe_segmentation(docs, merges, vocab=vocab)
    sy = F.size(F.split(F.trim(F.col("seg")), " ")).cast("long")
    ch = F.length(F.replace(F.trim(F.col("seg")), F.lit(" "), F.lit(""))).cast(
        "long"
    )
    agg = seg.agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.sum(F.col("freq") * sy).cast("long").alias("n_tokens"),
        F.sum(F.col("freq") * ch).cast("long").alias("n_chars"),
    )
    return agg.select(
        "n_words",
        "n_tokens",
        "n_chars",
        (F.col("n_tokens").cast("double") / F.col("n_words")).alias(
            "tokens_per_word"
        ),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias(
            "chars_per_token"
        ),
    )


def _bpe_fertility_oracle(k: int = _BPE_K) -> str:
    chain = _bpe_oracle(k)
    # reuse the training CTE chain, swap the final merge-table select
    # for an aggregate over the final segmentation v{k}
    chain = chain[: chain.index("\nSELECT CAST(1 AS INTEGER) AS merge_rank")]
    return (
        chain
        + f"""
SELECT n_words, n_tokens, n_chars,
  CAST(n_tokens AS DOUBLE) / n_words AS tokens_per_word,
  CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token
FROM (
  SELECT CAST(sum(freq) AS BIGINT) AS n_words,
         CAST(sum(freq * len(string_split(trim(seg), ' '))) AS BIGINT)
           AS n_tokens,
         CAST(sum(freq * len(replace(trim(seg), ' ', ''))) AS BIGINT)
           AS n_chars
  FROM v{k}
)
"""
    )


_q("doc_bpe_fertility", _doc_bpe_fertility, _bpe_fertility_oracle())
