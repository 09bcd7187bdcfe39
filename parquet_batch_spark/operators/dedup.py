"""Deduplication operators for LLM training-data pipelines (north-star).

Five dedup families, each expressed as a Catalyst-planned DataFrame
pipeline with an exact DuckDB oracle (engine-portable md5-derived
hashing, integer arithmetic — see functions/hashing.py):

- exact           : full-content hash grouping
- minhash LSH     : shingle → 16 minhashes → 4×4 banding → candidate
                    join → signature-similarity estimate
- simhash         : token-hash bit voting → 32-bit fingerprint →
                    band-blocked hamming join (lossless for d ≤ 3)
- n-gram jaccard  : exact set similarity via shingle-inverted-index
                    join (no O(n²) pair enumeration)
- embedding cosine: near-dup pairs above a cosine threshold

Scale design (100 TB): every pipeline is shuffle-bounded by the
*inverted index* (shingle/band/bucket), never by the document count
squared. The only self-joins are on LSH band keys or shared shingles,
which is the standard web-scale dedup topology (one shuffle per
stage, partial aggregation map-side). Exact hamming/jaccard checks
run only on candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import count_table, fan_out, load, shared_stage
from parquet_batch_spark.functions.hashing import (
    MERSENNE_P,
    affine_hash,
    hash32,
    hash_params,
    sql_affine_hash,
    sql_hash32,
)
from parquet_batch_spark.functions.text import shingles_col, sql_shingles, sql_tokens, tokens_col

SHINGLE_K = 3
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
MINHASH_EST_THRESHOLD = 0.5
JACCARD_THRESHOLD = 0.5
OVERLAP_THRESHOLD = 0.8  # overlap coefficient |A∩B|/min(|A|,|B|)
SIMHASH_MAX_HAMMING = 3
COSINE_THRESHOLD = 0.45
# Shingle document-frequency cap: a shingle present in more than
# min(ABS, max(MIN, FRAC·|corpus|)) documents is boilerplate (stop
# phrases, site chrome) — it contributes nothing to near-dup identity
# but makes the inverted-index self-join quadratic in its bucket (the
# classic stop-shingle hot key). Dropped consistently in BOTH engines
# before any join; MIN keeps small corpora intact, FRAC scales the cap
# with the corpus so true dup clusters (≪ 2% of docs) are never
# dropped, and ABS is the scale-safety ceiling: without it a shingle
# just under a purely fractional cap sits in 0.02·N docs and the
# self-join emits (0.02·N)² pairs from that ONE key — quadratic in
# corpus size (r4 VERDICT #3).  With the ceiling, every join bucket
# holds ≤ ABS docs, so per-shingle pair work is ≤ ABS² ≈ 16k pairs
# REGARDLESS of N, and total pair work is Θ(#distinct shingles · ABS²)
# worst case — linear in corpus size.  Same cap design as
# FUZZY_ANCHOR_DF_CAP below.  ABS only binds above ~6400 docs
# (FRAC·N > ABS), so small-SF results are unchanged.
SHINGLE_DF_CAP_MIN = 32
SHINGLE_DF_CAP_FRAC = 0.02
SHINGLE_DF_CAP_ABS = 128

_HASH_PARAMS = hash_params(N_HASHES)


# ---------------------------------------------------------------- exact

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by full-content md5, keep the lowest doc_id.

    Grouping on the 128-bit digest (not the text) keeps the shuffle
    payload fixed-width — the difference between shuffling 32-byte
    keys and shuffling documents at corpus scale.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
    MIN(doc_id) AS keep_doc_id,
    COUNT(*) AS n_copies
FROM documents
GROUP BY content_hash
ORDER BY keep_doc_id
"""


# ---------------------------------------------------------------- minhash

def _shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) for every DISTINCT shingle hash per document."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(tokens_col("text"), SHINGLE_K))).alias(
            "shingle"
        ),
    )
    return sh.select("doc_id", hash32(F.col("shingle")).alias("h"))


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_shingle_hashes`` with boilerplate shingles (document
    frequency above the corpus-relative cap) dropped before any
    downstream self-join."""
    hashes = _shingle_hashes(spark, sf_dir)
    # Small hot lists inline as a literal NOT IN (what a broadcast
    # anti-join computes, minus the join machinery); larger lists fall
    # back to the broadcast anti-join.
    hot = _hot_shingles(spark, sf_dir, hashes=hashes)
    if not hot:
        return hashes
    if len(hot) <= 10_000:
        return hashes.filter(~F.col("h").isin(hot))
    hot_df = spark.createDataFrame([(h,) for h in hot], "h long")
    return hashes.join(F.broadcast(hot_df), "h", "left_anti")


@shared_stage("documents")
def _hot_shingles(
    spark: SparkSession, sf_dir: str, hashes: DataFrame | None = None
) -> list[int]:
    """Shingle hashes whose document frequency exceeds the cap.  The
    list is tiny by construction — at most total-shingle-occurrences /
    cap entries — so the cap is a stop-shingle-list lookup, not a
    shuffle of the (doc, h) stream.  The corpus count is resolved
    eagerly so the cap is a plan literal; int() truncation == the
    oracle's floor() for non-negative counts.

    This pass shingles the corpus, and the signature pass that drops
    the hot hashes shingles it again; the (doc_id, h) stream is not
    materialized between them.  At 100 TB that stream is about the
    size of the corpus itself, while re-shingling is one linear pass
    over the text (``shingles_col`` tokenizes each document once).
    """
    cap = min(
        SHINGLE_DF_CAP_ABS,
        max(
            SHINGLE_DF_CAP_MIN,
            int(count_table(spark, sf_dir, "documents") * SHINGLE_DF_CAP_FRAC),
        ),
    )
    if hashes is None:
        hashes = _shingle_hashes(spark, sf_dir)
    return sorted(
        r["h"]
        for r in (
            hashes.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > F.lit(cap))
            .collect()
        )
    )


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig: array<long>[16]) — one groupBy, 16 min-aggregates
    (N affine transforms of ONE md5 per shingle, not N md5s)."""
    hashes = _doc_shingle_hashes(spark, sf_dir)
    aggs = [
        F.min(affine_hash(F.col("h"), a, b)).alias(f"mh{j}")
        for j, (a, b) in enumerate(_HASH_PARAMS)
    ]
    per_doc = hashes.groupBy("doc_id").agg(*aggs)
    return per_doc.select(
        "doc_id", F.array(*[F.col(f"mh{j}") for j in range(N_HASHES)]).alias("sig")
    )


@shared_stage("documents")
def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, sig_a, sig_b) pairs sharing ≥1 LSH band — the
    raw candidate set BEFORE the estimated-Jaccard filter (shared by
    dedup_minhash_lsh, dedup_clusters and the recall evaluation)."""
    sigs = _minhash_signatures(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            F.element_at("sig", b * ROWS_PER_BAND + r + 1)
                            for r in range(ROWS_PER_BAND)
                        ],
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band_idx", "band_sig"),
    )
    # A shuffled join, not a broadcast: both sides then read the one
    # Exchange on (band_idx, band_sig), which runs once and is reused
    # (ReusedExchange).  A broadcast self-join of this derived table
    # would recompute its build side — every shingle, md5 and
    # signature — from the scan.  Above the broadcast threshold the
    # planner picks this shuffled join anyway.
    a = bands.alias("a")
    b = bands.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection.

    sig(16) → 4 bands × 4 rows; candidates share ≥1 band signature;
    estimated Jaccard = fraction of equal signature positions ≥ 0.5.
    The band join is the only shuffle that grows with corpus size and
    it is keyed on (band_idx, band_signature) — bounded fan-out per
    bucket, AQE-skew-safe. Signatures are computed over df-capped
    shingles (SHINGLE_DF_CAP_*), so boilerplate can't glue unrelated
    documents into one band bucket.
    """
    cands = _lsh_candidate_pairs(spark, sf_dir)
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / N_HASHES
    )
    return (
        cands.select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= MINHASH_EST_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


def _sql_capped_hash_ctes() -> str:
    """Oracle CTEs mirroring ``_doc_shingle_hashes``: distinct shingle
    hashes per doc, then the corpus-relative document-frequency cap."""
    return f"""
shingles AS (
    SELECT doc_id, unnest(list_distinct({sql_shingles("toks", SHINGLE_K)})) AS shingle
    FROM (SELECT doc_id, {sql_tokens("text")} AS toks FROM documents)
),
hashes_all AS (
    SELECT doc_id, {sql_hash32("shingle")} AS h FROM shingles
),
hashes AS (
    SELECT doc_id, h FROM (
        SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM hashes_all)
    WHERE df <= LEAST({SHINGLE_DF_CAP_ABS}, GREATEST({SHINGLE_DF_CAP_MIN},
        CAST(floor((SELECT COUNT(*) FROM documents) * {SHINGLE_DF_CAP_FRAC}) AS BIGINT)))
)"""


def _sql_minhash_core() -> str:
    """Shared oracle CTEs: per-doc distinct capped shingle hashes +
    16-slot minhash signature."""
    mins = ",\n        ".join(
        f"MIN({sql_affine_hash('h', a, b)}) AS mh{j}"
        for j, (a, b) in enumerate(_HASH_PARAMS)
    )
    sig = ", ".join(f"mh{j}" for j in range(N_HASHES))
    return f"""{_sql_capped_hash_ctes()},
sigs AS (
    SELECT doc_id,
        {mins}
    FROM hashes GROUP BY doc_id
),
sigarr AS (
    SELECT doc_id, [{sig}] AS sig FROM sigs
)"""


_BAND_EXPRS = ", ".join(
    "concat_ws(':', "
    + ", ".join(f"sig[{b * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND))
    + ")"
    for b in range(N_BANDS)
)

_DEDUP_MINHASH_SQL = f"""
WITH {_sql_minhash_core()},
bands AS (
    SELECT doc_id, sig, i - 1 AS band_idx, ([{_BAND_EXPRS}])[i] AS band_sig
    FROM sigarr, generate_series(1, {N_BANDS}) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
    ROUND(CAST(len(list_filter(generate_series(1, {N_HASHES}),
        i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {N_HASHES}, 6) AS est_jaccard
FROM cands
WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
        i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {N_HASHES} >= {MINHASH_EST_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------- simhash

def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit simhash per document: per-bit majority vote over token
    hashes (with multiplicity) — one explode + one groupBy."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    tok = d.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    h = hash32(F.col("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(32)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for bit in range(32):
        term = F.when(F.col(f"v{bit}") > 0, F.lit(2 ** bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.alias("fp"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ 3.

    Blocking: 4 bands of 8 bits — by pigeonhole any pair within
    distance 3 shares at least one intact band, so the band join is
    LOSSLESS for the chosen radius while avoiding the n² pair scan.

    The fingerprint table is localCheckpoint'd before the band
    self-join (r12): both join aliases otherwise re-plan the whole
    tokenize + explode + 32-column vote aggregate subtree, doubling
    the op's dominant cost — the corpus is fingerprinted ONCE and the
    self-join reads the materialized (doc_id, fp) rows twice.
    """
    fps = _simhash_fp(spark, sf_dir).localCheckpoint(eager=False)
    bands = fps.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("fp", b * 8).bitwiseAND(F.lit(0xFF))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("pa").bitwiseXOR(F.col("pb"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("pa"),
            F.col("b.fp").alias("pb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_VOTES = ",\n        ".join(
    f"SUM(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS v{bit}"
    for bit in range(32)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN v{bit} > 0 THEN {2 ** bit} ELSE 0 END" for bit in range(32)
)

_DEDUP_SIMHASH_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest({sql_tokens("text")}) AS tok FROM documents
),
th AS (
    SELECT doc_id, {sql_hash32("tok")} AS h FROM tok
),
votes AS (
    SELECT doc_id,
        {_SIMHASH_VOTES}
    FROM th GROUP BY doc_id
),
fps AS (
    SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS fp FROM votes
),
bands AS (
    SELECT doc_id, fp, i - 1 AS band_idx, (fp >> ((i - 1) * 8)) & 255 AS band_val
    FROM fps, generate_series(1, 4) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS pa, b.fp AS pb
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM cands
WHERE bit_count(xor(pa, pb)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------- jaccard

@shared_stage("documents")
def _inter_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) — ONE inverted-index
    intersection pass feeding every set-overlap metric (Jaccard,
    containment, the LSH recall eval's ground truth).

    |A∩B| comes from joining docs on shared shingle hashes (only pairs
    that share content ever meet — no n² enumeration); boilerplate
    shingles above the document-frequency cap are dropped first (see
    SHINGLE_DF_CAP_*), so no stop-phrase bucket exceeds ABS docs and
    per-shingle pair work is bounded by ABS² at any corpus size.
    """
    hashes = _doc_shingle_hashes(spark, sf_dir)
    sizes = hashes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = hashes.alias("a")
    b = hashes.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    |A∪B| = |A|+|B|−|A∩B| over the shared intersection pass
    (``_inter_pair_stats`` — capped shingle stream, bounded buckets,
    materialized once per run for all overlap metrics). Exact over the
    capped shingle sets, scalable, oracle-checked.
    """
    pairs = _inter_pair_stats(spark, sf_dir)
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        pairs.filter(jac >= JACCARD_THRESHOLD)  # filter the exact value,
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))  # round for output
        .orderBy("doc_a", "doc_b")
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT pairs via the overlap coefficient
    |A∩B| / min(|A|, |B|) ≥ {OVERLAP_THRESHOLD} — the asymmetric
    companion to Jaccard that catches a document EMBEDDED in a larger
    one (quote farms, boilerplate-wrapped reposts, prompt/response
    concatenations), where Jaccard is diluted by the size ratio and
    misses. Shares ``_inter_pair_stats``'s materialized intersection
    pass with ``dedup_ngram_jaccard``, so the marginal cost over
    running Jaccard alone is one filter+projection over the reduced
    pair table — not a second inverted-index self-join.
    """
    pairs = _inter_pair_stats(spark, sf_dir)
    ov = F.col("n_inter").cast("double") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        pairs.filter(ov >= OVERLAP_THRESHOLD)
        .select("doc_a", "doc_b", F.round(ov, 6).alias("overlap"))
        .orderBy("doc_a", "doc_b")
    )


_DEDUP_CONTAINMENT_SQL = f"""
WITH {_sql_capped_hash_ctes()},
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM hashes GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM hashes a JOIN hashes b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
    ROUND(CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh), 6) AS overlap
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= {OVERLAP_THRESHOLD}
ORDER BY doc_a, doc_b
"""


_DEDUP_JACCARD_SQL = f"""
WITH {_sql_capped_hash_ctes()},
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM hashes GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM hashes a JOIN hashes b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
    ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------- cosine

# Random-hyperplane LSH banding for candidate generation: each of
# N_COS_BANDS bands hashes a vector to a sign-bit code; two vectors are
# candidates iff they share at least one band's code. The number of
# code bits actually used is DERIVED FROM CORPUS SIZE — the smallest
# b ∈ [COS_MIN_BITS, COS_MAX_BITS] with N ≤ COS_TARGET_BUCKET·2^b — so
# the expected bucket stays ≈ COS_TARGET_BUCKET rows and total pair
# work is Θ(N·bucket), not Θ(N²/2^bits) with a fixed grid. Recall is
# the deliberate trade: per-band collision for a pair at angle θ is
# (1−θ/π)^bits, so doubling the corpus costs one bit ≈ one factor of
# (1−θ/π) of per-band recall (graded: →1 as cos→1, where near-dups
# live). Both engines compute bits from the same integer ladder, so
# results stay bit-exactly comparable at every corpus size. Past
# N = COS_TARGET_BUCKET·2^COS_MAX_BITS (≈4M at the defaults), raise
# COS_MAX_BITS / N_COS_BANDS together to hold bucket size and recall.
N_COS_BANDS = 4
COS_MIN_BITS = 4
COS_MAX_BITS = 16  # plane-index stride per band; fixed, mask selects low bits
COS_TARGET_BUCKET = 64
EMB_DIM = 64
# Below this corpus size the distributed pair join's fixed cost (three
# shuffles + ~N·bucket interpreted 64-dim folds) dominates actual work,
# so a single-partition vectorized scorer runs instead — the same
# adaptive-threshold idea as Spark's own broadcast-join gate. The gate
# bounds the one-task state at ≤ 4096×64 doubles ≈ 2 MB (one Arrow
# batch); at any real corpus size the join path runs. Both paths use
# the SAME banding codes and the SAME dimension-sequential IEEE fold,
# so their outputs are bit-identical (asserted in tests/test_dedup.py).
COS_SMALL_CORPUS = 4096


def _cos_bits(n: int) -> int:
    """Smallest code width whose expected bucket ≤ COS_TARGET_BUCKET —
    integer comparisons only, mirrored by the oracle's CASE ladder."""
    bits = COS_MIN_BITS
    while bits < COS_MAX_BITS and n > COS_TARGET_BUCKET << bits:
        bits += 1
    return bits


def _band_assign(nbits: int):
    """Vectorized band assignment: one Arrow batch in, each vector out
    once per band with its (band, bits) bucket key — SLIM (no vector
    payload; vectors rejoin by id only for surviving candidate pairs,
    so the banding shuffle moves 16 bytes/row, not the embedding).
    Plane p for (band, bit) is ``band*COS_MAX_BITS + bit`` — fixed
    indexing, so growing the corpus only APPENDS bits to each band's
    code. Plane dot products accumulate dimension-sequentially
    (``acc += V[:,k]·w[p,k]``) — the identical IEEE op sequence as the
    oracle's list_sum fold, so sign bits match bit-for-bit. ~100× the
    throughput of per-row interpreted higher-order-function folds,
    which at billions of vectors is the difference between hours and
    minutes of CPU per corpus pass."""
    from parquet_batch_spark.operators.similarity import _plane_weight

    plane_ids = [
        b * COS_MAX_BITS + bit for b in range(N_COS_BANDS) for bit in range(nbits)
    ]
    planes = np.asarray(
        [[_plane_weight(p, d) for d in range(EMB_DIM)] for p in plane_ids],
        dtype=np.float64,
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
            acc = np.zeros((len(V), len(plane_ids)))
            for k in range(EMB_DIM):
                acc += V[:, k][:, None] * planes[:, k][None, :]
            signs = acc > 0
            for b in range(N_COS_BANDS):
                bits = np.zeros(len(V), dtype=np.int32)
                for bit in range(nbits):
                    bits |= signs[:, b * nbits + bit].astype(np.int32) << bit
                yield pd.DataFrame(
                    {"band": b, "bits": bits, "vec_id": pdf["vec_id"]}
                )

    return gen


def _cosine_small(nbits: int):
    """Single-partition scorer for corpora under ``COS_SMALL_CORPUS``:
    identical candidate semantics (same planes, same per-band sign
    codes, pairs share ≥1 band code) and identical arithmetic (norms,
    dots and the final division accumulate dimension-sequentially —
    vectorized ACROSS pairs, sequential WITHIN each vector — the exact
    IEEE op order of the join path's ``F.aggregate`` fold), so the two
    paths return bit-identical rows. Emits raw cosines; threshold,
    rounding and ordering stay JVM-side so the tail of the plan is
    literally shared with the join path."""
    from parquet_batch_spark.operators.similarity import _plane_weight

    plane_ids = [
        b * COS_MAX_BITS + bit for b in range(N_COS_BANDS) for bit in range(nbits)
    ]
    planes = np.asarray(
        [[_plane_weight(p, d) for d in range(EMB_DIM)] for p in plane_ids],
        dtype=np.float64,
    )

    def gen(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        V = np.asarray([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        acc = np.zeros((len(V), len(plane_ids)))
        for k in range(EMB_DIM):
            acc += V[:, k][:, None] * planes[:, k][None, :]
        signs = acc > 0
        # Candidate pairs: same (band, code) bucket in at least one
        # band. Fully vectorized — per bucket the index pairs come from
        # triu_indices, per band they concatenate, and the cross-band
        # dedup is one np.unique over packed (a·N+b) keys; no Python
        # pair loop (measured 3× the whole-query wall at sf0.1).
        chunks = []
        for b in range(N_COS_BANDS):
            codes = np.zeros(len(V), dtype=np.int64)
            for bit in range(nbits):
                codes |= signs[:, b * nbits + bit].astype(np.int64) << bit
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            starts = np.flatnonzero(
                np.r_[True, sorted_codes[1:] != sorted_codes[:-1]]
            )
            for s, e in zip(starts, np.r_[starts[1:], len(order)]):
                members = order[s:e]
                if len(members) < 2:
                    continue
                i, j = np.triu_indices(len(members), k=1)
                chunks.append(np.stack([members[i], members[j]], axis=1))
        if not chunks:
            return
        idx_pairs = np.concatenate(chunks)
        lo = np.minimum(idx_pairs[:, 0], idx_pairs[:, 1])
        hi = np.maximum(idx_pairs[:, 0], idx_pairs[:, 1])
        keys = np.unique(lo.astype(np.int64) * len(V) + hi)
        ia, ib = keys // len(V), keys % len(V)
        id_a, id_b = ids[ia], ids[ib]
        # emit with vec_a < vec_b by ID (ids need not be index-ordered)
        swap = id_a > id_b
        ia2 = np.where(swap, ib, ia)
        ib2 = np.where(swap, ia, ib)
        srt = np.lexsort((ids[ib2], ids[ia2]))
        ia, ib = ia2[srt], ib2[srt]
        pairs = np.stack([ids[ia], ids[ib]], axis=1)
        ssq = np.zeros(len(V))
        for k in range(EMB_DIM):
            ssq += V[:, k] * V[:, k]
        nrm = np.sqrt(ssq)
        # same zero-norm guard as the join path (which drops them at
        # the vector rejoin): a pair with an undefined cosine is not a
        # candidate, it's a data defect to skip
        ok = (nrm[ia] > 0) & (nrm[ib] > 0)
        ia, ib, pairs = ia[ok], ib[ok], pairs[ok]
        if not len(pairs):
            return
        dot = np.zeros(len(pairs))
        for k in range(EMB_DIM):
            dot += V[ia, k] * V[ib, k]
        yield pd.DataFrame(
            {
                "vec_a": pairs[:, 0],
                "vec_b": pairs[:, 1],
                "cos_raw": dot / (nrm[ia] * nrm[ib]),
            }
        )

    return gen


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.45, LSH-banded candidates.

    The 100 TB shape: NO all-pairs enumeration anywhere in the plan,
    and no task ever owns a whole bucket. Candidate generation is a
    SLIM self-join — each vector contributes N_COS_BANDS 16-byte
    (band, code, vec_id) rows, the join key is (band, code), and the
    pair stream flows through the sort-merge join without ever being
    materialized per-bucket (the previous design collect_list'ed every
    bucket into one row, so one hot bucket = one straggler task holding
    it all in memory). Code width grows with corpus size (``_cos_bits``:
    expected bucket ≈ COS_TARGET_BUCKET rows at any N), so pair work is
    Θ(N·bucket) with a deliberately graded recall cost — not Θ(N²) over
    a fixed grid. Vectors rejoin by id only for SURVIVING candidate
    pairs, and scoring is pure JVM: the same ``F.aggregate``/``zip_with``
    sequential fold that ``ann_bruteforce_topk`` hash-matches against
    DuckDB's ``list_sum`` fold — identical IEEE op order, bit-exact.
    (An Arrow-batched numpy pair scorer was measured and REJECTED: it
    must ship both 64-dim vectors per candidate pair through Arrow,
    ~1.5 GB at the 10× scale test, and lost 3× to the in-place JVM
    fold — the transfer, not the flops, dominates pair scoring.)

    The one driver-side scalar is ``count()`` (parquet metadata read)
    to derive the code width — the same bounded pattern as the CC
    convergence probe. tests/test_similarity.py pins precision 1.0 and
    the measured recall floor vs the exact all-pairs baseline.

    Corpora at or under ``COS_SMALL_CORPUS`` (= one Arrow batch of
    vectors) take the ``_cosine_small`` single-task path instead: the
    three-shuffle join constant dominates at toy sizes, exactly the
    regime Spark's broadcast-join threshold exists for. Outputs are
    bit-identical either way (tests/test_dedup.py equivalence test).
    """
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select("vec_id", dvec.alias("v"))
    n = count_table(spark, sf_dir, "embeddings")
    nbits = _cos_bits(n)
    if n <= COS_SMALL_CORPUS:
        # Adaptive small-corpus path (see COS_SMALL_CORPUS): one
        # executor task, bit-identical output to the join path below.
        scored = base.coalesce(1).mapInPandas(
            _cosine_small(nbits), schema="vec_a long, vec_b long, cos_raw double"
        )
        return (
            scored.filter(F.col("cos_raw") >= COSINE_THRESHOLD)
            .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
            .orderBy("vec_a", "vec_b")
        )
    probes = base.mapInPandas(
        _band_assign(nbits), schema="band int, bits int, vec_id long"
    )
    cand = (
        probes.select("band", "bits", F.col("vec_id").alias("vec_a"))
        .join(
            probes.select("band", "bits", F.col("vec_id").alias("vec_b")),
            ["band", "bits"],
        )
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    # zero-norm vectors have no cosine — drop them before the division
    # (ANSI mode raises DIVIDE_BY_ZERO otherwise; the small path and
    # the oracle apply the identical guard). Found by the hypothesis
    # property test on random corpora, not by the driver data.
    nv = base.withColumn("nrm", nrm).filter(F.col("nrm") > 0)
    pairs = cand.join(
        nv.select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        ),
        "vec_a",
    ).join(
        nv.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        ),
        "vec_b",
    )
    # aggregate() fold, not an unrolled 64-term expression: both were
    # measured (the unrolled GetArrayItem chain looked codegen-friendly
    # but ran 2-5× SLOWER — the giant tree is duplicated into the join
    # condition and the projection and blows past codegen's method
    # limits), and the fold is also what the oracle's list_sum mirrors
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


def _sql_cos_code(band: int) -> str:
    """DuckDB expression for band's FULL COS_MAX_BITS-bit sign code,
    mirroring ``_band_assign`` plane-for-plane; the dynamic code width
    is applied afterwards as ``code & mask`` (low ``bits`` bits of the
    full code ARE the ``bits``-wide code, since bit i always comes from
    plane band*COS_MAX_BITS+i)."""
    from parquet_batch_spark.operators.similarity import _sql_plane_list

    bits = []
    for bit in range(COS_MAX_BITS):
        p = band * COS_MAX_BITS + bit
        bits.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {EMB_DIM}),"
            f" i -> v[i] * ({_sql_plane_list(p, EMB_DIM)})[i])) > 0"
            f" THEN {1 << bit} ELSE 0 END)"
        )
    return "\n         + ".join(bits)


def _sql_cos_mask_ladder() -> str:
    """CASE ladder computing (1 << _cos_bits(n)) - 1 from the corpus
    row count — integer comparisons only, identical to the Python."""
    arms = []
    for b in range(COS_MIN_BITS, COS_MAX_BITS):
        arms.append(f"WHEN n <= {COS_TARGET_BUCKET << b} THEN {(1 << b) - 1}")
    arms.append(f"ELSE {(1 << COS_MAX_BITS) - 1}")
    return "CASE " + " ".join(arms) + " END"


_COS_EXPR = (
    "list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))"
    " / (a.nrm * b.nrm)"
)

_DEDUP_COSINE_SQL = f"""
WITH vecs AS (
    SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
params AS (
    SELECT {_sql_cos_mask_ladder()} AS mask
    FROM (SELECT COUNT(*) AS n FROM vecs)
),
nv AS (
    -- zero-norm guard mirrors the engine (no cosine for a zero vector)
    SELECT * FROM (
        SELECT vec_id, v,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM vecs
    ) WHERE nrm > 0
),
probes AS (
{" UNION ALL ".join(f'''
    SELECT {b} AS band,
        ({_sql_cos_code(b)}) & (SELECT mask FROM params) AS bits,
        vec_id FROM vecs
''' for b in range(N_COS_BANDS))}
),
cand AS (
    SELECT DISTINCT p.vec_id AS vec_a, q.vec_id AS vec_b
    FROM probes p
    JOIN probes q ON p.band = q.band AND p.bits = q.bits
               AND p.vec_id < q.vec_id
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    ROUND({_COS_EXPR}, 6) AS cos_sim
FROM cand
JOIN nv a ON a.vec_id = cand.vec_a
JOIN nv b ON b.vec_id = cand.vec_b
WHERE {_COS_EXPR} >= {COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
"""


# ------------------------------------------------- connected components


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    minhash-LSH pair graph, so each dup group gets one canonical doc
    (the minimum doc_id in its component) — the step that turns
    pairwise dedup output into keep/drop decisions.

    Algorithm: iterative min-label propagation (each node repeatedly
    adopts the smallest label among itself and its neighbours) —
    converges in O(component diameter) rounds; near-dup components are
    tiny, so a handful of Spark jobs. Each round is one shuffle join +
    groupBy; ``localCheckpoint`` truncates lineage so plans stay flat.
    This is the standard large-scale CC topology (cf. the small-star /
    large-star refinement); a 100 TB run would add per-round
    persistence to a checkpoint dir. The driver-side loop only
    inspects a one-row convergence count per round — no data is
    collected. The edge set comes from the SHARED materialized LSH
    candidate table (``_lsh_candidate_pairs``), so running clusters
    after ``dedup_minhash_lsh`` in one session costs only the CC
    rounds, not a second signature/band-join pass.

    Oracle: DuckDB recursive CTE computing reachability over the same
    edge set, then min(reachable ∪ self) per node.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("doc_a").alias("doc"))
        .distinct()
        .withColumn("lbl", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    # labels only ever DECREASE under min-propagation, so the label sum
    # strictly shrinks until the fixed point: comparing one aggregate
    # per round replaces the join+filter+count convergence probe (one
    # cheap job over checkpointed labels instead of a shuffle join)
    lbl_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    while True:
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc)
            .groupBy("doc_a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc == neighbor_min.doc_a, "left")
            .select(
                "doc",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == lbl_sum:
            break
        lbl_sum = new_sum
    return labels.select(
        F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_root")
    ).orderBy("doc_id")


_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_sql_minhash_core()},
bands AS (
    SELECT doc_id, sig, i - 1 AS band_idx, ([{_BAND_EXPRS}])[i] AS band_sig
    FROM sigarr, generate_series(1, {N_BANDS}) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM cands
    WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
            i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {N_HASHES}
        >= {MINHASH_EST_THRESHOLD}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_root
FROM reach
GROUP BY a
ORDER BY doc_id
"""


# ------------------------------------------------------------ pagerank

PR_ITERS = 8
PR_SCALE = 10**12  # fixed-point rank units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as integer ratio


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the minhash near-dup graph — the canonical
    iterative-algorithm shape (fixed {PR_ITERS} power iterations, one
    contribution join + aggregate per round, lineage truncated by
    localCheckpoint). High-rank docs sit at the center of dup clusters
    — a useful curation signal beyond binary keep/drop.

    Cross-engine exactness by construction: ranks live in BIGINT
    fixed-point (1e12 units) and every update is integer arithmetic
    (div/mul/sum — order-independent), so Spark and the oracle agree
    bit-for-bit with no float-summation drift; the oracle unrolls the
    same {PR_ITERS} iterations as chained CTEs (standard SQL forbids
    aggregation inside a recursive CTE)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    deg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
    e2 = (
        edges.join(deg, "doc_a")
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"), "deg")
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()
    init = PR_SCALE // n_nodes
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n_nodes)
    ranks = deg.select(F.col("doc_a").alias("doc"), F.lit(init).alias("r"))
    for i in range(PR_ITERS):
        contrib = e2.join(ranks, e2.src == ranks.doc).select(
            F.col("dst").alias("doc"), F.expr("r div deg").alias("c")
        )
        ranks = contrib.groupBy("doc").agg(F.sum("c").alias("s")).select(
            "doc",
            (F.lit(base) + F.expr(f"({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}")).alias(
                "r"
            ),
        )
        # checkpoint every OTHER round (r13, kcore's measured cadence):
        # per-round eager checkpoints cost one job each; alternating
        # A/B in commit 8f30727 (tools/ab_pagerank.py, probe 0.232)
        # reads every-round 3.08 s vs every-2nd 2.37 s — the 2-deep
        # lineage between checkpoints replans two tiny join+agg
        # rounds, cheaper than the extra PR_ITERS/2 job launches.
        # Trajectory unchanged (checkpoints never alter the integer
        # arithmetic).
        if i % 2 == 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("doc").alias("doc_id"),
        F.col("r").alias("rank_fp"),
        F.round(F.col("r").cast("double") / F.lit(float(PR_SCALE)), 9).alias("rank"),
    ).orderBy("doc_id")


def _pagerank_sql() -> str:
    steps = []
    for i in range(PR_ITERS):
        steps.append(f"""
pr{i + 1} AS (
    SELECT e.doc_b AS doc,
        (SELECT base FROM consts)
        + ({PR_DAMP_NUM} * CAST(SUM(p.r // d.deg) AS BIGINT)) // {PR_DAMP_DEN} AS r
    FROM pr{i} p
    JOIN edges e ON e.doc_a = p.doc
    JOIN deg d ON d.doc_a = p.doc
    GROUP BY e.doc_b
)""")
    return f"""
WITH {_sql_minhash_core()},
bands AS (
    SELECT doc_id, sig, i - 1 AS band_idx, ([{_BAND_EXPRS}])[i] AS band_sig
    FROM sigarr, generate_series(1, {N_BANDS}) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM cands
    WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
            i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {N_HASHES}
        >= {MINHASH_EST_THRESHOLD}
),
edges AS (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
deg AS (
    SELECT doc_a, COUNT(*) AS deg FROM edges GROUP BY doc_a
),
consts AS (
    SELECT ({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM})
               // ({PR_DAMP_DEN} * COUNT(*)) AS base,
           {PR_SCALE} // COUNT(*) AS init
    FROM deg
),
pr0 AS (
    SELECT doc_a AS doc, (SELECT init FROM consts) AS r FROM deg
),{",".join(steps)}
SELECT doc AS doc_id, r AS rank_fp,
    ROUND(CAST(r AS DOUBLE) / {float(PR_SCALE)}, 9) AS rank
FROM pr{PR_ITERS}
ORDER BY doc_id
"""


# ------------------------------------------------- fuzzy (edit distance)


FUZZY_PREFIX = 40
FUZZY_MAX_EDITS = 12
# Hard per-anchor document cap: an anchor value shared by more than
# this many (lang, ak) documents is dropped as a blocking key, so no
# block can ever generate more than C(cap,2) pairs — a MEMORY bound
# that holds at any corpus size and any duplicate density (the 10×
# dup-dense replication previously needed manual heap/partition bumps
# because per-anchor dfs grow linearly with the corpus). Constant by
# design: hotter anchors are exactly the non-discriminative ones
# ("the", boilerplate openers), and a pair they'd block on usually
# still meets via its other, rarer anchor. At the test SFs the hottest
# anchor df is 93 (sf0.1), so the cap changes no test output.
FUZZY_ANCHOR_DF_CAP = 128


def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching with hard-bounded blocks, no boundary loss.

    Candidate pairs must share (lang, token ANCHOR, ≈length): the
    anchor — first OR second whitespace token, two banding passes — is
    the secondary blocking key that keeps every block's size bounded by
    anchor-value frequency instead of growing linearly with the corpus
    (the round-1 O(block²) scale flaw), and anchors hotter than
    FUZZY_ANCHOR_DF_CAP documents are dropped outright (HAVING on the
    anchor-df aggregate + semi-join), turning "bounded by frequency"
    into a hard C(cap,2) pair bound per block regardless of duplicate
    density. Length blocking replicates the
    left side into buckets lb−1..lb+1, so a 199/201-char near-dup pair
    straddling a bucket boundary still meets (each surviving pair meets
    exactly once per probe — no dedupe shuffle for the length axis; the
    anchor axis dedupes pairs that match on both tokens). The exact
    O(len²) Levenshtein DP (40-char prefix, ≤ 12 edits) runs only on
    candidates. Recall caveats: a pair whose first TWO tokens are all
    edited away never meets, and a pair BOTH of whose anchors are
    corpus-hot is dropped with them — documented blocking tradeoffs,
    mirrored exactly by the oracle.

    Cross-engine caveat pinned by test data: Spark's levenshtein is
    character-based, DuckDB's byte-based — identical on this ASCII
    corpus (verified); non-ASCII corpora would normalize first."""
    toks = tokens_col("text")
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 100).cast("int").alias("len_bucket"),
        F.substring("text", 1, FUZZY_PREFIX).alias("prefix"),
        F.get(toks, 0).alias("t1"),
        F.get(toks, 1).alias("t2"),
    )
    anchors = (
        d.select(
            "doc_id",
            "lang",
            "len_bucket",
            "prefix",
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("ak"), F.col("t1").alias("av")),
                    F.struct(F.lit(1).alias("ak"), F.col("t2").alias("av")),
                )
            ).alias("anchor"),
        )
        .filter(F.col("anchor.av").isNotNull())
        .select(
            "doc_id",
            "lang",
            "len_bucket",
            "prefix",
            F.col("anchor.ak").alias("ak"),
            F.col("anchor.av").alias("av"),
        )
    )
    cool = (
        anchors.groupBy("lang", "ak", "av")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= FUZZY_ANCHOR_DF_CAP)
        .drop("df")
    )
    anchors = anchors.join(cool, ["lang", "ak", "av"], "left_semi")
    a = anchors.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "ak",
        "av",
        F.col("prefix").alias("prefix_a"),
        F.explode(
            F.array(*[F.col("len_bucket") + F.lit(off) for off in (-1, 0, 1)])
        ).alias("probe_bucket"),
    )
    b = anchors.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("ak").alias("ak_b"),
        F.col("av").alias("av_b"),
        F.col("len_bucket").alias("len_bucket_b"),
        F.col("prefix").alias("prefix_b"),
    )
    cands = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("ak") == F.col("ak_b"))
            & (F.col("av") == F.col("av_b"))
            & (F.col("probe_bucket") == F.col("len_bucket_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "lang", "prefix_a", "prefix_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cands.withColumn("edit_dist", F.levenshtein("prefix_a", "prefix_b"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_EDITS)
        .select("doc_a", "doc_b", "lang", "edit_dist")
        .orderBy("doc_a", "doc_b")
    )


_DEDUP_FUZZY_SQL = f"""
WITH base AS (
    SELECT doc_id, lang,
        CAST(FLOOR(n_chars / 100) AS INTEGER) AS lb,
        substring(text, 1, {FUZZY_PREFIX}) AS prefix,
        {sql_tokens("text")} AS toks
    FROM documents
),
anch AS (
    SELECT doc_id, lang, lb, prefix, 0 AS ak, toks[1] AS av FROM base
        WHERE len(toks) >= 1
    UNION ALL
    SELECT doc_id, lang, lb, prefix, 1, toks[2] FROM base
        WHERE len(toks) >= 2
),
anchok AS (
    SELECT a.* FROM anch a
    JOIN (SELECT lang, ak, av FROM anch GROUP BY 1, 2, 3
          HAVING COUNT(*) <= {FUZZY_ANCHOR_DF_CAP}) f
      ON a.lang = f.lang AND a.ak = f.ak AND a.av = f.av
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
        a.prefix AS pa, b.prefix AS pb
    FROM (SELECT anchok.*, lb + d AS probe
          FROM anchok, unnest([-1, 0, 1]) t(d)) a
    JOIN anchok b
      ON a.lang = b.lang AND a.ak = b.ak AND a.av = b.av
     AND a.probe = b.lb AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, lang,
       levenshtein(pa, pb)::INTEGER AS edit_dist
FROM cand
WHERE levenshtein(pa, pb) <= {FUZZY_MAX_EDITS}
ORDER BY doc_a, doc_b
"""


def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop DECISION on top of the near-dup clusters: one
    canonical representative per connected component — the longest
    member (ties to the smallest doc_id), the standard "keep the most
    complete copy" curation rule (min-doc_id alone keeps whichever
    copy happened to be crawled first). Emits one row per cluster with
    the representative, member count, and the char mass kept vs
    dropped — exactly the report a pipeline owner reads before
    signing off a dedup pass.

    Plan shape: the CC labels (one row per clustered doc) join
    ``documents`` on doc_id — a key equi-join — then one window over
    ``cluster_root`` partitions (cluster-sized, tiny) and one
    aggregation. Nothing here scales worse than the CC step itself.
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_root").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = joined.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_root")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("rep_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("rep_chars"),
            (F.sum("n_chars") - F.max(F.when(F.col("rn") == 1, F.col("n_chars"))))
            .alias("dropped_chars"),
        )
        .orderBy("cluster_root")
    )


_DEDUP_REP_SQL = f"""
WITH RECURSIVE {_sql_minhash_core()},
bands AS (
    SELECT doc_id, sig, i - 1 AS band_idx, ([{_BAND_EXPRS}])[i] AS band_sig
    FROM sigarr, generate_series(1, {N_BANDS}) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM cands
    WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
            i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {N_HASHES}
        >= {MINHASH_EST_THRESHOLD}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cc AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_root
    FROM reach
    GROUP BY a
),
ranked AS (
    SELECT cc.cluster_root, cc.doc_id, d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY cc.cluster_root
                              ORDER BY d.n_chars DESC, cc.doc_id ASC) AS rn
    FROM cc JOIN documents d ON cc.doc_id = d.doc_id
)
SELECT cluster_root,
       COUNT(*) AS n_members,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
       MAX(CASE WHEN rn = 1 THEN n_chars END) AS rep_chars,
       CAST(SUM(n_chars) - MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
           AS dropped_chars
FROM ranked
GROUP BY cluster_root
ORDER BY cluster_root
"""


def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall evaluation of the MinHash-LSH blocking against the EXACT
    n-gram-Jaccard ground truth on the same capped shingle sets — the
    measurement that justifies (or re-tunes) the {N_BANDS}×{ROWS_PER_BAND}
    band configuration before a 100 TB run: ground-truth pairs are
    every pair with exact Jaccard ≥ {JACCARD_THRESHOLD}; a pair is
    recalled if it shares ≥1 LSH band.

    Output: one row of exact counts + 6dp ratios (recall of the
    candidate set, and the candidate "precision proxy" — the fraction
    of candidates that are true near-dups; low values mean wasted
    verification work downstream).

    Scale: the ground truth reuses ``_inter_pair_stats``'s shared
    (materialized) intersection pass; the LSH side is the band
    equi-join; the comparison itself is one more equi-join on the
    (doc_a, doc_b) pair key plus a scalar aggregate.
    """
    pairs = _inter_pair_stats(spark, sf_dir)
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    truth = pairs.filter(jac >= JACCARD_THRESHOLD).select("doc_a", "doc_b")
    cands = _lsh_candidate_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_cand")
    )
    joined = truth.join(cands, ["doc_a", "doc_b"], "left")
    t = joined.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum(F.coalesce("is_cand", F.lit(0))).cast("long").alias("n_recalled"),
    )
    c = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    return t.crossJoin(F.broadcast(c)).select(
        "n_true_pairs",
        "n_candidates",
        "n_recalled",
        F.round(
            F.col("n_recalled").cast("double") / F.col("n_true_pairs").cast("double"), 6
        ).alias("recall"),
        F.round(
            F.col("n_recalled").cast("double") / F.col("n_candidates").cast("double"), 6
        ).alias("precision_proxy"),
    )


_LSH_RECALL_SQL = f"""
WITH {_sql_minhash_core()},
bands AS (
    SELECT doc_id, sig, i - 1 AS band_idx, ([{_BAND_EXPRS}])[i] AS band_sig
    FROM sigarr, generate_series(1, {N_BANDS}) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        AND a.doc_id < b.doc_id
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM hashes GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM hashes a JOIN hashes b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc_id
    JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
),
t AS (
    SELECT COUNT(*) AS n_true_pairs,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recalled
    FROM truth tr
    LEFT JOIN cands c ON tr.doc_a = c.doc_a AND tr.doc_b = c.doc_b
),
cc AS (
    SELECT COUNT(*) AS n_candidates FROM cands
)
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       n_recalled,
       ROUND(CAST(n_recalled AS DOUBLE) / CAST(n_true_pairs AS DOUBLE), 6) AS recall,
       ROUND(CAST(n_recalled AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6) AS precision_proxy
FROM t, cc
"""


# ------------------------------------------- exact duplicated substrings

SUBSTR_K = 8  # words per gram: any shared verbatim span of >= 8 words
#               yields at least one common gram in both documents —
#               token-aligned cutting makes alignment CONTENT-defined,
#               unlike fixed character strides which only match when
#               span offsets happen to be congruent mod the stride


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN detection (the ExactSubstr idea of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    documents that are not near-duplicates as a whole can still share
    long verbatim spans (licenses, quotes, templated intros) that
    memorization-prone models see many times. Spans are detected at
    word granularity: every {SUBSTR_K}-token gram is hashed, and a
    gram whose hash appears in >= 2 DISTINCT documents marks a
    duplicated span — word-aligned cutting is content-defined, so a
    shared span produces identical grams in both docs regardless of
    where it sits (a fixed character stride would only match spans at
    congruent offsets; the suffix-array-free practical equivalent).
    Output: per-doc duplicated-gram accounting for every doc carrying
    at least one cross-doc span.

    Scale: join-free — the gram stream (one row per token, linear in
    corpus size) reduces to per-hash distinct-doc counts, then one
    linear hash-equi-join back to the (doc, hash) stream and a
    per-doc reduce. No pair enumeration anywhere, so no df cap is
    needed: a gram shared by a million docs costs one aggregate row,
    not a million-squared join bucket.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_col(tokens_col("text"), SUBSTR_K))
        ).alias("g"),
    )
    # localCheckpoint (r12): wins feeds the per-hash doc counts AND
    # the join back — without materialization the corpus tokenize +
    # shingle + hash subtree runs twice
    wins = (
        grams.select("doc_id", hash32(F.col("g")).alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    df_counts = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        wins.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_dup_windows"),
        )
        .filter(F.col("n_dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.floor(
                F.lit(1_000_000) * F.col("n_dup_windows") / F.col("n_windows")
            ).cast("long").alias("dup_frac_micro"),
        )
        .orderBy("doc_id")
    )


_DEDUP_SUBSTR_SQL = f"""
WITH wins AS (
    SELECT DISTINCT doc_id, {sql_hash32("g")} AS h
    FROM (
        SELECT doc_id,
            unnest(list_distinct({sql_shingles(sql_tokens("text"), SUBSTR_K)})) AS g
        FROM documents
    )
),
df AS (
    SELECT h, COUNT(*) AS n_docs FROM wins GROUP BY h
)
SELECT doc_id,
    COUNT(*) AS n_windows,
    CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
    CAST(FLOOR(1000000.0 * SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT)
        AS dup_frac_micro
FROM wins JOIN df USING (h)
GROUP BY doc_id
HAVING SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
"""


# ------------------------------------------------- content-defined chunking

CDC_W = 8  # rolling-window width (chars) for the boundary test
CDC_DIV = 32  # boundary when window-hash % CDC_DIV == 0 -> ~32-char chunks


def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup: the storage-layer complement to
    ``dedup_exact_substring``'s fixed-stride windows.

    A chunk boundary opens at every position whose {CDC_W}-char window
    hashes to 0 mod {CDC_DIV} (Rabin-style CDC, ~{CDC_DIV}-char average
    chunks).  Because boundaries depend on CONTENT, not offsets, an
    insertion early in a document shifts only the chunk it lands in —
    the chunks after the next boundary re-align and still dedup, which
    is exactly why backup/storage systems (LBFS, restic, borg) and
    payload-level corpus dedup use CDC instead of fixed blocks.

    Production CDC adds min/max chunk-size clamps; those make boundary
    acceptance sequentially dependent (a boundary suppresses the next
    min-size worth), so this operator implements the stateless variant
    — every boundary decision is a pure function of its window, which
    keeps the whole chunker a per-row JVM array program (sequence →
    filter → transform → substr): no shuffle, no UDF, embarrassingly
    parallel.  (An incremental rolling hash instead of per-position
    re-hash is a mapPartitions micro-optimization the plan shape
    doesn't depend on.)  The only shuffles are the chunk-hash groupBy
    (fixed-width keys) and the per-doc rollup — the same topology as
    dedup_exact, linear in corpus size.

    Output per document: chunk count, chunks also present in ≥2 docs,
    duplicated chars, and the duplicated-char share."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id").filter(
        F.length("text") > 0
    )
    L = F.length("text")
    cand = F.when(
        L - CDC_W + 1 >= 2, F.sequence(F.lit(2), L - CDC_W + 1)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    hits = F.filter(
        cand,
        lambda i: hash32(F.col("text").substr(i, F.lit(CDC_W))) % CDC_DIV == 0,
    )
    starts = F.concat(F.array(F.lit(1)), hits)
    # Materialize the boundary array as a PROJECTED COLUMN before the
    # chunk transform: higher-order lambdas evaluate interpreted, so if
    # `starts` stayed an inline expression the element_at() inside the
    # lambda would recompute the whole L-window hash scan PER CHUNK —
    # O(L·chunks) md5s per row (measured 5.6 s at sf0.1; 1.6 s with
    # the bound attribute).  Three references below keep CollapseProject
    # from inlining it back.
    st = d.select("doc_id", "text", L.alias("len_chars"), starts.alias("starts"))
    sc = F.col("starts")
    n = F.size(sc)
    chunks = F.transform(
        sc,
        lambda s, j: F.col("text").substr(
            s,
            F.when(j < n - 1, F.element_at(sc, j + 2)).otherwise(
                F.col("len_chars") + 1
            )
            - s,
        ),
    )
    ch = st.select(
        "doc_id", "len_chars", F.explode(chunks).alias("c")
    ).select(
        "doc_id",
        "len_chars",
        F.md5("c").alias("h"),
        F.length("c").alias("clen"),
    )
    gstats = ch.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.col("nd") >= 2
    return (
        ch.join(gstats, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("clen")).otherwise(0))
            .cast("long")
            .alias("dup_chars"),
            F.max("len_chars").alias("len_chars"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            "dup_chars",
            F.round(F.col("dup_chars") / F.col("len_chars"), 6).alias("dup_share"),
        )
        .orderBy("doc_id")
    )


_DEDUP_CDC_SQL = f"""
WITH docs AS (
    SELECT doc_id, text, len(text) AS L FROM documents WHERE len(text) > 0
),
st AS (
    SELECT doc_id, text, L,
        list_concat([CAST(1 AS BIGINT)],
            CASE WHEN L - {CDC_W} + 1 >= 2 THEN
                list_filter(generate_series(CAST(2 AS BIGINT), CAST(L - {CDC_W - 1} AS BIGINT)),
                    i -> {sql_hash32(f"substring(text, CAST(i AS INTEGER), {CDC_W})")} % {CDC_DIV} = 0)
            ELSE CAST([] AS BIGINT[]) END) AS starts
    FROM docs
),
chunks AS (
    SELECT doc_id, L,
        unnest(list_transform(generate_series(1, len(starts)),
            j -> substring(text, CAST(starts[j] AS INTEGER),
                CAST((CASE WHEN j < len(starts) THEN starts[j + 1]
                      ELSE L + 1 END) - starts[j] AS INTEGER)))) AS c
    FROM st
),
ch AS (
    SELECT doc_id, L, md5(c) AS h, len(c) AS clen FROM chunks
),
g AS (
    SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h
)
SELECT doc_id,
    COUNT(*) AS n_chunks,
    CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
    CAST(SUM(CASE WHEN nd >= 2 THEN clen ELSE 0 END) AS BIGINT) AS dup_chars,
    ROUND(CAST(SUM(CASE WHEN nd >= 2 THEN clen ELSE 0 END) AS DOUBLE) / MAX(L), 6)
        AS dup_share
FROM ch JOIN g USING (h)
GROUP BY doc_id
ORDER BY doc_id
"""


# ------------------------------------------------- sorted neighborhood

SNM_KEY_LEN = 16  # sort-key prefix length
SNM_WINDOW = 3  # compare each record to its next W neighbors
SNM_MIN_CPL = 8  # emit pairs sharing at least this long a prefix
SNM_BLOCK_CHARS = 2  # distributed blocks = (lang, first chars of key)


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record-linkage blocking (Hernández/Stolfo):
    sort by a domain key (here the first {SNM_KEY_LEN} chars of text —
    boilerplate duplicates cluster under it), then compare each record
    only to its next {SNM_WINDOW} neighbors — O(n·w) candidate pairs
    where naive blocking on a hot key goes quadratic.  The third
    blocking style in the registry next to inverted-index
    (jaccard/minhash) and anchor blocking (fuzzy_levenshtein); SNM is
    what record-linkage uses when keys have TYPOS (neighbors in sort
    order still adjacent).

    Distributed form: windows run inside (lang, first
    {SNM_BLOCK_CHARS} key chars) blocks, so the sort is per-block, not
    global — the standard distributed-SNM trade: pairs straddling a
    block boundary are missed (production overlaps blocks by w; the
    loss is confined to key-prefix boundaries and stated here).
    Common-prefix length is a {SNM_KEY_LEN}-term integer sum of
    prefix-equality flags — exact in both engines."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        "doc_id",
        F.substring("text", 1, SNM_KEY_LEN).alias("k"),
    ).withColumn("blk", F.substring("k", 1, SNM_BLOCK_CHARS))
    w = W.partitionBy("lang", "blk").orderBy("k", "doc_id")
    pairs = []
    for j in range(1, SNM_WINDOW + 1):
        pairs.append(
            base.withColumn("k2", F.lead("k", j).over(w))
            .withColumn("doc_b", F.lead("doc_id", j).over(w))
            .filter(F.col("doc_b").isNotNull())
        )
    cand = pairs[0]
    for p in pairs[1:]:
        cand = cand.unionAll(p)
    cpl = sum(
        [
            F.when(
                F.substring("k", 1, i) == F.substring("k2", 1, i), 1
            ).otherwise(0)
            for i in range(1, SNM_KEY_LEN + 1)
        ],
        F.lit(0),
    )
    return (
        cand.withColumn("cpl", cpl.cast("long"))
        .filter(F.col("cpl") >= SNM_MIN_CPL)
        .select(
            F.least("doc_id", "doc_b").alias("doc_a"),
            F.greatest("doc_id", "doc_b").alias("doc_b"),
            "cpl",
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _snm_sql() -> str:
    cpl = " + ".join(
        f"CASE WHEN substr(k, 1, {i}) = substr(k2, 1, {i}) THEN 1 ELSE 0 END"
        for i in range(1, SNM_KEY_LEN + 1)
    )
    leads = "\nUNION ALL\n".join(
        f"""SELECT lang, doc_id, k,
        LEAD(k, {j}) OVER w{j} AS k2, LEAD(doc_id, {j}) OVER w{j} AS doc_b
    FROM base
    WINDOW w{j} AS (PARTITION BY lang, blk ORDER BY k, doc_id)"""
        for j in range(1, SNM_WINDOW + 1)
    )
    return f"""
WITH base AS (
    SELECT lang, doc_id, substr(text, 1, {SNM_KEY_LEN}) AS k,
        substr(text, 1, {SNM_BLOCK_CHARS}) AS blk
    FROM documents
),
cand AS (
    {leads}
),
scored AS (
    SELECT LEAST(doc_id, doc_b) AS doc_a,
        GREATEST(doc_id, doc_b) AS doc_b,
        CAST({cpl} AS BIGINT) AS cpl
    FROM cand WHERE doc_b IS NOT NULL
)
SELECT DISTINCT doc_a, doc_b, cpl
FROM scored
WHERE cpl >= {SNM_MIN_CPL}
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------- threshold sweep

SWEEP_THRESHOLDS_MICRO = (500_000, 600_000, 700_000, 800_000, 900_000)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sensitivity sweep — the table you read BEFORE
    committing a dedup threshold on a 100 TB corpus: for each
    candidate threshold, how many pairs fire and how many documents
    would drop (keep-first policy: a doc drops when it is the LATER
    member of any flagged pair).  One run answers "is 0.8 vs 0.7 a 2%
    or a 30% corpus-size decision?" — rerunning the full dedup per
    candidate is the naive alternative this replaces.

    Costs ONE intersection pass: reuses ``_inter_pair_stats``'s
    memoized pair table (the same materialized stage Jaccard,
    containment and the LSH recall eval consume), then a broadcast
    non-equi join against the {len(SWEEP_THRESHOLDS_MICRO)}-row
    threshold ladder (bounded ≤|ladder|× fan-out of the already-
    reduced pair table — never of the corpus).  Jaccard is compared
    in exact integer micro-units."""
    pairs = _inter_pair_stats(spark, sf_dir)
    jm = pairs.select(
        "doc_a",
        "doc_b",
        F.floor(
            F.lit(1_000_000)
            * F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .cast("long")
        .alias("jac_micro"),
    )
    ladder = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS_MICRO])
        ).alias("thr_micro")
    )
    hits = jm.join(F.broadcast(ladder), F.col("jac_micro") >= F.col("thr_micro"))
    return (
        hits.groupBy("thr_micro")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_dropped"),
            F.sum("jac_micro").alias("sum_jac_micro"),
        )
        .select(
            "thr_micro",
            "n_pairs",
            "n_docs_dropped",
            F.expr("sum_jac_micro div n_pairs").alias("mean_jac_micro"),
        )
        .orderBy("thr_micro")
    )


_SWEEP_SQL = f"""
WITH {_sql_capped_hash_ctes()},
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM hashes GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM hashes a JOIN hashes b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jm AS (
    SELECT doc_a, doc_b,
        CAST(FLOOR(1000000.0 * n_inter
                   / (sa.n_sh + sb.n_sh - n_inter)) AS BIGINT) AS jac_micro
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
),
ladder(thr_micro) AS (VALUES {", ".join(f"({t})" for t in SWEEP_THRESHOLDS_MICRO)})
SELECT CAST(l.thr_micro AS INTEGER) AS thr_micro,
    COUNT(*) AS n_pairs,
    CAST(COUNT(DISTINCT jm.doc_b) AS BIGINT) AS n_docs_dropped,
    CAST(SUM(jm.jac_micro) AS BIGINT) // COUNT(*) AS mean_jac_micro
FROM jm JOIN ladder l ON jm.jac_micro >= l.thr_micro
GROUP BY l.thr_micro
ORDER BY thr_micro
"""


# ---------------------------------------------------------------------------
# dedup_prefix_cluster — shared-opening boilerplate groups
# ---------------------------------------------------------------------------

PREFIX_K = 10  # tokens in the prefix key


def dedup_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-PREFIX duplicate groups: documents opening with the
    same first {PREFIX_K} tokens — the crawl pathology none of the
    whole-document sketches isolate (mirrored article headers, feed
    boilerplate openers, licence preambles): minhash sees the whole
    doc, paragraph dedup needs identical paragraphs; prefix grouping
    is the two-minute report that catches templated OPENINGS
    specifically. Per group: size, representative (min doc_id),
    whether the group crosses sources (cross-source prefix reuse =
    syndication, within-source = template).

    One hash groupBy on the prefix key (portable md5 — fixed-width
    shuffle exactly like dedup_exact); short docs key on their whole
    text. Only groups >1 survive.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens_col("text")
    prefix = F.array_join(
        F.slice(toks, 1, PREFIX_K), " "
    )
    keyed = d.select(
        "doc_id",
        "source",
        hash32(prefix).alias("pk"),
    )
    return (
        keyed.groupBy("pk")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("representative"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            "pk",
            "n_docs",
            "representative",
            F.col("n_sources").cast("long").alias("n_sources"),
            (F.col("n_sources") > 1).alias("cross_source"),
        )
        .orderBy(F.desc("n_docs"), F.asc("representative"))
    )


def _prefix_cluster_sql() -> str:
    toks = sql_tokens("text")
    prefix = f"array_to_string(({toks})[1:{PREFIX_K}], ' ')"
    return f"""
WITH keyed AS (
    SELECT doc_id, source, {sql_hash32(prefix)} AS pk
    FROM documents
)
SELECT pk, COUNT(*) AS n_docs, MIN(doc_id) AS representative,
       COUNT(DISTINCT source) AS n_sources,
       COUNT(DISTINCT source) > 1 AS cross_source
FROM keyed
GROUP BY pk
HAVING COUNT(*) > 1
ORDER BY n_docs DESC, representative ASC
"""


# ---------------------------------------------------------------------------
# dedup_fellegi_sunter_weights — record-linkage agreement weights
# ---------------------------------------------------------------------------

FS_LEN_BUCKET = 500  # n_chars quantization for the length field
FS_DERANGE_OFFSET = 37  # deterministic non-match pairing shift


def dedup_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record-linkage weights — the probabilistic
    foundation UNDER every blocking/threshold choice in this module:
    per comparison field, estimate m = P(agree | match) from the
    minhash near-dup pairs and u = P(agree | non-match) from a
    deterministic derangement pairing (doc at rank r vs rank
    r+{FS_DERANGE_OFFSET} mod N — an unbiased non-match sample
    without an all-pairs join; the rare true match inside it biases u
    upward negligibly and is the standard estimation shortcut). The
    log₂(m/u) agreement weight per field is what a linkage rule sums
    to score a candidate pair.

    m/u are exact integer micro-rates; the weight is one log₂ of
    their double ratio, rounded to 6dp. Match pairs reuse the SHARED
    memoized LSH candidate stage — no new pair enumeration.

    Scale: LSH pairs are banded equi-joins (inherited); the
    derangement needs a rank — computed over the doc_id-DENSE synth
    corpus as a plain offset join keyed on doc_id, no global window.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"n_chars div {FS_LEN_BUCKET}").alias("len_bucket"),
    )
    feats_a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("len_bucket").alias("len_a"),
    )
    feats_b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("len_bucket").alias("len_b"),
    )
    n_docs = d.count()
    matches = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(feats_a, "doc_a")
        .join(feats_b, "doc_b")
    )
    randoms = (
        d.select(
            F.col("doc_id").alias("doc_a"),
            ((F.col("doc_id") + FS_DERANGE_OFFSET) % n_docs).alias("doc_b"),
        )
        .join(feats_a, "doc_a")
        .join(feats_b, "doc_b")
    )

    def rates(pairs: DataFrame, kind: str) -> DataFrame:
        agg = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.when(F.col(f"{f}_a") == F.col(f"{f}_b"), 1).otherwise(0)
                )
                .cast("long")
                .alias(f"agree_{f}")
                for f in ("lang", "source", "len")
            ],
        )
        # unpivot the 1-row aggregate by exploding an inline struct
        # array (r13, guide §2.4): the former per-field select+union
        # replanned the whole pair pipeline ONCE PER FIELD — the plan
        # carried 15 document scans; now each kind's pairs aggregate
        # plans exactly once.
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f).alias("field"),
                            F.lit(kind).alias("kind"),
                            F.col("n").cast("long").alias("n_pairs"),
                            F.expr(f"(1000000 * agree_{f}) div n").alias(
                                "rate_micro"
                            ),
                        )
                        for f in ("lang", "source", "len")
                    ]
                )
            ).alias("r")
        ).select("r.*")

    m = rates(matches, "m").select(
        "field",
        F.col("n_pairs").alias("n_match_pairs"),
        F.col("rate_micro").alias("m_micro"),
    )
    u = rates(randoms, "u").select(
        "field",
        F.col("n_pairs").alias("n_random_pairs"),
        F.col("rate_micro").alias("u_micro"),
    )
    return (
        m.join(u, "field")
        .select(
            "field",
            "n_match_pairs",
            "n_random_pairs",
            "m_micro",
            "u_micro",
            F.when(
                (F.col("m_micro") > 0) & (F.col("u_micro") > 0),
                F.round(
                    F.log2(
                        F.col("m_micro").cast("double")
                        / F.col("u_micro").cast("double")
                    ),
                    6,
                ),
            ).alias("weight_log2"),
        )
        .orderBy("field")
    )


def _fellegi_sunter_sql() -> str:
    fields = ("lang", "source", "len")
    agree_cols = lambda: ",\n        ".join(  # noqa: E731
        f"CAST(SUM(CASE WHEN {f}_a = {f}_b THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS agree_{f}"
        for f in fields
    )
    m_rows = " UNION ALL ".join(
        f"SELECT '{f}' AS field, n AS n_match_pairs,"
        f" (1000000 * agree_{f}) // n AS m_micro FROM m_agg"
        for f in fields
    )
    u_rows = " UNION ALL ".join(
        f"SELECT '{f}' AS field, n AS n_random_pairs,"
        f" (1000000 * agree_{f}) // n AS u_micro FROM u_agg"
        for f in fields
    )
    return f"""
WITH {_sql_minhash_core()},
bands AS (
    SELECT doc_id, sig, i - 1 AS band_idx, ([{_BAND_EXPRS}])[i] AS band_sig
    FROM sigarr, generate_series(1, {N_BANDS}) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM cands
    WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
            i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {N_HASHES}
        >= {MINHASH_EST_THRESHOLD}
),
feats AS (
    SELECT doc_id, lang, source, n_chars // {FS_LEN_BUCKET} AS len_bucket
    FROM documents
),
m_pairs AS (
    SELECT fa.lang AS lang_a, fb.lang AS lang_b,
           fa.source AS source_a, fb.source AS source_b,
           fa.len_bucket AS len_a, fb.len_bucket AS len_b
    FROM pairs p
    JOIN feats fa ON fa.doc_id = p.doc_a
    JOIN feats fb ON fb.doc_id = p.doc_b
),
u_pairs AS (
    SELECT fa.lang AS lang_a, fb.lang AS lang_b,
           fa.source AS source_a, fb.source AS source_b,
           fa.len_bucket AS len_a, fb.len_bucket AS len_b
    FROM feats fa
    JOIN feats fb ON fb.doc_id =
        (fa.doc_id + {FS_DERANGE_OFFSET})
        % (SELECT COUNT(*) FROM documents)
),
m_agg AS (
    SELECT COUNT(*) AS n,
        {agree_cols()}
    FROM m_pairs
),
u_agg AS (
    SELECT COUNT(*) AS n,
        {agree_cols()}
    FROM u_pairs
),
m_r AS ({m_rows}),
u_r AS ({u_rows})
SELECT m_r.field, m_r.n_match_pairs, u_r.n_random_pairs,
       m_r.m_micro, u_r.u_micro,
       CASE WHEN m_r.m_micro > 0 AND u_r.u_micro > 0
            THEN ROUND(LOG2(CAST(m_r.m_micro AS DOUBLE)
                            / CAST(u_r.u_micro AS DOUBLE)), 6)
       END AS weight_log2
FROM m_r JOIN u_r ON u_r.field = m_r.field
ORDER BY m_r.field
"""


# ------------------------------------------------------------ b-bit minwise

BBIT_B = 2                    # bits kept per minhash slot
BBIT_MOD = 1 << BBIT_B        # low-bit bucket count (4)


def dedup_minhash_b_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & König 2010): store only the lowest
    b=2 bits of each of the 16 minhash slots — a 16×
    signature-memory reduction (64-bit slot → 2 bits), THE trick that
    makes sketch-resident dedup of a 100 TB corpus fit in RAM.  A
    b-bit slot match is partly luck (two random values collide with
    prob 1/2^b), so the Jaccard estimate unbiases the raw match rate:
    J ≈ (m/k − 1/2^b) / (1 − 1/2^b).

    Emits, per LSH candidate pair, the b-bit match count, the full-slot
    match count, and both estimators in exact integer micro-units —
    the b-bit column is what a production run would keep; the
    side-by-side full estimator quantifies the precision traded for
    the 16× memory cut.  Candidate generation reuses the SHARED
    materialized LSH candidate table (one band equi-join per run,
    never all-pairs).
    """
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    m_b = F.expr(
        f"size(filter(sequence(1, {N_HASHES}), i ->"
        f" element_at(sig_a, i) % {BBIT_MOD}"
        f" = element_at(sig_b, i) % {BBIT_MOD}))"
    ).cast("long")
    m_f = F.expr(
        f"size(filter(sequence(1, {N_HASHES}), i ->"
        " element_at(sig_a, i) = element_at(sig_b, i)))"
    ).cast("long")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            m_b.alias("m_bbit"),
            m_f.alias("m_full"),
        )
        .select(
            "doc_a",
            "doc_b",
            "m_bbit",
            "m_full",
            F.greatest(
                F.expr(
                    f"(1000000 * ({BBIT_MOD} * m_bbit - {N_HASHES}))"
                    f" div ({(BBIT_MOD - 1) * N_HASHES})"
                ),
                F.lit(0).cast("long"),
            ).alias("est_bbit_micro"),
            F.expr(f"(1000000 * m_full) div {N_HASHES}").alias(
                "est_full_micro"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


def _bbit_sql() -> str:
    return f"""
WITH {_sql_minhash_core()},
bands AS (
    SELECT doc_id, sig, i - 1 AS band_idx, ([{_BAND_EXPRS}])[i] AS band_sig
    FROM sigarr, generate_series(1, {N_BANDS}) t(i)
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS sig_a, b.sig AS sig_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        AND a.doc_id < b.doc_id
),
counted AS (
    SELECT doc_a, doc_b,
        CAST(len(list_filter(generate_series(1, {N_HASHES}),
            i -> sig_a[i] % {BBIT_MOD} = sig_b[i] % {BBIT_MOD}))
            AS BIGINT) AS m_bbit,
        CAST(len(list_filter(generate_series(1, {N_HASHES}),
            i -> sig_a[i] = sig_b[i])) AS BIGINT) AS m_full
    FROM cands
)
SELECT doc_a, doc_b, m_bbit, m_full,
    GREATEST((1000000 * ({BBIT_MOD} * m_bbit - {N_HASHES}))
        // {(BBIT_MOD - 1) * N_HASHES}, 0) AS est_bbit_micro,
    (1000000 * m_full) // {N_HASHES} AS est_full_micro
FROM counted
ORDER BY doc_a, doc_b
"""


QUERIES = {
    "dedup_fellegi_sunter_weights": dedup_fellegi_sunter_weights,
    "dedup_minhash_b_bit": dedup_minhash_b_bit,
    "dedup_prefix_cluster": dedup_prefix_cluster,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "dedup_sorted_neighborhood": dedup_sorted_neighborhood,
    "dedup_lsh_recall_eval": dedup_lsh_recall_eval,
    "dedup_cdc_chunking": dedup_cdc_chunking,
    "dedup_cluster_representative": dedup_cluster_representative,
    "dedup_clusters": dedup_clusters,
    "graph_pagerank": graph_pagerank,
    "dedup_fuzzy_levenshtein": dedup_fuzzy_levenshtein,
    "dedup_exact": dedup_exact,
    "dedup_exact_substring": dedup_exact_substring,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

ORACLES = {
    "dedup_fellegi_sunter_weights": _fellegi_sunter_sql(),
    "dedup_minhash_b_bit": _bbit_sql(),
    "dedup_prefix_cluster": _prefix_cluster_sql(),
    "dedup_threshold_sweep": _SWEEP_SQL,
    "dedup_sorted_neighborhood": _snm_sql(),
    "dedup_cluster_representative": _DEDUP_REP_SQL,
    "dedup_cdc_chunking": _DEDUP_CDC_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "graph_pagerank": _pagerank_sql(),
    "dedup_fuzzy_levenshtein": _DEDUP_FUZZY_SQL,
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_exact_substring": _DEDUP_SUBSTR_SQL,
    "dedup_lsh_recall_eval": _LSH_RECALL_SQL,
    "dedup_minhash_lsh": _DEDUP_MINHASH_SQL,
    "dedup_simhash": _DEDUP_SIMHASH_SQL,
    "dedup_ngram_jaccard": _DEDUP_JACCARD_SQL,
    "dedup_containment": _DEDUP_CONTAINMENT_SQL,
    "dedup_embedding_cosine": _DEDUP_COSINE_SQL,
}
