"""LLM training-data preparation operators (round 4, north-star).

The preparation stages that sit BETWEEN curation (pipeline_ops.py) and
the trainer, which the reference (a parquet row reader, reader.py:47-97)
has no notion of — plus the composed end-to-end funnel. Every operator
is a Catalyst-planned DataFrame pipeline with an exact DuckDB oracle:

- ``seq_pack_chunks``        : concat-and-chunk sequence packing into
                               fixed token-budget training sequences
- ``sample_mix_domains``     : target domain-mixture sampling (weighted
                               per-source quotas, deterministic)
- ``dedup_paragraph``        : segment-level exact dedup with first-seen
                               reconstruction accounting
- ``dedup_incremental_novelty``: incremental-crawl novelty check of an
                               incoming batch against an existing corpus
- ``embedding_quantize_int8``: max-abs int8 vector quantization with
                               integer checksums
- ``text_rarity_score``      : corpus-level unigram information-content
                               scoring (integer bit-length arithmetic)
- ``window_ewma_decay``      : per-user exponentially-decayed event
                               value (dyadic weights, 16-lag window)
- ``curation_pipeline_funnel``: the composed lang → quality → dedup →
                               decontam funnel with per-stage counts

Scale design (100 TB):

* ``seq_pack_chunks`` packs within (lang) shards so the running-offset
  window never needs a global single-partition sort — each shard is an
  independent prefix-sum. At 100 TB you add a hash shard key next to
  lang (pack within ``(lang, shard)``); the semantics per shard are
  unchanged and every shard windows in parallel.
* ``sample_mix_domains`` is a per-source ``row_number`` cap: one
  shuffle on ``source``, no global coordination; quotas derive from a
  memoized corpus count, not a runtime collect.
* ``dedup_paragraph`` / ``dedup_incremental_novelty`` are inverted-
  index equi-joins on segment/shingle hashes — the same
  never-all-pairs topology as the dedup family (dedup.py).
* ``embedding_quantize_int8`` / ``text_rarity_score`` /
  ``window_ewma_decay`` are embarrassingly parallel or single-shuffle
  window/agg shapes.
* ``curation_pipeline_funnel`` evaluates every stage predicate in ONE
  pass over the corpus (flags, then a single aggregate + stack) — the
  funnel costs one scan plus the dedup/decontam index joins, not one
  scan per stage.

All numeric outputs are exact integers, exact decimals, or doubles
produced by the identical IEEE expression in both engines (documented
per operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import count_table, fan_out, load, shared_stage
from parquet_batch_spark.functions.hashing import hash32, sql_hash32
from parquet_batch_spark.functions.text import (
    segments_col,
    shingles_col,
    sql_shingles,
    sql_tokens,
    tokens_col,
)

# ------------------------------------------------------------------
# seq_pack_chunks
# ------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per training sequence


def seq_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end
    in a deterministic shuffled order (portable hash of doc_id, then
    doc_id) within each ``lang`` shard, and the stream is cut into
    {PACK_BUDGET}-token training sequences; a document belongs to the
    sequence containing its first token. This is the standard
    pretraining packing layout (documents concatenated, chunked at the
    context length, boundary docs straddle).

    Output: one row per (lang, seq_id) with member count, token count
    and a member checksum.

    Scale: the running token offset is a window prefix-sum PARTITIONED
    BY lang — no global ordering, every shard packs in parallel. At
    100 TB, pack within (lang, hash-shard) instead: same window, more
    shards, identical per-shard semantics. One shuffle (the window
    partition), one aggregate on the already-co-located keys.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "lang")
    t = d.select(
        "doc_id",
        "lang",
        F.size(tokens_col("text")).cast("long").alias("n_tok"),
        hash32(F.col("doc_id").cast("string")).alias("hk"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    seq = t.withColumn("seq_id", F.floor(off / F.lit(PACK_BUDGET)).cast("long"))
    return (
        seq.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("seq_tokens"),
            F.sum("doc_id").alias("docs_checksum"),
        )
        .orderBy("lang", "seq_id")
    )


_SEQ_PACK_SQL = f"""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len({sql_tokens("text")}) AS BIGINT) AS n_tok,
           {sql_hash32("CAST(doc_id AS VARCHAR)")} AS hk
    FROM documents
),
o AS (
    SELECT lang, doc_id, n_tok,
           COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS off
    FROM t
)
SELECT lang, CAST(FLOOR(off / {PACK_BUDGET}.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS docs_checksum
FROM o
GROUP BY lang, seq_id
ORDER BY lang, seq_id
"""


# ------------------------------------------------------------------
# sample_mix_domains
# ------------------------------------------------------------------

# Per-source mixture weights: "curated" sources get 4x mass, "good" 2x,
# long-tail 1x. The quota for a source is its weight share of the
# target budget (one quarter of the corpus), in integer arithmetic so
# both engines compute identical caps at any scale factor.
MIX_HI = ("src0", "src1", "src2", "src3")  # weight 4
MIX_MID = ("src4", "src5", "src6", "src7", "src8", "src9")  # weight 2
MIX_W_SUM = 4 * len(MIX_HI) + 2 * len(MIX_MID) + 10  # + 10 tail sources x1


def _mix_weight_col() -> F.Column:
    return (
        F.when(F.col("source").isin(*MIX_HI), F.lit(4))
        .when(F.col("source").isin(*MIX_MID), F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
    )


def sample_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: allocate a global budget (corpus/4)
    across sources proportionally to fixed mixture weights, then take
    each source's quota deterministically by portable-hash rank. The
    stage every pretraining pipeline runs to stop one crawl domain from
    dominating the mix.

    Output: per source, the quota, how many documents were actually
    taken (min(quota, available)) and a checksum of the taken set.

    Scale: one shuffle (row_number partitioned by source); the quota is
    a closed-form integer expression of the memoized corpus count — no
    runtime collect, no global coordination. Skewed sources cost only
    their own partition's sort, bounded further at 100 TB by pre-
    filtering each source to ~quota candidates with a hash-threshold
    predicate before ranking (noted, not needed at bench scale).
    """
    n_total = count_table(spark, sf_dir, "documents")
    n_target = n_total // 4
    d = fan_out(load(spark, sf_dir, "documents"), spark, "source")
    ranked = d.select(
        "doc_id",
        "source",
        _mix_weight_col().alias("w"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                hash32(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rk"),
    ).withColumn(
        "quota", (F.col("w") * F.lit(n_target)) / F.lit(MIX_W_SUM)
    ).withColumn("quota", F.floor("quota").cast("long"))
    return (
        ranked.groupBy("source")
        .agg(
            F.max("w").alias("w"),
            F.max("quota").alias("quota"),
            F.sum(F.when(F.col("rk") <= F.col("quota"), 1).otherwise(0)).alias(
                "taken"
            ),
            F.sum(
                F.when(F.col("rk") <= F.col("quota"), F.col("doc_id")).otherwise(0)
            ).alias("taken_checksum"),
        )
        .orderBy("source")
    )


_MIX_CASE = (
    "CASE WHEN source IN ('src0','src1','src2','src3') THEN 4 "
    "WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 2 "
    "ELSE 1 END"
)

_MIX_SQL = f"""
WITH ranked AS (
    SELECT doc_id, source,
           CAST({_MIX_CASE} AS BIGINT) AS w,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {sql_hash32("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS rk,
           CAST(FLOOR(CAST({_MIX_CASE} AS BIGINT)
                * ((SELECT COUNT(*) FROM documents) // 4)
                / {MIX_W_SUM}.0) AS BIGINT) AS quota
    FROM documents
)
SELECT source, MAX(w) AS w, MAX(quota) AS quota,
       CAST(SUM(CASE WHEN rk <= quota THEN 1 ELSE 0 END) AS BIGINT) AS taken,
       CAST(SUM(CASE WHEN rk <= quota THEN doc_id ELSE 0 END) AS BIGINT)
           AS taken_checksum
FROM ranked
GROUP BY source
ORDER BY source
"""


# ------------------------------------------------------------------
# dedup_paragraph
# ------------------------------------------------------------------

SEG_TOKENS = 20  # segment ("paragraph") width in tokens


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup: each document is cut into consecutive
    {SEG_TOKENS}-token segments; a segment occurrence survives iff it is
    the globally first occurrence of its content (min (doc_id, pos)).
    Boilerplate paragraphs repeated across pages collapse to one copy
    while unique prose survives — the paragraph-dedup stage of C4-style
    pipelines. Output: per-document segment accounting.

    Scale: segmenting is linear in document length (``segments_col``
    tokenizes once per row; each segment is a slice of those tokens).
    Segments are an explode + first-seen ranking on the segment
    hash — one shuffle on the hash (window partition), one shuffle back
    to doc_id. Never pairs segments against each other; the window per
    hash value is the duplicate-cluster size, bounded by the same
    hot-content realities as dedup_exact (a pathological 10^6-copy
    boilerplate segment is one window partition — at 100 TB a
    pre-aggregated (hash → min_rank) two-step replaces the window;
    same topology as dedup.py's first-seen reductions).
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    segs = d.select(
        "doc_id",
        F.posexplode(segments_col(tokens_col("text"), SEG_TOKENS)).alias(
            "pos0", "seg"
        ),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        hash32(F.col("seg")).alias("seg_h"),
    )
    first = F.row_number().over(
        Window.partitionBy("seg_h").orderBy("doc_id", "pos")
    )
    flagged = segs.withColumn("keep", (first == 1).cast("int"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum("keep").alias("n_kept"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.lit(1.0) - F.col("n_kept") / F.col("n_segs"), 6),
        )
        .orderBy("doc_id")
    )


_PARA_SQL = f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
segs AS (
    SELECT doc_id, pos, {sql_hash32("seg")} AS seg_h
    FROM (
        SELECT doc_id,
               UNNEST(generate_series(
                   1, CAST(CEIL(len(tk) / {SEG_TOKENS}.0) AS INTEGER))) AS pos,
               UNNEST(list_transform(
                   generate_series(
                       1, CAST(CEIL(len(tk) / {SEG_TOKENS}.0) AS INTEGER)),
                   i -> array_to_string(
                       tk[(i-1)*{SEG_TOKENS}+1 : (i-1)*{SEG_TOKENS}+{SEG_TOKENS}],
                       ' '))) AS seg
        FROM toks
    )
),
flagged AS (
    SELECT doc_id,
           CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY seg_h ORDER BY doc_id, pos) = 1
           THEN 1 ELSE 0 END AS keep
    FROM segs
)
SELECT doc_id, COUNT(*) AS n_segs, CAST(SUM(keep) AS BIGINT) AS n_kept,
       ROUND(1.0 - SUM(keep) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


# ------------------------------------------------------------------
# dedup_incremental_novelty
# ------------------------------------------------------------------

NOVELTY_K = 5  # shingle width for the novelty index


def dedup_incremental_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl novelty: treat even doc_ids as the existing
    corpus and odd doc_ids as the incoming batch (the standing corpus /
    new crawl split every production pipeline maintains). Each incoming
    document is checked (a) for an exact content-hash collision with
    the existing corpus and (b) for {NOVELTY_K}-gram overlap — what
    fraction of its distinct shingles the existing corpus has already
    seen. Novel content scores near 1.0; re-crawls near 0.0.

    Scale: the exact check is a left-semi-shaped join on md5(text);
    the overlap check is an equi-join of incoming shingle hashes
    against the DISTINCT existing-shingle index — the decontamination
    topology (pipeline_ops.py): the index side is the smaller
    reduction, the incoming side streams once, never all-pairs.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    hashed = d.select(
        "doc_id", F.md5(F.col("text")).alias("txt_md5"), "text"
    )
    existing = hashed.filter(F.col("doc_id") % 2 == 0)
    incoming = hashed.filter(F.col("doc_id") % 2 == 1)

    exact = (
        incoming.join(
            existing.select(F.col("txt_md5").alias("e_md5")).distinct(),
            incoming.txt_md5 == F.col("e_md5"),
            "left",
        )
        .select(
            "doc_id", "text", (~F.isnull("e_md5")).cast("int").alias("is_exact_dup")
        )
    )

    # (doc, hash) reduced grain; the existing-index distinct AND the
    # incoming stream both consume grams — checkpoint so the corpus
    # tokenize+shingle runs once, not twice (r13, guide §2.4)
    grams = (
        hashed.select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_col(tokens_col("text"), NOVELTY_K))
            ).alias("g"),
        )
        .select("doc_id", hash32(F.col("g")).alias("h"))
        .localCheckpoint(eager=False)
    )
    seen_index = (
        grams.filter(F.col("doc_id") % 2 == 0).select("h").distinct()
    )
    inc_grams = grams.filter(F.col("doc_id") % 2 == 1)
    overlap = (
        inc_grams.join(
            F.broadcast(seen_index.withColumn("seen", F.lit(1))), "h", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias("n_seen_grams"),
        )
    )
    return (
        exact.select("doc_id", "is_exact_dup")
        .join(overlap, "doc_id")
        .select(
            "doc_id",
            "is_exact_dup",
            "n_grams",
            "n_seen_grams",
            F.round(
                F.lit(1.0) - F.col("n_seen_grams") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


_NOVELTY_SQL = f"""
WITH hashed AS (
    SELECT doc_id, md5(text) AS txt_md5, text FROM documents
),
exact AS (
    SELECT i.doc_id,
           CASE WHEN EXISTS (
               SELECT 1 FROM hashed e
               WHERE e.doc_id % 2 = 0 AND e.txt_md5 = i.txt_md5
           ) THEN 1 ELSE 0 END AS is_exact_dup
    FROM hashed i WHERE i.doc_id % 2 = 1
),
grams AS (
    SELECT doc_id, {sql_hash32("g")} AS h
    FROM (
        SELECT doc_id,
               UNNEST(list_distinct({sql_shingles(sql_tokens("text"), NOVELTY_K)}))
                   AS g
        FROM documents
    )
),
seen_index AS (
    SELECT DISTINCT h FROM grams WHERE doc_id % 2 = 0
),
overlap AS (
    SELECT g.doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_seen_grams
    FROM grams g LEFT JOIN seen_index s ON g.h = s.h
    WHERE g.doc_id % 2 = 1
    GROUP BY g.doc_id
)
SELECT e.doc_id, e.is_exact_dup, o.n_grams, o.n_seen_grams,
       ROUND(1.0 - o.n_seen_grams / CAST(o.n_grams AS DOUBLE), 6) AS novelty
FROM exact e JOIN overlap o ON e.doc_id = o.doc_id
ORDER BY e.doc_id
"""


# ------------------------------------------------------------------
# embedding_quantize_int8
# ------------------------------------------------------------------


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-abs int8 quantization of the embedding column — the storage
    layout ANN indexes and training shards actually persist (4 bytes →
    1 byte per dimension). code(x) = floor(x / maxabs * 127 + 0.5),
    clamp-free because |x| <= maxabs by construction. Output: integer
    checksums (sum, L1, saturation count) plus the rounded scale, so
    the full code vector is value-checked without array columns.

    Determinism: float→double widening is exact in both engines; the
    code expression is the identical IEEE double sequence (one divide,
    one multiply, one add, floor) evaluated per element, so codes are
    bit-identical cross-engine. All aggregates are integer.

    Scale: embarrassingly parallel (per-row transform, no shuffle
    before the output sort, which a real pipeline drops); at 100 TB
    this runs as a projection fused into whatever scan feeds it.
    """
    e = fan_out(load(spark, sf_dir, "embeddings"), spark, "vec_id")
    maxabs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x))
    ).cast("double")
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.when(
            maxabs > 0,
            F.floor(x.cast("double") / maxabs * F.lit(127.0) + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    zero = F.lit(0).cast("long")
    return (
        e.select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            F.aggregate(codes, zero, lambda a, x: a + x).alias("q_sum"),
            F.aggregate(codes, zero, lambda a, x: a + F.abs(x)).alias("q_l1"),
            F.aggregate(
                codes,
                zero,
                lambda a, x: a + (F.abs(x) == 127).cast("long"),
            ).alias("n_sat"),
            F.round(maxabs / F.lit(127.0), 6).alias("scale6"),
        )
        .orderBy("vec_id")
    )


_QUANT_SQL = """
WITH q AS (
    SELECT vec_id,
           len(embedding) AS n_dims,
           CAST(list_max(list_transform(embedding, y -> abs(y))) AS DOUBLE)
               AS maxabs,
           list_transform(embedding, x ->
               CASE WHEN CAST(list_max(list_transform(embedding, y -> abs(y)))
                          AS DOUBLE) > 0
               THEN CAST(FLOOR(CAST(x AS DOUBLE)
                    / CAST(list_max(list_transform(embedding, y -> abs(y)))
                           AS DOUBLE) * 127.0 + 0.5) AS BIGINT)
               ELSE 0 END) AS codes
    FROM embeddings
)
SELECT vec_id, CAST(n_dims AS INTEGER) AS n_dims,
       CAST(list_sum(codes) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS q_l1,
       CAST(list_sum(list_transform(codes,
            c -> CASE WHEN abs(c) = 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_sat,
       ROUND(maxabs / 127.0, 6) AS scale6
FROM q
ORDER BY vec_id
"""


# ------------------------------------------------------------------
# text_rarity_score
# ------------------------------------------------------------------


def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram information-content scoring — the cheap perplexity proxy
    used to rank documents by "surprisingness" before a real LM scores
    them. ic(word) = bitlen(N_docs) - bitlen(df(word)) ≈ log2(N/df),
    computed in EXACT integer arithmetic (bit length = length of the
    binary representation, ``bin()`` in both engines) so the score is
    bit-identical cross-engine with no transcendental functions.
    Common words score ~0 bits; rare words score high.

    Scale: one explode + aggregate builds the document-frequency table
    (shuffle on word), one equi-join streams tokens against it (the df
    side is vocabulary-sized — broadcast here; at web scale, a plain
    shuffled join on the word key), one aggregate back to doc_id.
    """
    n_docs = count_table(spark, sf_dir, "documents")
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    words = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("word")
    )
    df_tab = (
        words.distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "word",
            (
                F.length(F.bin(F.lit(int(n_docs))))
                - F.length(F.bin(F.col("df")))
            )
            .cast("long")
            .alias("ic"),
        )
    )
    return (
        words.join(F.broadcast(df_tab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("ic").alias("rarity_sum"),
        )
        .withColumn(
            "rarity_mean", F.round(F.col("rarity_sum") / F.col("n_tok"), 6)
        )
        .orderBy("doc_id")
    )


_RARITY_SQL = """
WITH words AS (
    SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents
),
df_tab AS (
    SELECT word,
           CAST(length(bin((SELECT COUNT(*) FROM documents)))
                - length(bin(COUNT(DISTINCT doc_id))) AS BIGINT) AS ic
    FROM words
    GROUP BY word
)
SELECT w.doc_id, COUNT(*) AS n_tok, CAST(SUM(d.ic) AS BIGINT) AS rarity_sum,
       ROUND(SUM(d.ic) / CAST(COUNT(*) AS DOUBLE), 6) AS rarity_mean
FROM words w JOIN df_tab d ON w.word = d.word
GROUP BY w.doc_id
ORDER BY w.doc_id
"""


# ------------------------------------------------------------------
# window_ewma_decay
# ------------------------------------------------------------------

EWMA_LAGS = 16  # decay horizon; weight of lag k is 2^-(k+?) — see below


def window_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-decayed event value: the monitoring
    primitive behind "recent activity" scores. Weight halves per step
    back; the window truncates at {EWMA_LAGS} lags (residual mass
    2^-16 ≈ 1.5e-5, below any reporting precision). Values are
    quantized to integer hundredths (floor(value*100) — identical IEEE
    multiply + floor in both engines) and the decayed sum is kept
    SCALED BY 2^{EWMA_LAGS-1} so every intermediate is an exact BIGINT:
    no float summation order anywhere. Output: each user's latest
    decayed score.

    Scale: one shuffle (window partition by user_id); the {EWMA_LAGS}
    lag() calls share a single window frame pass. Hot users cost their
    own partition sort only.
    """
    ev = fan_out(load(spark, sf_dir, "events"), spark, "user_id")
    v = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    decayed = None
    for k in range(EWMA_LAGS):
        lagged = v if k == 0 else F.coalesce(F.lag(v, k).over(w), F.lit(0).cast("long"))
        term = lagged * F.lit(1 << (EWMA_LAGS - 1 - k))
        decayed = term if decayed is None else decayed + term
    scored = ev.select(
        "user_id",
        "ts",
        "event_id",
        decayed.alias("ewma_scaled"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rk"),
    )
    scale = float((1 << (EWMA_LAGS - 1)) * 100)
    return (
        scored.filter(F.col("rk") == 1)
        .select(
            "user_id",
            "ewma_scaled",
            F.round(F.col("ewma_scaled") / F.lit(scale), 6).alias("ewma"),
        )
        .orderBy("user_id")
    )


def _ewma_terms_sql() -> str:
    terms = []
    for k in range(EWMA_LAGS):
        lag = "v" if k == 0 else f"LAG(v, {k}) OVER w"
        terms.append(f"COALESCE({lag}, 0) * {1 << (EWMA_LAGS - 1 - k)}")
    return " + ".join(terms)


_EWMA_SQL = f"""
WITH q AS (
    SELECT user_id, ts, event_id,
           CAST(FLOOR(value * 100.0) AS BIGINT) AS v
    FROM events
),
scored AS (
    SELECT user_id, ts, event_id,
           {_ewma_terms_sql()} AS ewma_scaled,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rk
    FROM q
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, ewma_scaled,
       ROUND(ewma_scaled / {float((1 << (EWMA_LAGS - 1)) * 100)!r}, 6) AS ewma
FROM scored WHERE rk = 1
ORDER BY user_id
"""


# ------------------------------------------------------------------
# curation_pipeline_funnel
# ------------------------------------------------------------------

FUNNEL_LANGS = ("en", "es", "de")
FUNNEL_MIN_TOK = 30
FUNNEL_BENCH_MOD = 97  # benchmark slice for the decontam stage
FUNNEL_K = 5


def curation_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end curation funnel — language filter →
    quality gate → exact dedup → benchmark decontamination — reported
    as per-stage survivor/dropped counts, the acceptance dashboard of
    every corpus build. Stages nest (a doc survives stage n only if it
    survived n-1), so the funnel is monotonic by construction.

    Stage predicates:
      1_lang     lang ∈ {FUNNEL_LANGS}
      2_quality  ≥{FUNNEL_MIN_TOK} tokens and mean word length in [3,8]
      3_dedup    first occurrence of md5(text) (min doc_id wins)
      4_decontam not in the benchmark slice (doc_id % {FUNNEL_BENCH_MOD}
                 == 0) and shares no {FUNNEL_K}-gram with it

    Scale: every scalar predicate is evaluated in ONE scan; dedup rank
    is a window on the content hash (duplicate-cluster-sized
    partitions); decontam is the broadcast benchmark-index semi-join
    from pipeline_ops.py. The final stack is a single-row aggregate
    unpivoted to 5 rows — funnel reporting costs one pass, not one
    pass per stage.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    base = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
    )
    mean_wl = (F.col("n_chars") - (F.col("n_tok") - 1)) / F.col("n_tok")
    flagged = base.select(
        "doc_id",
        "text",
        F.col("lang").isin(*FUNNEL_LANGS).alias("p_lang"),
        (
            (F.col("n_tok") >= FUNNEL_MIN_TOK)
            & (mean_wl >= 3.0)
            & (mean_wl <= 8.0)
        ).alias("p_quality"),
    )
    first = (
        F.row_number().over(
            Window.partitionBy(F.md5("text")).orderBy("doc_id")
        )
        == 1
    )
    flagged = flagged.withColumn("p_first", first)

    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_col(tokens_col("text"), FUNNEL_K))
        ).alias("g"),
    ).select("doc_id", hash32(F.col("g")).alias("h"))
    bench = (
        grams.filter(F.col("doc_id") % FUNNEL_BENCH_MOD == 0)
        .select("h")
        .distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") % FUNNEL_BENCH_MOD != 0)
        .join(F.broadcast(bench), "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(1))
    )
    flagged = (
        flagged.join(contaminated, "doc_id", "left")
        .withColumn(
            "p_clean",
            (F.col("doc_id") % FUNNEL_BENCH_MOD != 0)
            & F.isnull(F.col("contam")),
        )
    )

    s0 = F.count(F.lit(1))
    s1 = F.sum(F.col("p_lang").cast("long"))
    s2 = F.sum((F.col("p_lang") & F.col("p_quality")).cast("long"))
    s3 = F.sum(
        (F.col("p_lang") & F.col("p_quality") & F.col("p_first")).cast("long")
    )
    s4 = F.sum(
        (
            F.col("p_lang")
            & F.col("p_quality")
            & F.col("p_first")
            & F.col("p_clean")
        ).cast("long")
    )
    one = flagged.agg(
        s0.alias("s0"), s1.alias("s1"), s2.alias("s2"), s3.alias("s3"), s4.alias("s4")
    )
    return one.select(
        F.expr(
            "stack(5, '0_all', s0, CAST(0 AS BIGINT),"
            " '1_lang', s1, s0 - s1,"
            " '2_quality', s2, s1 - s2,"
            " '3_dedup', s3, s2 - s3,"
            " '4_decontam', s4, s3 - s4)"
            " AS (stage, survivors, dropped)"
        )
    ).orderBy("stage")


_FUNNEL_LANG_IN = ", ".join(f"'{l}'" for l in FUNNEL_LANGS)

_FUNNEL_SQL = f"""
WITH base AS (
    SELECT doc_id, lang, text,
           CAST(len({sql_tokens("text")}) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
),
grams AS (
    SELECT doc_id, {sql_hash32("g")} AS h
    FROM (
        SELECT doc_id,
               UNNEST(list_distinct({sql_shingles(sql_tokens("text"), FUNNEL_K)}))
                   AS g
        FROM documents
    )
),
bench AS (
    SELECT DISTINCT h FROM grams WHERE doc_id % {FUNNEL_BENCH_MOD} = 0
),
contaminated AS (
    SELECT DISTINCT g.doc_id
    FROM grams g JOIN bench b ON g.h = b.h
    WHERE g.doc_id % {FUNNEL_BENCH_MOD} <> 0
),
flagged AS (
    SELECT b.doc_id,
           (b.lang IN ({_FUNNEL_LANG_IN})) AS p_lang,
           (b.n_tok >= {FUNNEL_MIN_TOK}
            AND (b.n_chars - (b.n_tok - 1)) / CAST(b.n_tok AS DOUBLE) >= 3.0
            AND (b.n_chars - (b.n_tok - 1)) / CAST(b.n_tok AS DOUBLE) <= 8.0)
               AS p_quality,
           (ROW_NUMBER() OVER (PARTITION BY md5(b.text) ORDER BY b.doc_id) = 1)
               AS p_first,
           (b.doc_id % {FUNNEL_BENCH_MOD} <> 0
            AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)) AS p_clean
    FROM base b
),
one AS (
    SELECT COUNT(*) AS s0,
           CAST(SUM(CASE WHEN p_lang THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN p_lang AND p_quality THEN 1 ELSE 0 END)
                AS BIGINT) AS s2,
           CAST(SUM(CASE WHEN p_lang AND p_quality AND p_first
               THEN 1 ELSE 0 END) AS BIGINT) AS s3,
           CAST(SUM(CASE WHEN p_lang AND p_quality AND p_first AND p_clean
               THEN 1 ELSE 0 END) AS BIGINT) AS s4
    FROM flagged
)
SELECT stage, survivors, dropped FROM (
    SELECT '0_all' AS stage, s0 AS survivors, CAST(0 AS BIGINT) AS dropped
    FROM one
    UNION ALL SELECT '1_lang', s1, s0 - s1 FROM one
    UNION ALL SELECT '2_quality', s2, s1 - s2 FROM one
    UNION ALL SELECT '3_dedup', s3, s2 - s3 FROM one
    UNION ALL SELECT '4_decontam', s4, s3 - s4 FROM one
)
ORDER BY stage
"""


# ------------------------------------------------------------------
# sample_temperature_mixture
# ------------------------------------------------------------------

TEMP_Q = 1_000_000  # weight quantization (micro-units)


def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture — the multilingual sampling
    rule p(lang) ∝ n(lang)^τ that upweights low-resource languages
    relative to proportional sampling. τ = 0.5: the weight is √n,
    chosen deliberately because IEEE-754 sqrt is CORRECTLY ROUNDED in
    both engines (unlike pow(x, 0.7), which is implementation-defined
    in the last ulp) — quantized to integer micro-units, every quota
    is then exact integer arithmetic, bit-identical cross-engine.

    Everything derives in-query (per-lang counts → weights → quotas →
    hash-rank take): no driver-side constants, so the same plan serves
    any corpus. The Σ-weights total is a broadcast-scalar join (a
    5-row aggregate), the take is one row_number per lang partition.

    Scale: one shuffle for the per-lang counts (tiny reduction), one
    for the ranked take; the quota table is langs-sized and broadcast.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "lang")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_avail"))
    weights = counts.select(
        "lang",
        "n_avail",
        F.floor(F.sqrt(F.col("n_avail").cast("double")) * TEMP_Q)
        .cast("long")
        .alias("w_q"),
    )
    totals = weights.agg(
        F.sum("w_q").alias("w_total"), F.sum("n_avail").alias("n_total")
    )
    quotas = weights.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_avail",
        "w_q",
        F.floor((F.col("n_total") / 2).cast("long") * F.col("w_q") / F.col("w_total"))
        .cast("long")
        .alias("quota"),
    )
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                hash32(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rk"),
    )
    return (
        ranked.join(F.broadcast(quotas), "lang")
        .groupBy("lang")
        .agg(
            F.max("n_avail").alias("n_avail"),
            F.max("w_q").alias("w_q"),
            F.max("quota").alias("quota"),
            F.sum(F.when(F.col("rk") <= F.col("quota"), 1).otherwise(0)).alias(
                "taken"
            ),
            F.sum(
                F.when(F.col("rk") <= F.col("quota"), F.col("doc_id")).otherwise(0)
            ).alias("taken_checksum"),
        )
        .orderBy("lang")
    )


_TEMP_MIX_SQL = f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_avail FROM documents GROUP BY lang
),
weights AS (
    SELECT lang, n_avail,
           CAST(FLOOR(SQRT(CAST(n_avail AS DOUBLE)) * {TEMP_Q}) AS BIGINT) AS w_q
    FROM counts
),
quotas AS (
    SELECT lang, n_avail, w_q,
           CAST(FLOOR(CAST((SUM(n_avail) OVER ()) // 2 AS BIGINT) * w_q
                      / CAST(SUM(w_q) OVER () AS DOUBLE)) AS BIGINT) AS quota
    FROM weights
),
ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {sql_hash32("CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS rk
    FROM documents
)
SELECT r.lang, MAX(q.n_avail) AS n_avail, MAX(q.w_q) AS w_q,
       MAX(q.quota) AS quota,
       CAST(SUM(CASE WHEN r.rk <= q.quota THEN 1 ELSE 0 END) AS BIGINT) AS taken,
       CAST(SUM(CASE WHEN r.rk <= q.quota THEN r.doc_id ELSE 0 END) AS BIGINT)
           AS taken_checksum
FROM ranked r JOIN quotas q ON r.lang = q.lang
GROUP BY r.lang
ORDER BY r.lang
"""


# ------------------------------------------------------------------
# graph_degree_histogram
# ------------------------------------------------------------------

DEGREE_HOT_CAP = 256  # segments shared by more docs don't form edges


def segment_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, seg_h) incidence list of the capped segment index —
    the shared substrate under ``segment_edges`` and corpus_ops'
    Adamic-Adar scoring: distinct per-doc segments, hot segments
    (> {DEGREE_HOT_CAP} docs) removed so no key can go quadratic.
    Segmenting is linear in document length: ``segments_col``
    tokenizes each document once and slices the segments from it."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    segs = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(segments_col(tokens_col("text"), SEG_TOKENS))
        ).alias("seg"),
    ).select("doc_id", hash32(F.col("seg")).alias("seg_h"))
    hot = (
        segs.groupBy("seg_h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > DEGREE_HOT_CAP)
        .select("seg_h")
    )
    return segs.join(F.broadcast(hot), "seg_h", "left_anti")


@shared_stage("documents")
def segment_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected unique edges (a < b) of the segment-sharing graph —
    the capped inverted-index construction shared by
    ``graph_degree_histogram`` and the corpus_ops graph family."""
    cold = segment_incidence(spark, sf_dir)
    return (
        cold.join(
            cold.select(F.col("seg_h").alias("h2"), F.col("doc_id").alias("doc_b")),
            (F.col("seg_h") == F.col("h2")) & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("a"), F.col("doc_b").alias("b"))
        .distinct()
    )


# DuckDB CTE block (toks → … → edges) mirroring segment_edges; callers
# append their own downstream CTEs / SELECT.
SEGMENT_EDGES_CTE = f"""toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
segs AS (
    SELECT DISTINCT doc_id, {sql_hash32("seg")} AS seg_h
    FROM (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, CAST(CEIL(len(tk) / {SEG_TOKENS}.0) AS INTEGER)),
                   i -> array_to_string(
                       tk[(i-1)*{SEG_TOKENS}+1 : (i-1)*{SEG_TOKENS}+{SEG_TOKENS}],
                       ' ')))) AS seg
        FROM toks
    )
),
hot AS (
    SELECT seg_h FROM segs GROUP BY seg_h HAVING COUNT(*) > {DEGREE_HOT_CAP}
),
cold AS (
    SELECT * FROM segs WHERE seg_h NOT IN (SELECT seg_h FROM hot)
),
edges AS (
    SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b
    FROM cold s1 JOIN cold s2 ON s1.seg_h = s2.seg_h AND s1.doc_id < s2.doc_id
)"""


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the content-sharing graph: docs are
    vertices, an edge connects two docs sharing at least one
    {SEG_TOKENS}-token segment (the dedup_paragraph segmentation) —
    the first diagnostic every dedup run reports ("how clustered is
    my corpus?") and the input shape for graph_pagerank /
    dedup_clusters. Output: degree → number of documents, including
    the degree-0 mass.

    Scale: edges come from the inverted segment index (equi-join on
    segment hash), never all-pairs; segments hotter than
    {DEGREE_HOT_CAP} docs are dropped as edge generators (HAVING), so
    a boilerplate segment cannot create a quadratic edge set. Degree
    is a partial-aggregating count; the histogram is a second tiny
    aggregate.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    # r13: consume the SHARED memoized segment_edges table (the same
    # capped inverted-index derivation this op previously rebuilt
    # inline — 5 corpus scans in one plan).  degree(doc) = number of
    # distinct partners = count over both directions of the unique
    # a<b edge list, exactly the distinct (doc, partner) pairs the
    # inline self-join produced.
    e = segment_edges(spark, sf_dir)
    adj = e.select(F.col("a").alias("doc_id")).unionAll(
        e.select(F.col("b").alias("doc_id"))
    )
    partners = adj.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    all_docs = d.select("doc_id")
    return (
        all_docs.join(partners, "doc_id", "left")
        .select(F.coalesce("degree", F.lit(0).cast("long")).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


_DEGREE_SQL = f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
segs AS (
    SELECT DISTINCT doc_id, {sql_hash32("seg")} AS seg_h
    FROM (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, CAST(CEIL(len(tk) / {SEG_TOKENS}.0) AS INTEGER)),
                   i -> array_to_string(
                       tk[(i-1)*{SEG_TOKENS}+1 : (i-1)*{SEG_TOKENS}+{SEG_TOKENS}],
                       ' ')))) AS seg
        FROM toks
    )
),
hot AS (
    SELECT seg_h FROM segs GROUP BY seg_h HAVING COUNT(*) > {DEGREE_HOT_CAP}
),
cold AS (
    SELECT s.doc_id, s.seg_h
    FROM segs s LEFT JOIN hot h ON s.seg_h = h.seg_h
    WHERE h.seg_h IS NULL
),
partners AS (
    SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS degree
    FROM cold a JOIN cold b ON a.seg_h = b.seg_h AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id
),
deg AS (
    SELECT d.doc_id, COALESCE(p.degree, 0) AS degree
    FROM documents d LEFT JOIN partners p ON d.doc_id = p.doc_id
)
SELECT degree, COUNT(*) AS n_docs
FROM deg
GROUP BY degree
ORDER BY degree
"""


# ------------------------------------------------------------------
# sample_balanced_labels
# ------------------------------------------------------------------

BALANCE_CAP_FACTOR = 2  # cap = 2x the rarest class size


def sample_balanced_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced sampling over the labeled embeddings table: cap
    every label at {BALANCE_CAP_FACTOR}× the rarest class's size
    (deterministic hash-rank take) — the de-skewing stage before
    training a classifier on imbalanced data. The cap derives from the
    data in-query (min class count via a window over the tiny class-
    count table), no driver constants.

    Scale: one shuffle for class counts (tiny reduction), one for the
    per-label rank; identical topology to sample_temperature_mixture.
    """
    e = fan_out(load(spark, sf_dir, "embeddings"), spark, "label")
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_avail"))
    capped = counts.select(
        "label",
        "n_avail",
        (F.min("n_avail").over(Window.partitionBy()) * BALANCE_CAP_FACTOR)
        .cast("long")
        .alias("cap"),
    )
    ranked = e.select(
        "vec_id",
        "label",
        F.row_number()
        .over(
            Window.partitionBy("label").orderBy(
                hash32(F.col("vec_id").cast("string")), "vec_id"
            )
        )
        .alias("rk"),
    )
    return (
        ranked.join(F.broadcast(capped), "label")
        .groupBy("label")
        .agg(
            F.max("n_avail").alias("n_avail"),
            F.max("cap").alias("cap"),
            F.sum(F.when(F.col("rk") <= F.col("cap"), 1).otherwise(0)).alias(
                "taken"
            ),
            F.sum(
                F.when(F.col("rk") <= F.col("cap"), F.col("vec_id")).otherwise(0)
            ).alias("taken_checksum"),
        )
        .orderBy("label")
    )


_BALANCED_SQL = f"""
WITH counts AS (
    SELECT label, COUNT(*) AS n_avail FROM embeddings GROUP BY label
),
capped AS (
    SELECT label, n_avail,
           CAST(MIN(n_avail) OVER () * {BALANCE_CAP_FACTOR} AS BIGINT) AS cap
    FROM counts
),
ranked AS (
    SELECT vec_id, label,
           ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id
           ) AS rk
    FROM embeddings
)
SELECT r.label, MAX(c.n_avail) AS n_avail, MAX(c.cap) AS cap,
       CAST(SUM(CASE WHEN r.rk <= c.cap THEN 1 ELSE 0 END) AS BIGINT) AS taken,
       CAST(SUM(CASE WHEN r.rk <= c.cap THEN r.vec_id ELSE 0 END) AS BIGINT)
           AS taken_checksum
FROM ranked r JOIN capped c ON r.label = c.label
GROUP BY r.label
ORDER BY r.label
"""


SHARD_TOKENS = 4096


def seq_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard MANIFEST — the trainer-facing artifact the
    packing stage feeds: documents laid out in a deterministic order
    per ``lang`` shard key, cut into ~{SHARD_TOKENS}-token shards by
    token prefix sums (a doc belongs to the shard containing its
    first token), and summarized one row per shard: doc count, token
    mass, id range, and a content checksum the loader can verify
    against. This is what a 100 TB run hands to the data loader — the
    shard table IS the dataset from the trainer's point of view.

    Plan: one window per lang partition (prefix sum), one aggregation
    — same shape as ``seq_pack_chunks``; at 100 TB add a hash shard
    key to the window partition so no single lang sorts in one task.
    """
    from parquet_batch_spark.functions.hashing import hash32 as _h32

    d = load(spark, sf_dir, "documents")
    tok = ((F.col("n_chars") + 3) / 4).cast("bigint")
    base = d.select("lang", "doc_id", tok.alias("tok"))
    w = Window.partitionBy("lang").orderBy("doc_id")
    cum = F.sum("tok").over(w)
    shard = F.floor((cum - F.col("tok")) / SHARD_TOKENS).cast("bigint")
    return (
        base.withColumn("shard_id", shard)
        .groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum(_h32(F.col("doc_id").cast("string"))).alias("content_checksum"),
        )
        .orderBy("lang", "shard_id")
    )


def _shard_manifest_sql() -> str:
    khash = sql_hash32("CAST(doc_id AS VARCHAR)")
    return f"""
WITH base AS (
    SELECT lang, doc_id, CAST((n_chars + 3) // 4 AS BIGINT) AS tok
    FROM documents
),
cum AS (
    SELECT lang, doc_id, tok,
           SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
    FROM base
)
SELECT lang,
       CAST(FLOOR((cum_tok - tok) / {SHARD_TOKENS}) AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS shard_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(SUM({khash}) AS BIGINT) AS content_checksum
FROM cum
GROUP BY lang, shard_id
ORDER BY lang, shard_id
"""


# ---------------------------------------------------------------------------
# text_boilerplate_segments — cross-document repeated-segment report
# ---------------------------------------------------------------------------

BOILER_MIN_DOCS = 2  # a segment in ≥ this many docs counts as boilerplate
BOILER_TOP = 20


def text_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the {SEG_TOKENS}-token segments repeated
    across ≥{BOILER_MIN_DOCS} DISTINCT documents, ranked by document
    reach — headers, footers, license blurbs, navigation chrome; the
    stage a web pipeline runs BEFORE near-dup so boilerplate doesn't
    glue unrelated documents into one cluster (exactly why the
    dedup/graph family here caps hot segments — this op is that cap's
    diagnostic view). Top {BOILER_TOP} segments with doc reach and
    corpus coverage share in exact micro-units.

    Scale: segment explode → distinct (doc, segment) → count at
    segment grain — one shuffle on the segment hash; the top-k is a
    TakeOrdered over the reduced segment table.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    segs = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(segments_col(tokens_col("text"), SEG_TOKENS))
        ).alias("seg"),
    )
    n_docs = count_table(spark, sf_dir, "documents")
    return (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select(
            "seg",
            "n_docs",
            F.floor(F.lit(1000000.0) * F.col("n_docs") / F.lit(n_docs))
            .cast("long")
            .alias("reach_micro"),
        )
        .orderBy(F.desc("n_docs"), F.asc("seg"))
        .limit(BOILER_TOP)
    )


_BOILER_SQL = f"""
WITH segs AS (
    SELECT DISTINCT doc_id, seg
    FROM (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, CAST(CEIL(len(tk) / {SEG_TOKENS}.0) AS INTEGER)),
                   i -> array_to_string(
                       tk[(i-1)*{SEG_TOKENS}+1 : (i-1)*{SEG_TOKENS}+{SEG_TOKENS}],
                       ' ')))) AS seg
        FROM (SELECT doc_id, {sql_tokens("text")} AS tk FROM documents)
    )
)
SELECT seg, COUNT(DISTINCT doc_id) AS n_docs,
       CAST(FLOOR(1000000.0 * COUNT(DISTINCT doc_id)
            / (SELECT COUNT(*) FROM documents)) AS BIGINT) AS reach_micro
FROM segs
GROUP BY seg
HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
ORDER BY n_docs DESC, seg ASC
LIMIT {BOILER_TOP}
"""

# ---------------------------------------------------------------------------
# quality_source_gini — corpus concentration report
# ---------------------------------------------------------------------------


def quality_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is the corpus across sources? Gini coefficient
    of per-source character mass (0 = perfectly balanced, →1 = one
    source dominates) plus the top source's share — the one-row
    imbalance report a mixture-rebalancing stage (cf.
    ``sample_mix_domains``, ``sample_temperature_mixture``) is
    triggered by. Exact integer arithmetic end to end: the sorted-rank
    Gini formula G = (2·Σᵢ i·xᵢ − (n+1)·T) / (n·T) over the REDUCED
    per-source table (|sources| rows — the window sort is catalog-
    sized no matter the corpus; equal masses make rank order
    irrelevant since Σ i·x is tie-invariant).
    """
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.sum("n_chars").alias("mass"))
    ranked = per_src.select(
        "mass",
        F.row_number().over(W.orderBy("mass", "source")).alias("i"),
    )
    # rank x mass products reach |sources| x total_chars (~1e22 on a
    # 100 TB corpus) — sum in decimal and divide with exact integer
    # div (identical to the old double floor for the non-negative
    # Gini, with no 2^53 precision cliff), HUGEINT in the oracle.
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("mass").alias("total_chars"),
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("mass")).alias("sxi"),
        F.max("mass").alias("max_mass"),
    )
    return agg.select(
        "n_sources",
        F.col("total_chars").cast("long").alias("total_chars"),
        F.expr(
            "cast((1000000 * (2 * sxi"
            " - (n_sources + 1) * cast(total_chars as decimal(19,0))))"
            " div (n_sources * cast(total_chars as decimal(19,0)))"
            " as bigint)"
        ).alias("gini_micro"),
        F.expr(
            "cast((1000000 * cast(max_mass as decimal(19,0)))"
            " div total_chars as bigint)"
        ).alias("top_share_micro"),
    )


_SOURCE_GINI_SQL = """
WITH per_src AS (
    SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
    FROM documents GROUP BY source
),
ranked AS (
    SELECT mass, ROW_NUMBER() OVER (ORDER BY mass, source) AS i FROM per_src
)
SELECT COUNT(*) AS n_sources,
       CAST(SUM(mass) AS BIGINT) AS total_chars,
       CAST((1000000 * (2 * SUM(CAST(i AS HUGEINT) * mass)
             - (COUNT(*) + 1) * CAST(SUM(mass) AS HUGEINT)))
            // (COUNT(*) * CAST(SUM(mass) AS HUGEINT)) AS BIGINT)
           AS gini_micro,
       CAST((1000000 * CAST(MAX(mass) AS HUGEINT)) // SUM(mass) AS BIGINT)
           AS top_share_micro
FROM ranked
"""

# ---------------------------------------------------------------------------
# feature_hashing_vectorize — hashing-trick featurization
# ---------------------------------------------------------------------------

FH_BUCKETS = 1024  # hashing-trick dimensionality


def feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (the fixed-dimension, vocabularyless
    text vectorizer): every token maps to ``hash(token) mod
    {FH_BUCKETS}``, so feature extraction needs NO vocabulary build,
    no broadcast dictionary, and no second pass — the property that
    makes it the default featurizer at corpus scale. Output: the
    corpus-level bucket profile (per bucket: total token mass, docs
    touched, distinct tokens hashed in — the collision diagnostics
    that size the hash dimension).

    Scale: explode → hash → one aggregate at bucket grain (bounded at
    {FH_BUCKETS} rows out). The portable md5-based ``hash32`` keeps
    bucket ids engine-independent.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).select("doc_id", "tok", (hash32(F.col("tok")) % FH_BUCKETS).alias("bucket"))
    return (
        toks.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("token_mass"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("tok").alias("n_distinct_tokens"),
        )
        .orderBy("bucket")
    )


_FEAT_HASH_SQL = f"""
SELECT {sql_hash32("tok")} % {FH_BUCKETS} AS bucket,
       COUNT(*) AS token_mass,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(DISTINCT tok) AS n_distinct_tokens
FROM (SELECT doc_id, UNNEST({sql_tokens("text")}) AS tok FROM documents)
GROUP BY bucket
ORDER BY bucket
"""

# ---------------------------------------------------------------------------
# dedup_blocking_quality — pair completeness / reduction ratio
# ---------------------------------------------------------------------------

BQ_PREFIX_TOKENS = 5  # ground-truth proxy: docs sharing a 5-token prefix


def dedup_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation — the two standard entity-resolution
    metrics for any dedup candidate generator: PAIR COMPLETENESS
    (how many true duplicate pairs the blocking scheme catches) and
    REDUCTION RATIO (how far below all-pairs the candidate count
    stays). Ground truth: doc pairs sharing a {BQ_PREFIX_TOKENS}-token
    prefix (the deterministic near-dup proxy this corpus admits);
    candidates: the capped segment-sharing edges every graph/dedup op
    here blocks on. Both metrics in exact integer micro-units.

    This is the harness that justifies a blocking design at 100 TB:
    you never run it on the full corpus — you run it on a fixed
    evaluation slice (here: the whole test table) and ship the
    blocking scheme the numbers support. One inverted-index join per
    pair source; the intersection is an equi-join on the pair key.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    pref = d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, BQ_PREFIX_TOKENS)).alias("pref"),
    )
    true_pairs = (
        pref.join(
            pref.select(
                F.col("pref").alias("p2"), F.col("doc_id").alias("doc_b")
            ),
            (F.col("pref") == F.col("p2")) & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("a"), F.col("doc_b").alias("b"))
        .distinct()
    )
    cand = segment_edges(spark, sf_dir)
    caught = true_pairs.join(cand, ["a", "b"]).agg(
        F.count(F.lit(1)).alias("n_caught")
    )
    nt = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        nt.crossJoin(nc)
        .crossJoin(caught)
        .crossJoin(nd)
        .select(
            "n_true",
            "n_candidates",
            "n_caught",
            F.when(
                F.col("n_true") > 0,
                F.floor(F.lit(1000000.0) * F.col("n_caught") / F.col("n_true")),
            )
            .otherwise(F.lit(1000000))
            .cast("long")
            .alias("pair_completeness_micro"),
            F.floor(
                F.lit(1000000.0)
                * (
                    1
                    - F.col("n_candidates")
                    / (F.col("n") * (F.col("n") - 1) / 2)
                )
            )
            .cast("long")
            .alias("reduction_ratio_micro"),
        )
    )


def _blocking_quality_sql() -> str:
    return f"""WITH {SEGMENT_EDGES_CTE},
pref AS (
    SELECT doc_id,
           array_to_string(({sql_tokens("text")})[1:{BQ_PREFIX_TOKENS}], ' ') AS pref
    FROM documents
),
true_pairs AS (
    SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
    FROM pref p1 JOIN pref p2 ON p1.pref = p2.pref AND p1.doc_id < p2.doc_id
),
m AS (
    SELECT (SELECT COUNT(*) FROM true_pairs) AS n_true,
           (SELECT COUNT(*) FROM edges) AS n_candidates,
           (SELECT COUNT(*) FROM true_pairs t JOIN edges e
              ON t.a = e.a AND t.b = e.b) AS n_caught,
           (SELECT COUNT(*) FROM documents) AS n
)
SELECT n_true, n_candidates, n_caught,
       CAST(CASE WHEN n_true > 0
            THEN FLOOR(1000000.0 * n_caught / n_true) ELSE 1000000 END AS BIGINT)
           AS pair_completeness_micro,
       CAST(FLOOR(1000000.0 * (1 - n_candidates / (n * (n - 1) / 2)))
           AS BIGINT) AS reduction_ratio_micro
FROM m
"""

# ---------------------------------------------------------------------------
# sample_neyman_allocation — variance-optimal stratified sampling
# ---------------------------------------------------------------------------

NEYMAN_TOTAL = 100  # sample budget to allocate across strata


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-optimal) allocation of a {NEYMAN_TOTAL}-doc
    sample budget across language strata: n_h ∝ N_h·S_h, where S_h is
    the stratum's population standard deviation of n_chars — the
    allocation that minimizes estimator variance for a fixed budget
    (vs ``sample_stratified``'s proportional allocation). The moments
    are exact integer sums; S_h uses the one transcendental IEEE
    requires correctly rounded (sqrt — the ``sample_temperature_
    mixture`` precedent), then quantizes to integer micro-units so the
    cross-stratum normalization is pure integer arithmetic.

    Scale: one moment pass at stratum grain (|langs| rows), then a
    |langs|×|langs| scalar normalization — allocation is a catalog-
    sized computation no matter the corpus size.
    """
    d = load(spark, sf_dir, "documents").select("lang", "n_chars")
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)")
        ).alias("sxx"),
    )
    var = (
        F.col("n_h").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (F.col("n_h").cast("double") * F.col("n_h").cast("double"))
    sm = m.select(
        "lang",
        "n_h",
        F.floor(F.lit(1000000.0) * F.sqrt(var)).cast("long").alias("s_micro"),
    )
    tot = sm.agg(F.sum(F.col("n_h") * F.col("s_micro")).alias("denom"))
    return (
        sm.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_h",
            "s_micro",
            F.floor(
                F.lit(float(NEYMAN_TOTAL))
                * (F.col("n_h") * F.col("s_micro"))
                / F.col("denom")
            )
            .cast("long")
            .alias("n_alloc"),
        )
        .orderBy("lang")
    )


_NEYMAN_SQL = f"""
WITH m AS (
    SELECT lang, COUNT(*) AS n_h,
           SUM(CAST(n_chars AS DECIMAL(38,0))) AS sx,
           SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS sxx
    FROM documents GROUP BY lang
),
sm AS (
    SELECT lang, n_h,
           CAST(FLOOR(1000000.0 * SQRT(
               (CAST(n_h AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE)))) AS BIGINT)
               AS s_micro
    FROM m
),
tot AS (SELECT SUM(n_h * s_micro) AS denom FROM sm)
SELECT lang, n_h, s_micro,
       CAST(FLOOR({NEYMAN_TOTAL}.0 * (n_h * s_micro) / denom) AS BIGINT)
           AS n_alloc
FROM sm, tot
ORDER BY lang
"""


# Epoch-plan constants: the target training-token budget is expressed
# as a multiple of the corpus so the plan is scale-free, and the
# max-epoch guardrail encodes the data-constrained-scaling rule of
# thumb that value decays after ~4 repetitions of the same data
# (Muennighoff et al., "Scaling Data-Constrained Language Models").
EPOCH_BUDGET_X = 2  # target total tokens = 2x the whole corpus
EPOCH_MAX = 4  # repetition ceiling before a source is flagged
EPOCH_MIX_W = {"src0": 5, "src1": 3, "src2": 2}  # upweighted sources
EPOCH_W_DEFAULT = 1


def sample_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EPOCH plan: given a total training-token budget
    ({EPOCH_BUDGET_X}x the corpus) split across sources by fixed
    mixture weights, how many passes (epochs) over each source's
    tokens does the mix imply — and which sources exceed the
    {EPOCH_MAX}-epoch repetition ceiling where marginal value decays?
    This is the planning artifact a data-constrained pretraining run
    signs off before launch: target tokens, available tokens,
    milli-epochs (floor(1000·target/available)) and the over-budget
    flag per source.

    All integer arithmetic on exact token counts — the plan is
    bit-stable across engines, partitionings and reruns.

    Scale: one token-count reduce per source (map-side combined), then
    closed-form arithmetic on the ≤|sources| reduced rows.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "source")
    per_src = d.select(
        "source", F.size(tokens_col("text")).cast("long").alias("n_tok")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("avail_tokens"),
    )
    w = F.coalesce(
        *[
            F.when(F.col("source") == k, F.lit(v))
            for k, v in EPOCH_MIX_W.items()
        ],
        F.lit(EPOCH_W_DEFAULT),
    )
    tot = Window.partitionBy()
    weighted = per_src.select(
        "source",
        "n_docs",
        "avail_tokens",
        w.alias("mix_w"),
    ).select(
        "*",
        F.sum("avail_tokens").over(tot).alias("corpus_tokens"),
        F.sum("mix_w").over(tot).alias("w_sum"),
    )
    target = F.floor(
        F.lit(EPOCH_BUDGET_X) * F.col("corpus_tokens") * F.col("mix_w") / F.col("w_sum")
    ).cast("long")
    plan = weighted.select(
        "source",
        "n_docs",
        "avail_tokens",
        "mix_w",
        target.alias("target_tokens"),
    ).select(
        "*",
        F.floor(F.lit(1000) * F.col("target_tokens") / F.col("avail_tokens"))
        .cast("long")
        .alias("milli_epochs"),
    )
    return plan.select(
        "source",
        "n_docs",
        "avail_tokens",
        "mix_w",
        "target_tokens",
        "milli_epochs",
        (F.col("milli_epochs") > EPOCH_MAX * 1000).alias("over_repetition_cap"),
    ).orderBy("source")


_EPOCH_W_SQL = " ".join(
    f"WHEN source = '{k}' THEN {v}" for k, v in EPOCH_MIX_W.items()
)

_EPOCH_PLAN_SQL = f"""
WITH per_src AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len({sql_tokens("text")})) AS BIGINT) AS avail_tokens
    FROM documents GROUP BY source
),
weighted AS (
    SELECT source, n_docs, avail_tokens,
           CASE {_EPOCH_W_SQL} ELSE {EPOCH_W_DEFAULT} END AS mix_w,
           SUM(avail_tokens) OVER () AS corpus_tokens,
           SUM(CASE {_EPOCH_W_SQL} ELSE {EPOCH_W_DEFAULT} END) OVER () AS w_sum
    FROM per_src
),
plan AS (
    SELECT source, n_docs, avail_tokens, CAST(mix_w AS INTEGER) AS mix_w,
           CAST(FLOOR({EPOCH_BUDGET_X}.0 * corpus_tokens * mix_w / w_sum) AS BIGINT)
               AS target_tokens
    FROM weighted
)
SELECT source, n_docs, avail_tokens, mix_w, target_tokens,
       CAST(FLOOR(1000.0 * target_tokens / avail_tokens) AS BIGINT) AS milli_epochs,
       CAST(FLOOR(1000.0 * target_tokens / avail_tokens) AS BIGINT) > {EPOCH_MAX * 1000}
           AS over_repetition_cap
FROM plan
ORDER BY source
"""


# ------------------------------------------------------ DSIR selection

DSIR_B = 256  # hashed-feature buckets
DSIR_TARGET_MOD = 97  # doc_id % 97 == 0 -> the target ("benchmark-like") slice


def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score each raw document by how much more likely its hashed-unigram
    features are under the TARGET distribution than under the RAW
    corpus distribution.

    Features are tokens hashed into {DSIR_B} buckets (portable md5
    hash32 % {DSIR_B}); both bucket LMs use add-1 smoothing.  The
    per-bucket log-ratio Δ_b = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))
    is quantized to integer MICRO-units, so every per-doc score is an
    exact int64 dot product Σ_b c_b·Δ_b — AQE-reorder-proof and
    bit-identical to the oracle (the established ``round(ln·1e6)``
    discipline from stats_ops).

    Scale shape: ONE token pass builds both bucket LMs ({DSIR_B}-row
    reduced table, partial-aggregated map-side); Δ_b joins back as a
    broadcast; the per-doc rollup shuffles on (doc_id, b) then doc_id.
    No collect anywhere — the {DSIR_B}-row LM table stays distributed
    and broadcasts from the plan.  Selected = score strictly above the
    corpus MEAN (compared as score·N > Σscores in exact integer/decimal
    arithmetic — no float division; factors kept ≤ decimal(38) per the
    r5 silent-scale-drop gotcha), the top-half acceptance a DSIR
    resampling pass would feed its Gumbel top-k with.  An absolute
    score>0 cut is degenerate here: with a tiny target slice nearly
    every bucket is raw-dominated, so all scores go negative."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    tok = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("t")
    ).select(
        "doc_id",
        (hash32(F.col("t")) % DSIR_B).alias("b"),
        (F.col("doc_id") % DSIR_TARGET_MOD == 0).alias("is_t"),
    )
    # r13 (guide §2.4): reduce to (doc, bucket) grain ONCE and derive
    # everything from the checkpointed reduce — tok previously fed
    # buckets AND docb, buckets fed tot AND delta, and per_doc fed the
    # mean aggregate AND the output join, so the corpus tokenize+
    # explode planned SIX times in one query (is_t is functionally
    # dependent on doc_id, so the (doc, b) counts split t/r exactly).
    dbc = (
        tok.groupBy("doc_id", "b", "is_t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    buckets = (
        dbc.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(0)).alias("tb"),
            F.sum(F.when(~F.col("is_t"), F.col("c")).otherwise(0)).alias("rb"),
        )
        .localCheckpoint(eager=False)  # {DSIR_B}-row LM table, 2 consumers
    )
    tot = buckets.agg(F.sum("tb").alias("tt"), F.sum("rb").alias("rr"))
    dm = F.round(
        F.lit(1000000.0)
        * (
            F.log((F.col("tb") + 1).cast("double"))
            - F.log((F.col("tt") + DSIR_B).cast("double"))
            - F.log((F.col("rb") + 1).cast("double"))
            + F.log((F.col("rr") + DSIR_B).cast("double"))
        )
    ).cast("long")
    delta = buckets.crossJoin(F.broadcast(tot)).select("b", dm.alias("dm"))
    docb = dbc.filter(~F.col("is_t")).select("doc_id", "b", "c")
    per_doc = (
        docb.join(F.broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("dm")).cast("long").alias("dsir_micro"),
        )
        .localCheckpoint(eager=False)  # doc-grain; mean agg + join consume
    )
    g = per_doc.agg(
        F.count(F.lit(1)).cast("decimal(12,0)").alias("nd"),
        F.sum("dsir_micro").cast("decimal(25,0)").alias("tot"),
    )
    return (
        per_doc.crossJoin(F.broadcast(g))
        .withColumn(
            "selected",
            F.col("dsir_micro").cast("decimal(25,0)") * F.col("nd") > F.col("tot"),
        )
        .select("doc_id", "n_tokens", "dsir_micro", "selected")
        .orderBy("doc_id")
    )


_DSIR_SQL = f"""
WITH tok AS (
    SELECT doc_id, {sql_hash32("t")} % {DSIR_B} AS b,
        doc_id % {DSIR_TARGET_MOD} = 0 AS is_t
    FROM (SELECT doc_id, unnest({sql_tokens("text")}) AS t FROM documents)
),
buckets AS (
    SELECT b,
        SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tb,
        SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS rb
    FROM tok GROUP BY b
),
tot AS (SELECT SUM(tb) AS tt, SUM(rb) AS rr FROM buckets),
delta AS (
    SELECT b,
        CAST(ROUND(1000000.0 * (LN(CAST(tb + 1 AS DOUBLE))
            - LN(CAST(tt + {DSIR_B} AS DOUBLE))
            - LN(CAST(rb + 1 AS DOUBLE))
            + LN(CAST(rr + {DSIR_B} AS DOUBLE)))) AS BIGINT) AS dm
    FROM buckets, tot
),
docb AS (
    SELECT doc_id, b, COUNT(*) AS c FROM tok WHERE NOT is_t GROUP BY doc_id, b
),
docagg AS (
    SELECT doc_id,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(SUM(c * dm) AS BIGINT) AS dsir
    FROM docb JOIN delta USING (b)
    GROUP BY doc_id
),
g AS (SELECT COUNT(*) AS nd, SUM(dsir) AS tot FROM docagg)
SELECT doc_id, n_tokens, dsir AS dsir_micro,
    CAST(dsir AS HUGEINT) * nd > tot AS selected
FROM docagg, g
ORDER BY doc_id
"""


# --------------------------------------- weighted sampling w/o replacement

WSAMPLE_K = 100  # sample size


def sample_weighted_without_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement at corpus scale —
    Efraimidis–Spirakis A-ES: each item draws u ∈ (0,1] and exposes
    key = ln(u)/w; the sample is simply the top-{WSAMPLE_K} keys.
    This is THE distributed algorithm for the job: no sequential
    state, no rejection loop — any executor computes its items' keys
    independently and a top-K (tree-aggregated TakeOrdered, never a
    full sort at 100 TB) finishes it.  Inclusion probabilities are
    exactly the sequential weighted draw's (Efraimidis & Spirakis
    2006).

    u is the portable hash of doc_id mapped to (0,1] — (h+1)/2³²,
    exact in double since 2³² is a power of two — so the "random"
    draw is reproducible across engines and runs; w = n_chars.  Keys
    are quantized to integer NANO-units from identical doubles (ln of
    an exact dyadic rational; division by an exact integer), so the
    selected set and its order hash-match the oracle."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (hash32(F.col("doc_id").cast("string")) + 1) / F.lit(4294967296.0)
    key_micro = F.round(
        F.lit(1e9) * F.log(u) / F.col("n_chars").cast("double")
    ).cast("long")
    return (
        d.select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            key_micro.alias("key_nano"),
        )
        .orderBy(F.col("key_nano").desc(), "doc_id")
        .limit(WSAMPLE_K)
    )


_WSAMPLE_SQL = f"""
SELECT doc_id, n_chars AS weight,
    CAST(ROUND(1000000000.0
        * LN(({sql_hash32("CAST(doc_id AS VARCHAR)")} + 1) / 4294967296.0)
        / CAST(n_chars AS DOUBLE)) AS BIGINT) AS key_nano
FROM documents
WHERE n_chars > 0
ORDER BY key_nano DESC, doc_id
LIMIT {WSAMPLE_K}
"""


# ------------------------------------------------- negative sampling

NEG_VOCAB = 200  # table covers the top-V corpus words


def sample_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec/contrastive-training negative-sampling table: the
    top-{NEG_VOCAB} vocabulary with unigram^(3/4) sampling weights and
    the cumulative ranges a trainer's alias/binary-search sampler
    consumes.  The 3/4 power is THE published word2vec smoothing; it
    is computed as ``sqrt(c · sqrt(c))`` — two correctly-rounded IEEE
    sqrts and one multiply, the same determinism argument as
    ``sample_temperature_mixture``'s sqrt (a ``pow(c, 0.75)`` call
    would NOT be cross-engine reproducible; this identity is why 3/4
    specifically is safe).  Weights quantize to integer micro-units
    before the cumulative sum, so ranges are exact int64.

    Scale: vocabulary count-reduce (partial-agg), top-V by
    (count, word) = one TakeOrdered, then the cumulative window runs
    over the {NEG_VOCAB}-row REDUCED rank table (whitelisted global
    window — bounded by V, never the corpus)."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    counts = (
        d.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(NEG_VOCAB)
    )
    wmic = F.floor(
        F.lit(1_000_000.0) * F.sqrt(F.col("c") * F.sqrt(F.col("c")))
    ).cast("long")
    staged = counts.select("w", "c", wmic.alias("w_micro"))
    cum = F.sum("w_micro").over(
        Window.orderBy(F.desc("c"), F.asc("w")).rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    tot = F.sum("w_micro").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        staged.select(
            "w",
            "c",
            "w_micro",
            (cum - F.col("w_micro")).alias("cum_start"),
            cum.alias("cum_end"),
            tot.alias("total_micro"),
        )
        .withColumn("p_micro", F.expr("(1000000 * w_micro) div total_micro"))
        .orderBy("cum_start")
    )


_NEG_SAMPLING_SQL = f"""
WITH counts AS (
    SELECT w, COUNT(*) AS c
    FROM (SELECT UNNEST({sql_tokens("text")}) AS w FROM documents)
    GROUP BY w
    ORDER BY c DESC, w ASC
    LIMIT {NEG_VOCAB}
),
staged AS (
    SELECT w, c,
        CAST(FLOOR(1000000.0 * SQRT(c * SQRT(c))) AS BIGINT) AS w_micro
    FROM counts
),
cums AS (
    SELECT w, c, w_micro,
        CAST(SUM(w_micro) OVER (ORDER BY c DESC, w ASC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
        CAST(SUM(w_micro) OVER () AS BIGINT) AS total_micro
    FROM staged
)
SELECT w, c, w_micro,
    cum_end - w_micro AS cum_start,
    cum_end,
    total_micro,
    (1000000 * w_micro) // total_micro AS p_micro
FROM cums
ORDER BY cum_start
"""


# ------------------------------------------------------------------
# sample_doremi_proxy_weights — DoReMi-style domain reweighting
# ------------------------------------------------------------------

DOREMI_ETA_MICRO = 2          # MW step: w *= (1 + eta * excess), eta = 2
DOREMI_SMOOTH_MICRO = 100_000  # uniform smoothing mass c = 0.1


def sample_doremi_proxy_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023): run a proxy
    model, compute each domain's EXCESS loss over a reference, and
    update the sampling weights multiplicatively — domains the proxy
    finds hard (relative to reference) get upweighted for the big run.

    One multiplicative-weights round, linearized so it is EXACT
    integer arithmetic end-to-end: w' = w * (1e6 + eta * excess_micro)
    div 1e6 (the first-order expansion of exp(eta*excess) — libm exp
    is not correctly rounded so the exponential form cannot be made
    bit-identical cross-engine; the linearized MW update is a standard
    variant and keeps every weight an integer).  The proxy loss here
    is mean chars-per-token in micro-units — the documented PLUG POINT
    where a real proxy-model loss column lands; the pipeline shape
    (per-domain partial aggregate → scalar reference → MW update →
    smoothed normalization) is exactly what a 100 TB DoReMi pass runs.

    Scale: one partial-agg shuffle to ~|domains| rows, then scalar
    algebra on the broadcast reference — no second corpus pass.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "source")
    per_dom = (
        d.select(
            "source",
            "n_chars",
            F.greatest(F.size(tokens_col("text")), F.lit(1))
            .cast("long")
            .alias("n_tok"),
        )
        .select(
            "source",
            F.expr("(1000000 * n_chars) div n_tok").alias("loss_micro"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("loss_micro").alias("loss_sum"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("loss_sum div n_docs").alias("loss_micro"),
            "loss_sum",
        )
    )
    ref = per_dom.agg(
        F.sum("loss_sum").alias("ls"),
        F.sum("n_docs").alias("nd"),
        F.count(F.lit(1)).alias("k"),
    ).select(F.expr("ls div nd").alias("ref_micro"), "k")
    upd = per_dom.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_docs",
        "loss_micro",
        "ref_micro",
        F.greatest(F.col("loss_micro") - F.col("ref_micro"), F.lit(0))
        .cast("long")
        .alias("excess_micro"),
        "k",
    )
    upd = upd.select(
        "source",
        "n_docs",
        "loss_micro",
        "ref_micro",
        "excess_micro",
        "k",
        F.expr(
            f"(1000000 * (1000000 + {DOREMI_ETA_MICRO} * excess_micro))"
            " div 1000000"
        ).alias("w_upd"),
    )
    tot = Window.partitionBy()
    return upd.select(
        "source",
        "n_docs",
        "loss_micro",
        "excess_micro",
        F.expr(
            f"(({1_000_000 - DOREMI_SMOOTH_MICRO} * w_upd)"
            " div sum(w_upd) over ())"
            f" + ({DOREMI_SMOOTH_MICRO} div k)"
        ).alias("alpha_micro"),
    ).orderBy("source")


_DOREMI_SQL = f"""
WITH per_dom AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM((1000000 * n_chars) // GREATEST(
            len(string_split_regex(trim(text), '\\s+')), 1)) AS BIGINT)
            AS loss_sum
    FROM documents GROUP BY source
),
ref AS (
    SELECT CAST(SUM(loss_sum) AS BIGINT) // CAST(SUM(n_docs) AS BIGINT)
               AS ref_micro,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM per_dom
),
upd AS (
    SELECT p.source, p.n_docs, p.loss_sum // p.n_docs AS loss_micro,
           GREATEST(p.loss_sum // p.n_docs - r.ref_micro, 0)
               AS excess_micro,
           r.k
    FROM per_dom p CROSS JOIN ref r
),
w AS (
    SELECT *,
        (1000000 * (1000000 + {DOREMI_ETA_MICRO} * excess_micro)) // 1000000
            AS w_upd
    FROM upd
)
SELECT source, n_docs, loss_micro, excess_micro,
    (({1_000_000 - DOREMI_SMOOTH_MICRO} * w_upd)
        // CAST(SUM(w_upd) OVER () AS BIGINT))
        + ({DOREMI_SMOOTH_MICRO} // k) AS alpha_micro
FROM w
ORDER BY source
"""


# ------------------------------------------------------------------
# sample_rho_loss_selection — reducible-holdout-loss data selection
# ------------------------------------------------------------------

RHO_HOLDOUT_MOD = 5  # every 5th doc (portable hash) is the holdout split


def sample_rho_loss_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss data selection (Mindermann et al. 2022): keep examples
    with high REDUCIBLE loss — training loss minus the irreducible
    loss a holdout-trained model assigns — which filters out both the
    already-learned (low train loss) and the unlearnable noise (high
    loss everywhere).  The batch-selection recipe for 100 TB corpora
    where you can afford one proxy-scoring pass but not an epoch of
    everything.

    Mechanics, all exact integers: a deterministic portable-hash
    holdout split (hash(doc_id) % 5 == 0), per-lang
    irreducible baselines = holdout mean loss (truncating div), and
    reducible = train_loss − baseline(lang) via a broadcast join of
    the |langs|-row baseline table.  The loss column (chars-per-token
    micro) is the documented plug point for real proxy/holdout model
    losses.  Selection rule: reducible > 0.  Output: per source —
    doc counts, selected counts/share, mean reducible among selected.

    Scale: one corpus pass to score, one |langs|-row reduce +
    broadcast, one per-source aggregate.  No global sort; the
    threshold is a per-lang scalar, not a corpus percentile.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "source")
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.greatest(F.size(tokens_col("text")), F.lit(1))
        .cast("long")
        .alias("n_tok"),
        (hash32(F.col("doc_id").cast("string")) % RHO_HOLDOUT_MOD).alias(
            "fold"
        ),
    ).select(
        "doc_id",
        "source",
        "lang",
        "fold",
        F.expr("(1000000 * n_chars) div n_tok").alias("loss_micro"),
    )
    baseline = (
        scored.filter(F.col("fold") == 0)
        .groupBy("lang")
        .agg(
            F.sum("loss_micro").alias("ls"),
            F.count(F.lit(1)).alias("nh"),
        )
        .select("lang", F.expr("ls div nh").alias("baseline_micro"))
    )
    train = scored.filter(F.col("fold") != 0).join(
        F.broadcast(baseline), "lang"
    )
    red = train.select(
        "source",
        (F.col("loss_micro") - F.col("baseline_micro")).alias(
            "reducible_micro"
        ),
    )
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum((F.col("reducible_micro") > 0).cast("long")).alias(
                "n_selected"
            ),
            F.sum(
                F.when(
                    F.col("reducible_micro") > 0, F.col("reducible_micro")
                ).otherwise(F.lit(0))
            ).alias("red_sum"),
        )
        .select(
            "source",
            "n_train_docs",
            "n_selected",
            F.expr(
                "(1000000 * n_selected) div n_train_docs"
            ).alias("selected_share_micro"),
            F.expr(
                "case when n_selected > 0 then red_sum div n_selected"
                " else 0 end"
            ).alias("mean_selected_reducible_micro"),
        )
        .orderBy("source")
    )


_RHO_SQL = f"""
WITH scored AS (
    SELECT doc_id, source, lang,
        {sql_hash32("CAST(doc_id AS VARCHAR)")} % {RHO_HOLDOUT_MOD} AS fold,
        (1000000 * n_chars) // GREATEST(
            len(string_split_regex(trim(text), '\\s+')), 1) AS loss_micro
    FROM documents
),
baseline AS (
    SELECT lang,
        CAST(SUM(loss_micro) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
            AS baseline_micro
    FROM scored WHERE fold = 0 GROUP BY lang
),
red AS (
    SELECT s.source, s.loss_micro - b.baseline_micro AS reducible_micro
    FROM scored s JOIN baseline b ON s.lang = b.lang
    WHERE s.fold <> 0
)
SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_train_docs,
    CAST(SUM(CASE WHEN reducible_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_selected,
    (1000000 * CAST(SUM(CASE WHEN reducible_micro > 0 THEN 1 ELSE 0 END)
        AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS selected_share_micro,
    CASE WHEN SUM(CASE WHEN reducible_micro > 0 THEN 1 ELSE 0 END) > 0
         THEN CAST(SUM(CASE WHEN reducible_micro > 0
                   THEN reducible_micro ELSE 0 END) AS BIGINT)
              // CAST(SUM(CASE WHEN reducible_micro > 0 THEN 1 ELSE 0 END)
                   AS BIGINT)
         ELSE 0 END AS mean_selected_reducible_micro
FROM red
GROUP BY source
ORDER BY source
"""


# ------------------------------------------------------------------
# seq_curriculum_order — difficulty curriculum with source interleave
# ------------------------------------------------------------------

CURRICULUM_TAKE = 50


def seq_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: rank documents easiest-first WITHIN each
    source, then interleave the sources round-robin so early training
    sees every domain (a difficulty-sorted corpus that frontloads one
    domain is the classic curriculum failure mode).  Emits the first
    {CURRICULUM_TAKE} curriculum positions.

    The interleave is ARITHMETIC, not a global sort: source 'srcN'
    carries its index N in the name, so
    position = (rank_within_source - 1) * n_sources + src_idx — a
    per-source window plus map-side math.  No global window ever
    touches the corpus; the final top-k is an orderBy().limit()
    (TakeOrderedAndProject).  Difficulty = mean chars-per-token in
    integer micro-units (ties → doc_id), the same plug point as the
    DoReMi proxy loss.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "source")
    src_idx = F.expr("CAST(substring(source, 4) AS BIGINT)")
    base = d.select(
        "doc_id",
        "source",
        src_idx.alias("src_idx"),
        "n_chars",
        F.greatest(F.size(tokens_col("text")), F.lit(1))
        .cast("long")
        .alias("n_tok"),
    ).select(
        "doc_id",
        "source",
        "src_idx",
        F.expr("(1000000 * n_chars) div n_tok").alias("difficulty_micro"),
    )
    n_src = base.agg(
        (F.max("src_idx") + 1).cast("long").alias("n_sources")
    )
    w = Window.partitionBy("source").orderBy(
        "difficulty_micro", "doc_id"
    )
    ranked = base.select(
        "doc_id",
        "source",
        "src_idx",
        "difficulty_micro",
        (F.row_number().over(w) - 1).cast("long").alias("rank_in_source"),
    )
    return (
        ranked.crossJoin(F.broadcast(n_src))
        .select(
            (F.col("rank_in_source") * F.col("n_sources") + F.col("src_idx"))
            .alias("position"),
            "doc_id",
            "source",
            "difficulty_micro",
            "rank_in_source",
        )
        .orderBy("position")
        .limit(CURRICULUM_TAKE)
    )


_CURRICULUM_SQL = f"""
WITH base AS (
    SELECT doc_id, source,
        CAST(substring(source, 4) AS BIGINT) AS src_idx,
        (1000000 * n_chars) // GREATEST(
            len(string_split_regex(trim(text), '\\s+')), 1)
            AS difficulty_micro
    FROM documents
),
n_src AS (
    SELECT CAST(MAX(src_idx) + 1 AS BIGINT) AS n_sources FROM base
),
ranked AS (
    SELECT doc_id, source, src_idx, difficulty_micro,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY difficulty_micro, doc_id) - 1 AS BIGINT)
            AS rank_in_source
    FROM base
)
SELECT r.rank_in_source * s.n_sources + r.src_idx AS position,
       r.doc_id, r.source, r.difficulty_micro, r.rank_in_source
FROM ranked r CROSS JOIN n_src s
ORDER BY position
LIMIT {CURRICULUM_TAKE}
"""


# ------------------------------------------------------------------
# sample_dataset_cartography — confidence/variability training map
# ------------------------------------------------------------------

CARTO_EPOCHS = 5
CARTO_CONF_HI = 700_000   # mean confidence above → candidate "easy"
CARTO_VAR_HI = 150_000    # variability above → "ambiguous"


def sample_dataset_cartography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset cartography (Swayamdipta et al. 2020): map every
    training example by (mean confidence, variability) across epochs —
    'easy' examples are learned immediately, 'hard' ones never, and
    the 'ambiguous' band in between is where the training signal
    lives (and what you keep when subsampling a 100 TB corpus).

    The per-epoch confidences here are a deterministic portable-hash
    synthesis seeded by (doc_id, epoch) plus a doc-quality base — the
    documented PLUG POINT where real per-epoch model confidences land
    (the real artifact is a (doc_id, epoch, confidence) table logged
    during proxy training).  Everything downstream of that column is
    the real pipeline: per-example moment aggregation, exact-integer
    mean/variance, region bucketing, per-region corpus shares.

    Scale: the {CARTO_EPOCHS} epoch terms are INLINE map-side
    expressions (no explode, no per-example shuffle); the only
    shuffle is the final ~3-row region aggregate.  Variance uses the
    integer sum-of-squares identity; the sqrt is one correctly-rounded
    double op, floored to micro-units — bit-identical cross-engine.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    base_half = F.expr("least(1000000, (1000000 * n_chars) div 3000) div 2")
    confs = []
    for e in range(1, CARTO_EPOCHS + 1):
        h = hash32(F.concat_ws(":", F.lit(f"carto{e}"), F.col("doc_id")))
        # epoch confidence in micro: half base quality + half hash noise
        confs.append((base_half + (h % 500_001)).cast("long"))
    s1 = confs[0]
    s2 = confs[0] * confs[0]
    for c in confs[1:]:
        s1 = s1 + c
        s2 = s2 + c * c
    n = F.lit(CARTO_EPOCHS).cast("long")
    mean = F.expr(f"s1 div {CARTO_EPOCHS}")
    staged = d.select(
        "doc_id", s1.alias("s1"), s2.alias("s2")
    ).select(
        "doc_id",
        mean.alias("mean_micro"),
        # population variance * E^2 stays integer: E*s2 - s1^2
        (n * F.col("s2") - F.col("s1") * F.col("s1")).alias("var_e2"),
    )
    # floor(sqrt) FIRST, then integer div — identical expression tree
    # to the oracle (floor(x/n) == floor(floor(x)/n) holds for real x,
    # but a double division could round across the boundary)
    variability = F.expr(
        f"floor(sqrt(cast(var_e2 as double))) div {CARTO_EPOCHS}"
    )
    bucketed = staged.select(
        "doc_id",
        "mean_micro",
        variability.alias("variability_micro"),
    ).select(
        "doc_id",
        "mean_micro",
        "variability_micro",
        F.when(
            F.col("variability_micro") >= CARTO_VAR_HI, F.lit("ambiguous")
        )
        .when(F.col("mean_micro") >= CARTO_CONF_HI, F.lit("easy"))
        .otherwise(F.lit("hard"))
        .alias("region"),
    )
    tot = Window.partitionBy()
    return (
        bucketed.groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("mean_micro").alias("conf_sum"),
            F.sum("variability_micro").alias("var_sum"),
        )
        .select(
            "region",
            "n_docs",
            F.expr("conf_sum div n_docs").alias("avg_confidence_micro"),
            F.expr("var_sum div n_docs").alias("avg_variability_micro"),
            F.expr(
                "(1000000 * n_docs) div sum(n_docs) over ()"
            ).alias("share_micro"),
        )
        .orderBy("region")
    )


def _carto_sql() -> str:
    conf_terms = []
    for e in range(1, CARTO_EPOCHS + 1):
        h = sql_hash32(f"'carto{e}' || ':' || CAST(doc_id AS VARCHAR)")
        conf_terms.append(
            f"(LEAST(1000000, (1000000 * n_chars) // 3000) // 2"
            f" + ({h}) % 500001)"
        )
    s1 = " + ".join(conf_terms)
    s2 = " + ".join(f"({t}) * ({t})" for t in conf_terms)
    return f"""
WITH staged AS (
    SELECT doc_id,
        CAST({s1} AS BIGINT) AS s1,
        CAST({s2} AS BIGINT) AS s2
    FROM documents
),
mo AS (
    SELECT doc_id, s1 // {CARTO_EPOCHS} AS mean_micro,
        CAST(FLOOR(SQRT(CAST({CARTO_EPOCHS} * s2 - s1 * s1 AS DOUBLE)))
             AS BIGINT) // {CARTO_EPOCHS} AS variability_micro
    FROM staged
),
bucketed AS (
    SELECT doc_id, mean_micro, variability_micro,
        CASE WHEN variability_micro >= {CARTO_VAR_HI} THEN 'ambiguous'
             WHEN mean_micro >= {CARTO_CONF_HI} THEN 'easy'
             ELSE 'hard' END AS region
    FROM mo
)
SELECT region, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(mean_micro) AS BIGINT) // COUNT(*) AS avg_confidence_micro,
    CAST(SUM(variability_micro) AS BIGINT) // COUNT(*)
        AS avg_variability_micro,
    (1000000 * CAST(COUNT(*) AS BIGINT))
        // CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS share_micro
FROM bucketed
GROUP BY region
ORDER BY region
"""


QUERIES = {
    "sample_doremi_proxy_weights": sample_doremi_proxy_weights,
    "seq_curriculum_order": seq_curriculum_order,
    "sample_dataset_cartography": sample_dataset_cartography,
    "sample_rho_loss_selection": sample_rho_loss_selection,
    "sample_negative_sampling": sample_negative_sampling,
    "sample_epoch_plan": sample_epoch_plan,
    "text_dsir_importance": text_dsir_importance,
    "sample_weighted_without_replacement": sample_weighted_without_replacement,
    "text_boilerplate_segments": text_boilerplate_segments,
    "quality_source_gini": quality_source_gini,
    "feature_hashing_vectorize": feature_hashing_vectorize,
    "dedup_blocking_quality": dedup_blocking_quality,
    "sample_neyman_allocation": sample_neyman_allocation,
    "seq_shard_manifest": seq_shard_manifest,
    "sample_balanced_labels": sample_balanced_labels,
    "sample_temperature_mixture": sample_temperature_mixture,
    "graph_degree_histogram": graph_degree_histogram,
    "seq_pack_chunks": seq_pack_chunks,
    "sample_mix_domains": sample_mix_domains,
    "dedup_paragraph": dedup_paragraph,
    "dedup_incremental_novelty": dedup_incremental_novelty,
    "embedding_quantize_int8": embedding_quantize_int8,
    "text_rarity_score": text_rarity_score,
    "window_ewma_decay": window_ewma_decay,
    "curation_pipeline_funnel": curation_pipeline_funnel,
}

ORACLES = {
    "sample_doremi_proxy_weights": _DOREMI_SQL,
    "seq_curriculum_order": _CURRICULUM_SQL,
    "sample_dataset_cartography": _carto_sql(),
    "sample_rho_loss_selection": _RHO_SQL,
    "sample_negative_sampling": _NEG_SAMPLING_SQL,
    "sample_epoch_plan": _EPOCH_PLAN_SQL,
    "text_dsir_importance": _DSIR_SQL,
    "sample_weighted_without_replacement": _WSAMPLE_SQL,
    "text_boilerplate_segments": _BOILER_SQL,
    "quality_source_gini": _SOURCE_GINI_SQL,
    "feature_hashing_vectorize": _FEAT_HASH_SQL,
    "dedup_blocking_quality": _blocking_quality_sql(),
    "sample_neyman_allocation": _NEYMAN_SQL,
    "seq_shard_manifest": _shard_manifest_sql(),
    "sample_balanced_labels": _BALANCED_SQL,
    "sample_temperature_mixture": _TEMP_MIX_SQL,
    "graph_degree_histogram": _DEGREE_SQL,
    "seq_pack_chunks": _SEQ_PACK_SQL,
    "sample_mix_domains": _MIX_SQL,
    "dedup_paragraph": _PARA_SQL,
    "dedup_incremental_novelty": _NOVELTY_SQL,
    "embedding_quantize_int8": _QUANT_SQL,
    "text_rarity_score": _RARITY_SQL,
    "window_ewma_decay": _EWMA_SQL,
    "curation_pipeline_funnel": _FUNNEL_SQL,
}
