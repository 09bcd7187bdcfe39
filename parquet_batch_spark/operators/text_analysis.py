"""Text-analysis operators over the documents corpus (north-star).

Everything is built-in JVM expressions (split / regexp / higher-order
array functions) — zero Python in the row path, so throughput scales
with executors and stays inside whole-stage codegen. Each operator has
an exact DuckDB mirror; all arithmetic is integer or single-expression
double so results are bit-identical.

At 100 TB these are embarrassingly parallel map-only plans: no
shuffle at all except the final aggregations (which are partial
map-side first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import fan_out, load
from parquet_batch_spark.functions.hashing import MERSENNE_P, hash32, sql_hash32
from parquet_batch_spark.functions.text import (
    LANG_MARKERS,
    bind,
    marker_langid,
    shingles_col,
    sql_shingles,
    sql_tokens,
    tokens_col,
)

# ---------------------------------------------------------------- stats

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics + quality score.

    Quality heuristic (deterministic, engine-portable): penalize very
    short docs, reward moderate mean word length, penalize digit and
    punctuation density — the usual pre-training corpus filters.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = tokens_col("text")
    n_tok = F.size(toks).cast("bigint")
    n_char = F.length("text").cast("bigint")
    n_digit = n_char - F.length(F.regexp_replace("text", r"[0-9]", "")).cast("bigint")
    n_space = n_char - F.length(F.regexp_replace("text", r" ", "")).cast("bigint")
    mean_wlen = (n_char - n_space).cast("double") / n_tok
    quality = F.round(
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.when((mean_wlen >= 3.0) & (mean_wlen <= 8.0), 0.4).otherwise(0.1)
        - n_digit.cast("double") / (n_char.cast("double") + 1.0) * 0.2,
        6,
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_char.alias("n_chars_computed"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        quality.alias("quality"),
    ).orderBy("doc_id")


_TEXT_STATS_SQL = f"""
SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(length(text) AS BIGINT) AS n_chars_computed,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
    ROUND(CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE) / len(toks), 6) AS mean_word_len,
    ROUND(
        LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5
        + CASE WHEN CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE) / len(toks) BETWEEN 3.0 AND 8.0
               THEN 0.4 ELSE 0.1 END
        - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
          / (CAST(length(text) AS DOUBLE) + 1.0) * 0.2,
    6) AS quality
FROM (SELECT doc_id, text, {sql_tokens("text")} AS toks FROM documents)
ORDER BY doc_id
"""


# ---------------------------------------------------------------- lang id

def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID with per-language hit counts.

    Each language's score = number of tokens that are in its marker
    set (with multiplicity). Prediction = argmax with ties broken by
    the fixed language order, 'unknown' when all scores are zero.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    lid = d.select("doc_id", "lang", marker_langid(tokens_col("text")).alias("lid"))
    return lid.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[F.col(f"lid.score_{lang}") for lang in LANG_MARKERS],
        F.col("lid.pred").alias("lang_pred"),
    ).orderBy("doc_id")


def _sql_lang_score(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(toks, t -> list_contains([{markers}], t)))"
        f" AS BIGINT)"
    )


_TEXT_LANGID_SQL = f"""
SELECT doc_id, lang AS lang_label,
    {_sql_lang_score("en")} AS score_en,
    {_sql_lang_score("es")} AS score_es,
    {_sql_lang_score("fr")} AS score_fr,
    {_sql_lang_score("de")} AS score_de,
    CASE
        WHEN {_sql_lang_score("en")} >= GREATEST({_sql_lang_score("es")}, {_sql_lang_score("fr")}, {_sql_lang_score("de")})
             AND {_sql_lang_score("en")} > 0 THEN 'en'
        WHEN {_sql_lang_score("es")} >= GREATEST({_sql_lang_score("fr")}, {_sql_lang_score("de")})
             AND {_sql_lang_score("es")} > 0 THEN 'es'
        WHEN {_sql_lang_score("fr")} >= {_sql_lang_score("de")}
             AND {_sql_lang_score("fr")} > 0 THEN 'fr'
        WHEN {_sql_lang_score("de")} > 0 THEN 'de'
        ELSE 'unknown'
    END AS lang_pred
FROM (SELECT doc_id, lang, {sql_tokens("text")} AS toks FROM documents)
ORDER BY doc_id
"""


# ---------------------------------------------------------------- fingerprint

_POLY_B = [1, 31, 961, 29791, 923521, 28629151, 887503681, 1742810335]  # 31^i % P


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional polynomial document fingerprint (rolling-hash style).

    fp = Σ_i (hash32(tok_i) mod P) · B[(i-1) mod 8] mod P, all int64 —
    position-sensitive (re-ordered words change the fingerprint),
    engine-exact, and computable in one map-only pass at any scale.
    """
    # toks is read twice below (fingerprint and count), so Catalyst
    # keeps it as a column and the text is split once per row.
    d = fan_out(load(spark, sf_dir, "documents"), spark).select(
        "doc_id", tokens_col("text").alias("toks")
    )
    toks = F.col("toks")
    # a Literal array node; referenced INSIDE the transform lambda.
    # COSMETIC (ADVICE r12): the captured before/after physical plans
    # are identical (ConstantFolding folds CreateArray even inside the
    # lambda), so this is compile-convenience, not a runtime change.
    b_arr = F.lit(list(_POLY_B))
    terms = bind(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.size(t)),
            lambda i: (hash32(F.element_at(t, i)) % MERSENNE_P)
            * F.element_at(b_arr, ((i - 1) % 8) + 1)
            % MERSENNE_P,
        ),
    )
    fp = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x) % MERSENNE_P
    return d.select(
        "doc_id", fp.alias("fingerprint"), F.size(toks).cast("bigint").alias("n_tokens")
    ).orderBy("doc_id")


_B_SQL = "[" + ", ".join(str(b) for b in _POLY_B) + "]"

_TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id,
    CAST(list_sum(list_transform(generate_series(1, len(toks)),
        i -> ({sql_hash32("toks[i]")} % {MERSENNE_P}) * ({_B_SQL})[((i - 1) % 8) + 1] % {MERSENNE_P}
    )) % {MERSENNE_P} AS BIGINT) AS fingerprint,
    CAST(len(toks) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, {sql_tokens("text")} AS toks FROM documents)
ORDER BY doc_id
"""


# ---------------------------------------------------------------- corpus rollup

def text_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level aggregation by (lang, source): doc counts, token
    totals, vocabulary richness — the partial-agg shuffle is tiny
    (|langs|×|sources| groups) at any corpus size."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = tokens_col("text")
    return (
        d.select(
            "lang",
            "source",
            F.size(toks).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_uniq").alias("total_unique_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_tok").alias("max_doc_tokens"),
        )
        .orderBy("lang", "source")
    )


_TEXT_CORPUS_SQL = f"""
SELECT lang, source,
    COUNT(*) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
    CAST(SUM(n_uniq) AS BIGINT) AS total_unique_tokens,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
    MAX(n_tok) AS max_doc_tokens
FROM (
    SELECT lang, source, n_chars,
        CAST(len(toks) AS BIGINT) AS n_tok,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
    FROM (SELECT lang, source, n_chars, {sql_tokens("text")} AS toks FROM documents)
)
GROUP BY lang, source
ORDER BY lang, source
"""


# BPE-style pretokenizer regex (simplified GPT-2 pattern, kept inside
# the RE2 subset so Spark's Java regex and DuckDB's RE2 agree: no
# lookahead, no unicode property classes): a token is an optional
# leading space + a letter run, digit run, or punctuation run.
_BPEISH = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways a data pipeline needs it: whitespace
    words and a BPE-ish pretokenizer regex (the standard proxy for LLM
    token budgets when the real tokenizer is out-of-process). Pure
    JVM regexp_extract_all — no Python in the row path; the ratio
    column is the chars-per-token compression estimate used for corpus
    budgeting."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    ws = F.size(tokens_col("text")).cast("bigint")
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPEISH), 0)).cast("bigint")
    return d.select(
        "doc_id",
        ws.alias("n_words"),
        bpe.alias("n_bpeish_tokens"),
        F.round(F.length("text").cast("double") / bpe.cast("double"), 6).alias(
            "chars_per_token"
        ),
    ).orderBy("doc_id")


_TEXT_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
    CAST(len({sql_tokens("text")}) AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT)
        AS n_bpeish_tokens,
    ROUND(CAST(length(text) AS DOUBLE)
        / CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS DOUBLE),
    6) AS chars_per_token
FROM documents
ORDER BY doc_id
"""


CHUNK_LEN = 64  # tokens per training window
CHUNK_STRIDE = 48  # overlap = CHUNK_LEN - CHUNK_STRIDE


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the standard pretraining prep
    that turns variable-length documents into fixed training windows
    with overlap. Each doc yields ceil-ish windows of {CHUNK_LEN}
    tokens at stride {CHUNK_STRIDE}; short docs yield their single
    short window. All JVM array ops (sequence/slice/explode) — the
    chunk stream scales linearly and partitions with the documents.
    Output carries window token count plus a portable hash of the
    joined window so the oracle verifies CONTENT, not just shape."""
    from parquet_batch_spark.functions.hashing import hash32

    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    n = F.size(toks)
    n_win = F.when(
        n <= CHUNK_LEN, F.lit(1)
    ).otherwise(
        F.ceil((n - F.lit(CHUNK_LEN)) / F.lit(CHUNK_STRIDE)) + 1
    ).cast("int")
    win = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_win - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_LEN
    )
    return win.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).cast("int").alias("n_tokens"),
        hash32(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


def _chunk_sql() -> str:
    from parquet_batch_spark.functions.hashing import sql_hash32

    return f"""
WITH base AS (
    SELECT doc_id, {sql_tokens("text")} AS toks,
        len({sql_tokens("text")}) AS n
    FROM documents
),
wins AS (
    SELECT doc_id, toks,
        unnest(generate_series(0,
            CASE WHEN n <= {CHUNK_LEN} THEN 0
                 ELSE CAST(CEIL(CAST(n - {CHUNK_LEN} AS DOUBLE) / {CHUNK_STRIDE}) AS BIGINT)
            END)) AS chunk_idx
    FROM base
),
chunks AS (
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        toks[chunk_idx * {CHUNK_STRIDE} + 1 : chunk_idx * {CHUNK_STRIDE} + {CHUNK_LEN}] AS c
    FROM wins
)
SELECT doc_id, chunk_idx,
    CAST(len(c) AS INTEGER) AS n_tokens,
    {sql_hash32("array_to_string(c, ' ')")} AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_idx
"""


TFIDF_TOPK = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf-idf.

    Uses the RATIONAL idf variant ``tf * N / df`` (no logarithm): the
    score stays an exact integer ratio, so its IEEE-754 quotient is
    bit-identical in every engine — a log-based idf differs in the
    last ulp between libm implementations and would poison the value
    hash. Ranking ties (same score within a doc) break on the term
    string, making the top-k fully deterministic.

    Scale path: term explode → (doc, term) count (one shuffle with
    map-side combine), document frequency from the already-reduced
    tf table (second, smaller shuffle on term), tf⋈df equi-join on
    term (vocabulary-sized — Zipf keeps it far smaller than the
    corpus), then a per-doc window over ≤|vocab ∩ doc| rows. The
    only driver scalar is the corpus doc count. No all-pairs, no
    collect of per-doc data.
    """
    from pyspark.sql import Window as W

    d = fan_out(load(spark, sf_dir, "documents"), spark)
    n_docs = d.count()
    terms = d.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("term")
    )
    # tf feeds BOTH the document-frequency reduce and the scoring join;
    # without materialization Catalyst re-derives the corpus tokenize+
    # explode+groupBy per consumer (r13, guide §2.4 — the same
    # duplicated-subtree fix as bigram_surprisal's pair checkpoint).
    # (doc, term) grain: already reduced by the map-side combine.
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", (F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "rnk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rnk")
    )


_TFIDF_SQL = f"""
WITH terms AS (
    SELECT doc_id, unnest({sql_tokens("lower(text)")}) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
),
dfreq AS (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, term, tf, df,
           CAST(tf * n_docs AS DOUBLE) / df AS score
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tf, df, score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term ASC
           ) AS INTEGER) AS rnk
    FROM scored
)
SELECT doc_id, rnk, term, tf, df, score
FROM ranked WHERE rnk <= {TFIDF_TOPK}
ORDER BY doc_id, rnk
"""


# ------------------------------------------------- bigram surprisal

def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal scoring — one step past text_rarity_score's
    unigram model: how predictable is each next word GIVEN the word
    before it? surprisal(w1→w2) ≈ log2 P(w2|w1)⁻¹ is computed in EXACT
    integer arithmetic as bitlen(c1(w1·)) - bitlen(c2(w1,w2)), where c2
    counts corpus occurrences of the pair and c1 counts w1 as a pair
    head (Σ c2 over its continuations). Formulaic text (low surprisal)
    separates from shuffled/high-entropy text — the signal behind
    cheap LM-free quality filters.

    Scale: pair counts are one explode + groupBy (shuffle on the pair
    hash); head counts are a second aggregate OF THE REDUCED pair
    table (vocabulary², not corpus, sized); the per-doc score is one
    equi-join of the doc's pairs against the count table and a final
    groupBy doc_id. Identical topology to text_tfidf_topk.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    n = F.size(toks)
    pairs = d.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array()),
        ).alias("pr"),
    ).select("doc_id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    # The pair stream feeds BOTH the count model and the final scoring
    # join; without materialization Catalyst re-derives the tokenize+
    # explode subtree for each consumer. A lazy localCheckpoint caches
    # it once — measured 2.3s → 1.5s at sf0.1 (~35%); at cluster scale
    # the win is one full corpus tokenization pass.
    pairs = pairs.localCheckpoint(eager=False)
    # c2 feeds c1 AND the scoring join — checkpoint the vocabulary²-
    # bounded reduce so the pair-stream aggregation plans once (r13)
    c2 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored_pairs = (
        c2.join(c1, "w1")
        .select(
            "w1",
            "w2",
            (F.length(F.bin(F.col("c1"))) - F.length(F.bin(F.col("c2"))))
            .cast("long")
            .alias("bits"),
        )
    )
    return (
        pairs.join(F.broadcast(scored_pairs), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("bits").alias("surprisal_sum"),
        )
        .withColumn(
            "surprisal_mean",
            F.round(F.col("surprisal_sum") / F.col("n_pairs"), 6),
        )
        .orderBy("doc_id")
    )


_BIGRAM_SURPRISAL_SQL = f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
pairs AS (
    SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
    FROM toks, UNNEST(
        CASE WHEN len(tk) >= 2 THEN generate_series(1, len(tk) - 1)
             ELSE [] END) AS u(i)
),
c2 AS (
    SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2
),
c1 AS (
    SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
),
scored AS (
    SELECT c2.w1, c2.w2,
           CAST(length(bin(c1.c1)) - length(bin(c2.c2)) AS BIGINT) AS bits
    FROM c2 JOIN c1 ON c2.w1 = c1.w1
)
SELECT p.doc_id, COUNT(*) AS n_pairs,
       CAST(SUM(s.bits) AS BIGINT) AS surprisal_sum,
       ROUND(SUM(s.bits) / CAST(COUNT(*) AS DOUBLE), 6) AS surprisal_mean
FROM pairs p JOIN scored s ON p.w1 = s.w1 AND p.w2 = s.w2
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


# ------------------------------------------ Kneser-Ney LM scoring

KN_D = 0.75  # absolute discount (exact quarters — no float drift)


def text_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring — the smoothing the
    bit-length surprisal ops skip, and the standard n-gram LM behind
    CCNet/KenLM-style quality filtering:

        P(w2|w1) = (c(w1,w2) − D)/c(w1·)
                 + (D·N1+(w1·)/c(w1·)) · N1+(·w2)/N1+(··)

    with D = {KN_D}.  The continuation probability N1+(·w2)/N1+(··)
    is KN's insight: "how many contexts does w2 complete" rather than
    raw frequency (the 'San Francisco' effect).  Every count (pair,
    head, forward/backward type counts, total types) is an exact
    integer from one pair-table reduction; the per-pair log-prob is
    quantized ONCE to integer micro-units, so per-doc scores are
    order-free integer sums, bit-identical to the oracle.

    Scale: identical topology to text_bigram_surprisal — one corpus
    pair explode, vocabulary²-bounded count tables, broadcast join
    back, per-doc rollup.  All observed pairs have c ≥ 1 > D, so the
    max(c−D, 0) clamp never binds and the formula stays a single
    expression."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    n = F.size(toks)
    pairs = d.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array()),
        ).alias("pr"),
    ).select("doc_id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    pairs = pairs.localCheckpoint(eager=False)
    # c2t feeds FOUR consumers (c1t, nbt, nt, the scored join) — the
    # vocabulary²-bounded reduce is checkpointed so the pair-stream
    # aggregation plans once, not per consumer (r13, guide §2.4)
    c2t = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=False)
    )
    c1t = c2t.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("nf")
    )
    nbt = c2t.groupBy("w2").agg(F.count(F.lit(1)).alias("nb"))
    nt = c2t.agg(F.count(F.lit(1)).alias("ntot"))
    c1d = F.col("c1").cast("double")
    p_kn = (F.col("c2").cast("double") - KN_D) / c1d + (
        KN_D * F.col("nf").cast("double") / c1d
    ) * (F.col("nb").cast("double") / F.col("ntot").cast("double"))
    scored = (
        c2t.join(c1t, "w1")
        .join(nbt, "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            F.round(F.lit(1000000.0) * F.log(p_kn)).cast("long").alias("term_micro"),
        )
    )
    return (
        pairs.join(F.broadcast(scored), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("term_micro").cast("long").alias("kn_logprob_micro"),
        )
        .orderBy("doc_id")
    )


_KN_SQL = f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
pairs AS (
    SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
    FROM toks, UNNEST(
        CASE WHEN len(tk) >= 2 THEN generate_series(1, len(tk) - 1)
             ELSE [] END) AS u(i)
),
c2t AS (
    SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2
),
c1t AS (
    SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1, COUNT(*) AS nf
    FROM c2t GROUP BY w1
),
nbt AS (
    SELECT w2, COUNT(*) AS nb FROM c2t GROUP BY w2
),
nt AS (SELECT COUNT(*) AS ntot FROM c2t),
scored AS (
    SELECT c2t.w1, c2t.w2,
        CAST(ROUND(1000000.0 * LN(
            (CAST(c2 AS DOUBLE) - {KN_D}) / CAST(c1 AS DOUBLE)
            + ({KN_D} * CAST(nf AS DOUBLE) / CAST(c1 AS DOUBLE))
              * (CAST(nb AS DOUBLE) / CAST(ntot AS DOUBLE))
        )) AS BIGINT) AS term_micro
    FROM c2t
    JOIN c1t ON c2t.w1 = c1t.w1
    JOIN nbt ON c2t.w2 = nbt.w2
    CROSS JOIN nt
)
SELECT p.doc_id,
    COUNT(*) AS n_pairs,
    CAST(SUM(s.term_micro) AS BIGINT) AS kn_logprob_micro
FROM pairs p JOIN scored s ON p.w1 = s.w1 AND p.w2 = s.w2
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


# --------------------------------------- CCNet perplexity tertiles

PPL_NTILES = 3  # CCNet buckets: head / middle / tail


def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): within
    each language, rank documents by LM score and split into
    head/middle/tail tertiles — head (most fluent) feeds pre-training
    first, tail is usually dropped.

    The LM is the corpus bigram model of ``text_bigram_surprisal``
    (exact integer bit-length surprisal — no floats in the model);
    the per-doc score is mean surprisal in integer MILLI-bits via
    exact integer division.  Tertile assignment is NTILE({PPL_NTILES})
    over (score, doc_id) per language — deterministic tie-break, and
    a PARTITIONED window (per-lang), so no global sort; at 100 TB
    CCNet actually fits the per-lang score histogram and cuts at
    quantiles, which this reduces to when the histogram is exact.
    Output: per (lang, bucket) — doc count and the score boundaries,
    i.e. the thresholds a streaming assigner would reuse."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    n = F.size(toks)
    pairs = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array()),
        ).alias("pr"),
    ).select("doc_id", "lang", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    pairs = pairs.localCheckpoint(eager=False)
    # c2 feeds BOTH the head-count reduce and the scoring join — the
    # vocabulary²-bounded reduce is checkpointed so the pair-stream
    # aggregation plans once (r13, guide §2.4)
    c2 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored_pairs = c2.join(c1, "w1").select(
        "w1",
        "w2",
        (F.length(F.bin(F.col("c1"))) - F.length(F.bin(F.col("c2"))))
        .cast("long")
        .alias("bits"),
    )
    from pyspark.sql import Window as W

    doc_scores = (
        pairs.join(F.broadcast(scored_pairs), ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("bits").alias("ssum"))
        .select(
            "doc_id",
            "lang",
            F.expr("(1000 * ssum) div n_pairs").alias("score_milli"),
        )
    )
    wl = W.partitionBy("lang").orderBy("score_milli", "doc_id")
    bucketed = doc_scores.withColumn("t", F.ntile(PPL_NTILES).over(wl))
    bucket_name = (
        F.when(F.col("t") == 1, "head")
        .when(F.col("t") == 2, "middle")
        .otherwise("tail")
    )
    return (
        bucketed.groupBy("lang", "t")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score_milli").alias("min_score_milli"),
            F.max("score_milli").alias("max_score_milli"),
        )
        .select(
            "lang",
            bucket_name.alias("bucket"),
            "n_docs",
            "min_score_milli",
            "max_score_milli",
        )
        .orderBy("lang", "min_score_milli")
    )


_PPL_BUCKETS_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, {sql_tokens("text")} AS tk FROM documents
),
pairs AS (
    SELECT doc_id, lang, tk[i] AS w1, tk[i + 1] AS w2
    FROM toks, UNNEST(
        CASE WHEN len(tk) >= 2 THEN generate_series(1, len(tk) - 1)
             ELSE [] END) AS u(i)
),
c2 AS (
    SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2
),
c1 AS (
    SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
),
scored AS (
    SELECT c2.w1, c2.w2,
           CAST(length(bin(c1.c1)) - length(bin(c2.c2)) AS BIGINT) AS bits
    FROM c2 JOIN c1 ON c2.w1 = c1.w1
),
doc_scores AS (
    SELECT p.doc_id, p.lang,
        (1000 * CAST(SUM(s.bits) AS BIGINT)) // COUNT(*) AS score_milli
    FROM pairs p JOIN scored s ON p.w1 = s.w1 AND p.w2 = s.w2
    GROUP BY p.doc_id, p.lang
),
bucketed AS (
    SELECT lang, score_milli,
        NTILE({PPL_NTILES}) OVER (
            PARTITION BY lang ORDER BY score_milli, doc_id) AS t
    FROM doc_scores
)
SELECT lang,
    CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
    COUNT(*) AS n_docs,
    MIN(score_milli) AS min_score_milli,
    MAX(score_milli) AS max_score_milli
FROM bucketed
GROUP BY lang, t
ORDER BY lang, min_score_milli
"""


# -------------------------------------------- langid confusion matrix

def quality_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-marker language-ID heuristic
    (text_langid's exact predictor, reused verbatim) against the
    labeled ``lang`` column — the calibration step before trusting a
    cheap classifier to gate a corpus: which languages does it
    actually confuse, and how often does it abstain ('unknown')?

    Scale: the predictor is a pure JVM expression per row; the matrix
    is one groupBy over a ≤(langs+1)² key space — a tiny reduction at
    any corpus size.
    """
    scored = text_langid(spark, sf_dir)
    return (
        scored.select(
            F.col("lang_label").alias("labeled"),
            F.col("lang_pred").alias("predicted"),
        )
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("labeled", "predicted")
    )


_LANGID_CONFUSION_SQL = f"""
SELECT lang_label AS labeled, lang_pred AS predicted, COUNT(*) AS n_docs
FROM ({_TEXT_LANGID_SQL})
GROUP BY labeled, predicted
ORDER BY labeled, predicted
"""


# ---------------------------------------------------------------------------
# text_vocab_growth — Heaps'-law vocabulary growth curve
# ---------------------------------------------------------------------------

VOCAB_CHECKPOINT = 50  # sample the curve every N documents


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct-token count after the
    first N, 2N, … documents (in doc_id order) — the curve that tells
    you whether more crawl still buys vocabulary (sub-linear growth
    flattening = saturation; the diagnostic behind corpus-size
    decisions). Each token contributes at its FIRST document (one
    min-aggregate over the exploded stream), first-occurrence counts
    bucket to checkpoints, and one running sum over the tiny
    checkpoint table yields the curve — no per-prefix rescans, no
    quadratic work.
    """
    from pyspark.sql import Window as W

    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    first_seen = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    ckpt = F.ceil((F.col("first_doc") + 1) / VOCAB_CHECKPOINT).cast("long")
    per_ckpt = first_seen.groupBy(ckpt.alias("checkpoint")).agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    run = F.sum("new_tokens").over(
        W.orderBy("checkpoint").rowsBetween(W.unboundedPreceding, 0)
    )
    return per_ckpt.select(
        (F.col("checkpoint") * VOCAB_CHECKPOINT).alias("docs_seen"),
        "new_tokens",
        run.cast("long").alias("vocab_size"),
    ).orderBy("docs_seen")


_VOCAB_GROWTH_SQL = f"""
WITH first_seen AS (
    SELECT tok, MIN(doc_id) AS first_doc
    FROM (SELECT doc_id, UNNEST({sql_tokens("text")}) AS tok FROM documents)
    GROUP BY tok
),
per_ckpt AS (
    SELECT CAST(CEIL((first_doc + 1) / {VOCAB_CHECKPOINT}.0) AS BIGINT)
               AS checkpoint,
           COUNT(*) AS new_tokens
    FROM first_seen GROUP BY checkpoint
)
SELECT checkpoint * {VOCAB_CHECKPOINT} AS docs_seen,
       new_tokens,
       CAST(SUM(new_tokens) OVER (ORDER BY checkpoint
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM per_ckpt
ORDER BY docs_seen
"""

# ---------------------------------------------------------------------------
# text_overlap_stitch — suffix/prefix boundary-overlap detection
# ---------------------------------------------------------------------------

STITCH_K = 3  # boundary width in tokens
STITCH_HOT_CAP = 256  # boundary grams hotter than this don't join


def text_overlap_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect document pairs where A's last {STITCH_K} tokens equal
    B's first {STITCH_K} tokens — the signature of a document that was
    SPLIT across crawl records (or of boilerplate stitched between
    shards). Exact-dedup and shingle near-dedup both miss this shape:
    the overlap is a sliver of each doc. Output: the stitchable (a→b)
    pairs, ordered.

    Scale: one equi-join of the suffix-gram table against the
    prefix-gram table on the gram hash — never a substring scan of
    all pairs. Grams hotter than {STITCH_HOT_CAP} docs are dropped as
    join keys (the same hot-key cap as the segment index), so a
    ubiquitous boundary phrase cannot go quadratic.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    eligible = d.filter(F.size(toks) >= STITCH_K)
    # r13 (guide §2.4): ONE tokenize pass computes BOTH boundary grams
    # per doc and is checkpointed ((doc, 2 hashes) grain) — suf and pre
    # previously each re-tokenized the corpus, and their three
    # consumers (hot, plus each join side) replanned them: six corpus
    # scans in one plan, now one.
    grams = eligible.select(
        "doc_id",
        hash32(
            F.concat_ws(" ", F.slice(toks, -STITCH_K, STITCH_K))
        ).alias("g_suf"),
        hash32(F.concat_ws(" ", F.slice(toks, 1, STITCH_K))).alias("g_pre"),
    ).localCheckpoint(eager=False)
    suf = grams.select(F.col("doc_id").alias("a"), F.col("g_suf").alias("g"))
    pre = grams.select(F.col("doc_id").alias("b"), F.col("g_pre").alias("g"))
    hot = (
        suf.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
        .unionAll(pre.groupBy("g").agg(F.count(F.lit(1)).alias("n")))
        .groupBy("g")
        .agg(F.max("n").alias("n"))
        .filter(F.col("n") > STITCH_HOT_CAP)
        .select("g")
    )
    suf_c = suf.join(F.broadcast(hot), "g", "left_anti")
    pre_c = pre.join(F.broadcast(hot), "g", "left_anti")
    return (
        suf_c.join(pre_c, "g")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
        .orderBy("a", "b")
    )


_STITCH_SQL = f"""
WITH t AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
el AS (SELECT * FROM t WHERE len(tk) >= {STITCH_K}),
suf AS (
    SELECT doc_id AS a,
           {sql_hash32(f"array_to_string(tk[-{STITCH_K}:], ' ')")} AS g
    FROM el
),
pre AS (
    SELECT doc_id AS b,
           {sql_hash32(f"array_to_string(tk[1:{STITCH_K}], ' ')")} AS g
    FROM el
),
hot AS (
    SELECT g FROM (
        SELECT g, COUNT(*) AS n FROM suf GROUP BY g
        UNION ALL
        SELECT g, COUNT(*) AS n FROM pre GROUP BY g
    ) GROUP BY g HAVING MAX(n) > {STITCH_HOT_CAP}
)
SELECT DISTINCT s.a, p.b
FROM suf s JOIN pre p ON s.g = p.g AND s.a != p.b
WHERE s.g NOT IN (SELECT g FROM hot)
ORDER BY a, b
"""


# --------------------------------------------------- watermark detection

WM_GAMMA_DEN = 4  # green-list fraction gamma = 1/4
WM_Z_FLAG_MICRO = 4_000_000  # flag docs with z >= 4 (Kirchenbauer et al.)


def text_watermark_greenlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Green-list LLM-watermark detector (Kirchenbauer et al. 2023):
    the screen a training pipeline runs to keep watermarked synthetic
    text OUT of the corpus.

    Token t_i is "green" when the previous token's context selects it:
    hash(t_{i-1} ‖ t_i) lands in the γ = 1/{WM_GAMMA_DEN} green
    partition.  Natural text is green at rate γ; a soft-watermarked
    generator biases toward green, so the one-proportion z-score
    z = (g − γn)/√(nγ(1−γ)) separates them; z ≥ 4 flags a doc.

    Implementation is per-row JVM array algebra: the bigram stream is
    ``shingles_col(toks, 2)`` (each window = "t_{i-1} t_i"), greenness
    is a portable-hash filter over that array, so the corpus pass is
    map-only — no explode, no shuffle before the output sort; at
    100 TB this costs one scan.  z is quantized to integer micro-units
    from exact integer (g, n) per the round(·1e6) discipline (√ is
    IEEE-correctly-rounded, identical in both engines)."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    # Project the bigrams, then (n, g): each is read more than once
    # below, so Catalyst keeps them as columns instead of re-deriving
    # the bigram array (and re-splitting the text) per reference.
    counts = d.select("doc_id", shingles_col(tokens_col("text"), 2).alias("bg")).select(
        "doc_id",
        F.size("bg").cast("long").alias("n"),
        F.size(F.filter("bg", lambda b: hash32(b) % WM_GAMMA_DEN == 0))
        .cast("long")
        .alias("g"),
    )
    n, g = F.col("n"), F.col("g")
    gamma = 1.0 / WM_GAMMA_DEN
    z_micro = F.round(
        F.lit(1000000.0)
        * (g.cast("double") - F.lit(gamma) * n.cast("double"))
        / F.sqrt(n.cast("double") * F.lit(gamma * (1.0 - gamma)))
    ).cast("long")
    return (
        counts.select(
            "doc_id",
            n.alias("n_scored"),
            g.alias("n_green"),
            F.round(g / n, 6).alias("green_frac"),
            z_micro.alias("z_micro"),
            (z_micro >= WM_Z_FLAG_MICRO).alias("flagged"),
        )
        .orderBy("doc_id")
    )


_WATERMARK_SQL = f"""
WITH b AS (
    SELECT doc_id, {sql_shingles("toks", 2)} AS bg
    FROM (SELECT doc_id, {sql_tokens("text")} AS toks FROM documents)
),
counts AS (
    SELECT doc_id,
        CAST(len(bg) AS BIGINT) AS n,
        CAST(len(list_filter(bg, g -> {sql_hash32("g")} % {WM_GAMMA_DEN} = 0))
             AS BIGINT) AS g
    FROM b
)
SELECT doc_id, n AS n_scored, g AS n_green,
    ROUND(CAST(g AS DOUBLE) / n, 6) AS green_frac,
    CAST(ROUND(1000000.0 * (CAST(g AS DOUBLE) - 0.25 * CAST(n AS DOUBLE))
         / SQRT(CAST(n AS DOUBLE) * 0.1875)) AS BIGINT) AS z_micro,
    CAST(ROUND(1000000.0 * (CAST(g AS DOUBLE) - 0.25 * CAST(n AS DOUBLE))
         / SQRT(CAST(n AS DOUBLE) * 0.1875)) AS BIGINT) >= {WM_Z_FLAG_MICRO}
        AS flagged
FROM counts
ORDER BY doc_id
"""


# ------------------------------------------------- NDCG ranking eval

# 1e6/log2(rank+1) for ranks 1..10, computed ONCE here so both engines
# share the identical literal (log2 at query time would be the usual
# cross-engine libm trap)
_NDCG_DISC = [
    round(1_000_000 / __import__("math").log2(i + 1)) for i in range(1, 11)
]


def quality_ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking — the graded-relevance ranking
    audit that completes the retrieval-eval family
    (``ann_recall_eval`` scores set overlap; NDCG scores ORDER with
    position discounts).  Relevance is the count of the first query
    term in the doc (a deterministic stand-in for editorial labels —
    the audit plan is label-source-agnostic).  Discounts
    1/log2(rank+1) are micro-quantized PYTHON-side literals, so no
    transcendental ever runs in either engine; DCG/IDCG are exact
    int64 dot products and NDCG one integer division.

    Output: the 10 ranked rows (rank, doc, relevance, discounted
    gain) plus running DCG and the final NDCG denominator — the
    per-position view a ranking dashboard plots.  Scale: inherits
    ``text_bm25_topk``'s plan (broadcast terms, map-side top-k);
    the ideal ordering sorts the SAME 10-row result, not the corpus."""
    from pyspark.sql import Window as W

    top = text_bm25_topk(spark, sf_dir)
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    rel = d.select(
        "doc_id",
        F.size(
            F.filter(tokens_col("text"), lambda t: t == BM25_QUERY[0])
        )
        .cast("long")
        .alias("rel"),
    )
    ranked = (
        top.join(rel, "doc_id")
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
            ),
        )
        # ≤BM25_TOPK rows; the gains projection AND the ideal-DCG
        # aggregate both consume ranked — checkpoint so the BM25 +
        # relevance corpus derivation plans once (r13, guide §2.4)
        .localCheckpoint(eager=False)
    )
    disc = F.element_at(F.lit(_NDCG_DISC), F.col("rank"))
    ideal_rank = F.row_number().over(
        W.orderBy(F.desc("rel"), F.asc("doc_id"))
    )
    gains = ranked.select(
        "rank",
        "doc_id",
        "rel",
        (F.col("rel") * disc).alias("gain_micro"),
    )
    ideal = ranked.select(
        "rel", ideal_rank.alias("irank")
    ).select((F.col("rel") * F.element_at(F.lit(_NDCG_DISC), F.col("irank"))).alias("ig"))
    idcg = ideal.agg(F.sum("ig").alias("idcg_micro"))
    w_run = W.orderBy("rank").rowsBetween(W.unboundedPreceding, 0)
    return (
        gains.withColumn("dcg_running_micro", F.sum("gain_micro").over(w_run))
        .crossJoin(F.broadcast(idcg))
        .withColumn(
            "ndcg_micro",
            F.expr("(1000000 * dcg_running_micro) div idcg_micro"),
        )
        .orderBy("rank")
    )


def _ndcg_sql() -> str:
    disc = "[" + ", ".join(str(x) for x in _NDCG_DISC) + "]"
    # re-derive the BM25 top-10 (same CTE body as _BM25_SQL) then score
    return f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(len(tk)) AS BIGINT) AS sum_dl
    FROM toks
),
terms(term) AS (VALUES {", ".join(f"('{q}')" for q in BM25_QUERY)}),
tf AS (
    SELECT t.doc_id, q.term,
        CAST(len(t.tk) AS BIGINT) AS dl,
        CAST(len(list_filter(t.tk, x -> x = q.term)) AS BIGINT) AS tf
    FROM toks t CROSS JOIN terms q
),
hits AS (SELECT * FROM tf WHERE tf > 0),
dfreq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
scored AS (
    SELECT h.doc_id,
        CAST((1000000 * CAST(2 * (s.n_docs - d.df) + 1 AS HUGEINT)
              * (2200 * h.tf))
        // (CAST(2 * d.df + 1 AS HUGEINT)
            * (1000 * h.tf + 300
               + (9 * CAST((1000 * CAST(h.dl AS HUGEINT) * s.n_docs) // s.sum_dl AS BIGINT)) // 10))
            AS BIGINT) AS score_micro
    FROM hits h JOIN dfreq d ON h.term = d.term CROSS JOIN stats s
),
top AS (
    SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
    FROM scored GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id ASC LIMIT {BM25_TOPK}
),
rel AS (
    SELECT doc_id,
        CAST(len(list_filter(tk, t -> t = '{BM25_QUERY[0]}')) AS BIGINT)
            AS rel
    FROM toks
),
ranked AS (
    SELECT t.doc_id, r.rel,
        ROW_NUMBER() OVER (ORDER BY t.bm25_micro DESC, t.doc_id ASC) AS rank,
        ROW_NUMBER() OVER (ORDER BY r.rel DESC, t.doc_id ASC) AS irank
    FROM top t JOIN rel r ON t.doc_id = r.doc_id
),
dlist AS MATERIALIZED (SELECT {disc} AS d),
gains AS (
    SELECT rank, doc_id, rel,
        rel * dlist.d[rank] AS gain_micro,
        rel * dlist.d[irank] AS ig
    FROM ranked CROSS JOIN dlist
),
idcg AS (SELECT CAST(SUM(ig) AS BIGINT) AS idcg_micro FROM gains)
SELECT CAST(g.rank AS INTEGER) AS rank, g.doc_id, g.rel,
    CAST(g.gain_micro AS BIGINT) AS gain_micro,
    CAST(SUM(g.gain_micro) OVER (ORDER BY g.rank
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS dcg_running_micro,
    i.idcg_micro,
    (1000000 * CAST(SUM(g.gain_micro) OVER (ORDER BY g.rank
         ROWS UNBOUNDED PRECEDING) AS BIGINT)) // i.idcg_micro AS ndcg_micro
FROM gains g CROSS JOIN idcg i
ORDER BY g.rank
"""


# ------------------------------------------- Cavnar-Trenkle lang ID

CT_NGRAM = 3  # char n-gram length
CT_TOPK = 20  # profile size (ranks 1..K; out-of-place penalty = K)


def text_langid_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar–Trenkle n-gram rank-profile language ID — the third
    classifier family in the registry (marker stopwords:
    ``text_langid``; learned token likelihoods:
    ``ml_naive_bayes_langid``; character n-gram RANK profiles: this).
    C-T is what production langid falls back to on short/noisy text
    where token models starve: per language, the top-{CT_TOPK} char
    {CT_NGRAM}-grams by frequency form a rank profile, and a document
    is scored by the out-of-place distance Σ|rank_doc − rank_lang|
    (missing grams pay {CT_TOPK}).  Pure integer ranks and sums —
    nothing to quantize.  Output: labeled-vs-predicted confusion
    matrix, directly comparable with the other two classifiers'.

    Scale: gram explode → two vocab-bounded count reductions; the
    language profiles broadcast (4×{CT_TOPK} rows); per-doc ranks are
    a window over each doc's OWN gram counts (doc-id partitions);
    scoring is one broadcast join + per-doc aggregate; argmin is a
    window over 4 candidate rows per doc."""
    from pyspark.sql import Window as W

    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    n = F.length("text")
    grams = d.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - CT_NGRAM + 1, F.lit(0))),
                lambda i: F.col("text").substr(i, F.lit(CT_NGRAM)),
            )
        ).alias("g"),
    )
    # r12: ONE corpus gram explode + ONE corpus-grain shuffle.  The
    # language profile counts are Σ over docs of the per-doc counts,
    # so they reduce from the (doc, gram)-grain table instead of
    # re-exploding and re-shuffling the raw gram stream a second time
    # (bit-identical counts; the checkpoint stops Catalyst re-deriving
    # the explode for each consumer subtree).
    doc_counts = (
        grams.groupBy("doc_id", "lang_true", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    lang_rank = (
        doc_counts.groupBy(F.col("lang_true").alias("l"), "g")
        .agg(F.sum("c").alias("c"))
        .withColumn(
            "lrank",
            F.row_number().over(
                W.partitionBy("l").orderBy(F.desc("c"), F.asc("g"))
            ),
        )
        .filter(F.col("lrank") <= CT_TOPK)
        .select("l", "g", "lrank")
    )
    doc_rank = (
        doc_counts
        .withColumn(
            "drank",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("g"))
            ),
        )
        .filter(F.col("drank") <= CT_TOPK)
        .select("doc_id", "lang_true", "g", "drank")
    )
    langs = lang_rank.select("l").distinct()
    scored = (
        doc_rank.crossJoin(F.broadcast(langs))
        .join(F.broadcast(lang_rank), ["l", "g"], "left")
        .select(
            "doc_id",
            "lang_true",
            "l",
            F.coalesce(
                F.abs(F.col("drank") - F.col("lrank")), F.lit(CT_TOPK)
            ).alias("oop"),
        )
        .groupBy("doc_id", "lang_true", "l")
        .agg(F.sum("oop").cast("long").alias("dist"))
    )
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.asc("dist"), F.asc("l"))
    )
    pred = (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang_true", F.col("l").alias("lang_pred"))
    )
    return (
        pred.groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


_CT_LANGID_SQL = f"""
WITH grams AS (
    SELECT doc_id, lang AS lang_true,
        UNNEST(list_transform(
            generate_series(1, GREATEST(length(text) - {CT_NGRAM} + 1, 0)),
            i -> substr(text, i, {CT_NGRAM}))) AS g
    FROM documents
),
lang_rank AS (
    SELECT l, g, lrank FROM (
        SELECT lang_true AS l, g, COUNT(*) AS c,
            ROW_NUMBER() OVER (PARTITION BY lang_true
                               ORDER BY COUNT(*) DESC, g ASC) AS lrank
        FROM grams GROUP BY lang_true, g
    ) WHERE lrank <= {CT_TOPK}
),
doc_rank AS (
    SELECT doc_id, lang_true, g, drank FROM (
        SELECT doc_id, lang_true, g, COUNT(*) AS c,
            ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY COUNT(*) DESC, g ASC) AS drank
        FROM grams GROUP BY doc_id, lang_true, g
    ) WHERE drank <= {CT_TOPK}
),
langs AS (SELECT DISTINCT l FROM lang_rank),
scored AS (
    SELECT d.doc_id, d.lang_true, langs.l,
        CAST(SUM(COALESCE(ABS(d.drank - r.lrank), {CT_TOPK})) AS BIGINT)
            AS dist
    FROM doc_rank d
    CROSS JOIN langs
    LEFT JOIN lang_rank r ON r.l = langs.l AND r.g = d.g
    GROUP BY d.doc_id, d.lang_true, langs.l
),
pred AS (
    SELECT doc_id, lang_true, l AS lang_pred FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY dist ASC, l ASC) AS rn
        FROM scored
    ) WHERE rn = 1
)
SELECT lang_true, lang_pred, COUNT(*) AS n_docs
FROM pred
GROUP BY lang_true, lang_pred
ORDER BY lang_true, lang_pred
"""


# ------------------------------------------------- winnowing (MOSS)

WIN_K = 4  # tokens per gram
WIN_W = 8  # winnowing window (guarantee: any match ≥ w+k-1 tokens shares
#            a fingerprint; expected density 2/(w+1))


def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken —
    the MOSS plagiarism-detector scheme): hash every {WIN_K}-token
    gram, then keep the MINIMUM hash of each sliding {WIN_W}-window.
    Unlike minhash (a per-document global sketch), winnowing gives a
    POSITIONAL guarantee: any shared run of ≥ {WIN_W + WIN_K - 1}
    tokens contributes at least one common fingerprint — the property
    substring-level dedup needs and document-level sketches cannot
    give.  Output per doc: gram/window/fingerprint counts and the
    selected density (theory: ≈ 2/(w+1) of grams on random input),
    plus a fingerprint-set checksum so selection itself is
    oracle-checked.

    Map-only: gram hashes are projected ONCE as a column (higher-
    order lambdas re-evaluate captured expressions per element —
    the recorded interpreter-no-CSE gotcha), and window minima are an
    O(n·w) in-row fold in exact int64.  At 100 TB the fingerprint
    EXPLODE + equi-join (the dedup consumer) rides the same inverted-
    index discipline as the shingle family."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    # project the token array FIRST: a lambda that captured the split()
    # expression would re-tokenize per element (interpreted HOFs do no
    # CSE); referencing the bound column is free
    tkd = d.select("doc_id", tokens_col("text").alias("tk"))
    n = F.size("tk")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - WIN_K + 1, F.lit(0))),
        lambda i: hash32(F.concat_ws(" ", F.slice("tk", i, WIN_K))),
    )
    staged = tkd.select("doc_id", grams.alias("g"))
    n_g = F.size("g")
    n_w = F.greatest(n_g - WIN_W + 1, F.lit(0))
    sel = F.when(
        F.col("n_w") >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.col("n_w")),
                lambda j: F.array_min(F.slice("g", j, WIN_W)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    out = (
        staged.withColumn("n_g", n_g)
        .withColumn("n_w", n_w)
        .withColumn("sel", sel)
    )
    return out.select(
        "doc_id",
        F.col("n_g").cast("long").alias("n_grams"),
        F.col("n_w").cast("long").alias("n_windows"),
        F.size("sel").cast("long").alias("n_fingerprints"),
        F.expr("(1000000 * size(sel)) div greatest(n_w, 1)").alias(
            "density_micro"
        ),
        F.aggregate(
            F.col("sel"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("fp_checksum"),
    ).orderBy("doc_id")


_WINNOW_SQL = f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
grams AS (
    SELECT doc_id,
        list_transform(
            generate_series(1, GREATEST(len(tk) - {WIN_K} + 1, 0)),
            i -> {sql_hash32(f"array_to_string(tk[i : i + {WIN_K} - 1], ' ')")}
        ) AS g
    FROM toks
),
sel AS (
    SELECT doc_id, g, len(g) AS n_g,
        GREATEST(len(g) - {WIN_W} + 1, 0) AS n_w,
        CASE WHEN len(g) - {WIN_W} + 1 >= 1 THEN
            list_distinct(list_transform(
                generate_series(1, len(g) - {WIN_W} + 1),
                j -> list_min(g[j : j + {WIN_W} - 1])))
        ELSE [] END AS s
    FROM grams
)
SELECT doc_id,
    CAST(n_g AS BIGINT) AS n_grams,
    CAST(n_w AS BIGINT) AS n_windows,
    CAST(len(s) AS BIGINT) AS n_fingerprints,
    (1000000 * CAST(len(s) AS BIGINT)) // GREATEST(CAST(n_w AS BIGINT), 1)
        AS density_micro,
    CAST(COALESCE(list_sum(s), 0) AS BIGINT) AS fp_checksum
FROM sel
ORDER BY doc_id
"""


# ------------------------------------------------- BM25 retrieval

BM25_QUERY = ("spark", "data", "merge")  # fixed audit query
BM25_TOPK = 10
# k1 = 1.2 and b = 0.75 as exact rationals: k1(1−b) = 3/10, k1·b = 9/10,
# k1+1 = 22/10 — every coefficient a small integer once scaled by 10.


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson k1=1.2, b=0.75) for a fixed
    query — the scoring function behind every sparse-retrieval
    baseline.  Deviations for engine-exactness, both documented:
    the idf is the rational surrogate (2(N−df)+1)/(2df+1) (monotone in
    the true log-idf's argument — same trade ``text_tfidf_topk``
    makes, because libm ln differs in last ulp across engines), and
    the doc-length ratio dl/avgdl is pre-quantized to integer milli
    units.  With those two moves the whole score is a ratio of two
    exact int64 products, and the final micro-score is one BIGINT
    integer division — bit-identical in both engines.

    Scale: one projection of each document's tokens yields its
    length ``dl`` and the query-term ``tf``s; N, Σdl and the
    ``df``s are one partial-agg pass over that same per-doc table,
    broadcast back as one row.  Both read one exchange of the per-doc
    rows (a few longs per document), so the corpus is scanned and
    tokenized once.  No text shuffle, no term cross join.
    A doc's score is the sum of its hit terms' scores, and
    ``n_terms_hit`` = Σ[tfⱼ > 0].  Top-K is orderBy+limit = Spark's
    TakeOrderedAndProject (map-side heap per partition, only K rows
    to the driver).  Hit docs sort first and the no-hit rows are
    dropped after the limit: a ``tf > 0`` filter before it would be
    pushed below ``fan_out``'s exchange and split each document once
    per query term."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    tfs = [f"tf{j}" for j in range(len(BM25_QUERY))]

    def term_freq(q: str) -> Column:
        return F.size(F.filter("tk", lambda x: x == F.lit(q))).cast("long")

    # tk is read once per term and once for dl, so it stays a column:
    # each document is split once.  The doc_id exchange is the one
    # subtree both branches read (the second is a ReusedExchange):
    # without it the stats branch would scan only ``text`` and the
    # scoring branch ``doc_id, text``, so each document would be read
    # and split twice
    per_doc = (
        d.select("doc_id", tokens_col("text").alias("tk"))
        .select(
            "doc_id",
            F.size("tk").cast("long").alias("dl"),
            *[term_freq(q).alias(tf) for q, tf in zip(BM25_QUERY, tfs)],
        )
        .repartition("doc_id")
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[F.count(F.when(F.col(tf) > 0, 1)).alias(f"df{j}") for j, tf in enumerate(tfs)],
    )
    # dl·n_docs is (doc length)×(corpus count): BIGINT wraps at
    # ~9.2e15 — decimal, mirrored by the oracle's HUGEINT
    r_milli = "cast((1000 * cast(dl as decimal(19,0)) * n_docs) div sum_dl as bigint)"

    def score(j: int) -> Column:
        # numerator ~ 1e6·N·tf and denominator ~ df·tf are both
        # N-scale products — decimal/HUGEINT end-to-end
        tf, df = f"tf{j}", f"df{j}"
        return F.when(
            F.col(tf) > 0,
            F.expr(
                f"cast((1000000 * cast(2 * (n_docs - {df}) + 1"
                f" as decimal(19,0)) * (2200 * {tf}))"
                f" div (cast(2 * {df} + 1 as decimal(19,0))"
                f"      * (1000 * {tf} + 300 + (9 * {r_milli}) div 10))"
                " as bigint)"
            ),
        ).otherwise(F.lit(0).cast("long"))

    hits = sum((F.col(tf) > 0).cast("long") for tf in tfs)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            hits.alias("n_terms_hit"),
            sum(score(j) for j in range(len(tfs))).alias("bm25_micro"),
        )
        .orderBy(F.desc(F.col("n_terms_hit") > 0), F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(BM25_TOPK)
        .filter(F.col("n_terms_hit") > 0)
    )


_BM25_SQL = f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(len(tk)) AS BIGINT) AS sum_dl
    FROM toks
),
terms(term) AS (VALUES {", ".join(f"('{q}')" for q in BM25_QUERY)}),
tf AS (
    SELECT t.doc_id, q.term,
        CAST(len(t.tk) AS BIGINT) AS dl,
        CAST(len(list_filter(t.tk, x -> x = q.term)) AS BIGINT) AS tf
    FROM toks t CROSS JOIN terms q
),
hits AS (
    SELECT * FROM tf WHERE tf > 0
),
dfreq AS (
    SELECT term, COUNT(*) AS df FROM hits GROUP BY term
),
scored AS (
    SELECT h.doc_id,
        CAST((1000000 * CAST(2 * (s.n_docs - d.df) + 1 AS HUGEINT)
              * (2200 * h.tf))
        // (CAST(2 * d.df + 1 AS HUGEINT)
            * (1000 * h.tf + 300
               + (9 * CAST((1000 * CAST(h.dl AS HUGEINT) * s.n_docs) // s.sum_dl AS BIGINT)) // 10))
            AS BIGINT) AS score_micro
    FROM hits h
    JOIN dfreq d ON h.term = d.term
    CROSS JOIN stats s
)
SELECT doc_id,
    COUNT(*) AS n_terms_hit,
    CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
FROM scored
GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id ASC
LIMIT {BM25_TOPK}
"""


# ------------------------------------------------- lexical diversity

MSTTR_W = 25  # tokens per MSTTR segment (complete segments only)


def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per document: raw type-token ratio
    (TTR) plus MSTTR — mean segmental TTR over consecutive complete
    {MSTTR_W}-token segments, the standard length-independent
    diversity measure (raw TTR falls with length, so it can't compare
    docs of different sizes; MSTTR fixes the window).  Low diversity
    flags templated/boilerplate text that repetition counters miss
    when the repeats are spread out.

    Exact integer micro-units via BIGINT integer division; the MSTTR
    numerator is a per-row fold over the segment array — MAP-ONLY
    (no explode, no shuffle, no window), with the token array
    projected once so the higher-order lambdas never re-derive it.
    Docs shorter than one segment report NULL MSTTR (DuckDB mirrors
    via CASE — integer division by zero would error there)."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    t = d.select("doc_id", tokens_col("text").alias("tk"))
    n = F.size("tk").cast("bigint")
    n_segs = F.floor(n / MSTTR_W).cast("bigint")
    seg_types = F.when(
        F.col("n_segs") >= 1,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.col("n_segs").cast("int")),
                lambda i: F.size(
                    F.array_distinct(
                        F.slice("tk", (i - 1) * MSTTR_W + 1, MSTTR_W)
                    )
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    staged = t.select(
        "doc_id",
        n.alias("n_tokens"),
        n_segs.alias("n_segs"),
        F.size(F.array_distinct("tk")).cast("bigint").alias("n_types"),
        F.col("tk"),
    ).withColumn("sum_seg_types", seg_types)
    return staged.select(
        "doc_id",
        "n_tokens",
        "n_segs",
        F.expr("(1000000 * n_types) div n_tokens").alias("ttr_micro"),
        F.expr(
            f"(1000000 * sum_seg_types) div (n_segs * {MSTTR_W})"
        ).alias("msttr_micro"),
    ).orderBy("doc_id")


_MSTTR_SQL = f"""
WITH toks AS (
    SELECT doc_id, {sql_tokens("text")} AS tk FROM documents
),
per AS (
    SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_tokens,
        CAST(len(tk) // {MSTTR_W} AS BIGINT) AS n_segs,
        CAST(len(list_distinct(tk)) AS BIGINT) AS n_types
    FROM toks
),
seg AS (
    SELECT doc_id,
        UNNEST(list_transform(
            generate_series(1, CAST(len(tk) // {MSTTR_W} AS INTEGER)),
            i -> len(list_distinct(
                tk[(i-1)*{MSTTR_W}+1 : (i-1)*{MSTTR_W}+{MSTTR_W}]))
        )) AS st
    FROM toks
),
segagg AS (
    SELECT doc_id, CAST(SUM(st) AS BIGINT) AS sum_seg_types
    FROM seg GROUP BY doc_id
)
SELECT p.doc_id, p.n_tokens, p.n_segs,
    (1000000 * p.n_types) // p.n_tokens AS ttr_micro,
    CASE WHEN p.n_segs >= 1
         THEN (1000000 * a.sum_seg_types) // (p.n_segs * {MSTTR_W})
    END AS msttr_micro
FROM per p LEFT JOIN segagg a ON p.doc_id = a.doc_id
ORDER BY p.doc_id
"""


# ------------------------------------------------- tokenizer fertility


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile per (lang, source) cohort — the
    budgeting table every pre-training run starts from: how many
    (BPE-ish) tokens a cohort's text costs per whitespace word and per
    UTF-8 byte.  Fertility (subword tokens / word) is THE comparative
    metric for tokenizer quality across languages; bytes-per-token is
    what converts a raw-corpus size estimate into a token budget.
    (Reference scope: the reference is a scan-only Arrow wrapper —
    reference: src/parquetreader/reader.py:128-129 — so this, like the
    rest of the text family, is north-star pipeline surface.)

    Ratios are exact integer micro-units via BIGINT integer division
    (``(1e6·a) div b``) — no float division anywhere, so the DuckDB
    oracle is bit-identical and AQE/partial-agg reordering can't move
    a result.  Scale: one corpus pass of pure-JVM regexp counting
    (whole-stage codegen), then a cohort-grain partial-aggregated
    groupBy; shuffle carries only the tiny cohort table."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = tokens_col("text")
    words = F.size(toks).cast("bigint")
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPEISH), 0)).cast("bigint")
    nbytes = F.octet_length("text").cast("bigint")
    per_doc = d.select(
        "lang",
        "source",
        words.alias("w"),
        bpe.alias("t"),
        nbytes.alias("b"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("t").alias("n_tokens"),
            F.sum("b").alias("n_bytes"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_bytes",
            F.expr("(1000000 * n_tokens) div n_words").alias("fertility_micro"),
            F.expr("(1000000 * n_bytes) div n_tokens").alias(
                "bytes_per_token_micro"
            ),
        )
        .orderBy("lang", "source")
    )


_FERTILITY_SQL = f"""
WITH per_doc AS (
    SELECT lang, source,
        CAST(len({sql_tokens("text")}) AS BIGINT) AS w,
        CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))
             AS BIGINT) AS t,
        CAST(octet_length(encode(text)) AS BIGINT) AS b
    FROM documents
),
cohort AS (
    SELECT lang, source, COUNT(*) AS n_docs,
        CAST(SUM(w) AS BIGINT) AS n_words,
        CAST(SUM(t) AS BIGINT) AS n_tokens,
        CAST(SUM(b) AS BIGINT) AS n_bytes
    FROM per_doc GROUP BY lang, source
)
SELECT lang, source, n_docs, n_words, n_tokens, n_bytes,
    (1000000 * n_tokens) // n_words AS fertility_micro,
    (1000000 * n_bytes) // n_tokens AS bytes_per_token_micro
FROM cohort
ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# text_burrows_delta — stylometric distance between sources
# ---------------------------------------------------------------------------

BD_VOCAB = 50  # top-V function words define the style space


def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair — THE stylometric
    distance (authorship attribution's workhorse): represent each
    source by z-scored relative frequencies of the top-{BD_VOCAB}
    corpus words, Delta = mean |z_a − z_b|. Low Delta between two
    "independent" feeds is the same-author/same-generator signal that
    ``dedup_cross_source_matrix`` (content overlap) misses when the
    wording is paraphrased but the STYLE leaks through.

    Exactness: relative frequencies are 10⁹-unit integers; per-word
    μ/σ across sources come from exact sums over the DENSE source ×
    vocab profile (missing cells are true zeros — a sparse join would
    silently bias μ); per-pair |z| differences are micro-quantized
    BEFORE the word sum (fold-order-free).

    Scale: vocab and source domains are bounded, so every stage after
    the corpus token count is constant-size.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    words = d.select("source", F.explode(tokens_col("text")).alias("w"))
    # r13 (guide §2.4): ONE corpus tokenize+explode — totals and vocab
    # now REDUCE from the checkpointed (source, w) counts (Σ c per
    # source / per word are the identical integer totals the direct
    # corpus aggregates produced); before, words fed three consumers
    # and the explode planned three times.
    counts = (
        words.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("tok")
    )
    vocab = (
        counts.groupBy("w")
        .agg(F.sum("c").cast("long").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("w"))
        .limit(BD_VOCAB)
        .select("w")
    )
    from pyspark.sql import Window

    dense = (
        totals.crossJoin(F.broadcast(vocab))
        .join(counts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "(1000000000 * CAST(coalesce(c, 0) AS BIGINT)) div tok"
            ).alias("f"),
        )
    )
    ww = Window.partitionBy("w")
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    prof = dense.select(
        "source",
        "w",
        "f",
        F.count(F.lit(1)).over(ww).alias("ns"),
        F.sum("f").over(ww).alias("sf"),
        F.sum(dec38(F.col("f")) * F.col("f")).over(ww).alias("qf"),
    )
    ns = F.col("ns").cast("double")
    mu = F.col("sf").cast("double") / ns
    sigma = F.sqrt(F.col("qf").cast("double") / ns - mu * mu)
    z = prof.select(
        "source",
        "w",
        ((F.col("f").cast("double") - mu) / sigma).alias("z"),
        # (sources × BD_VOCAB)-bounded; both sides of the pair
        # self-join consume z — checkpoint so the profile pipeline
        # plans once (r13)
    ).localCheckpoint(eager=False)
    a = z.select(
        F.col("source").alias("source_a"),
        "w",
        F.col("z").alias("za"),
    )
    b = z.select(
        F.col("source").alias("source_b"),
        "w",
        F.col("z").alias("zb"),
    )
    pairs = a.join(b, "w").where(F.col("source_a") < F.col("source_b"))
    term = F.floor(F.lit(1e6) * F.abs(F.col("za") - F.col("zb"))).cast(
        "long"
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(term).alias("sum_micro"),
        )
        .select(
            "source_a",
            "source_b",
            F.expr("sum_micro div n_words").alias("delta_micro"),
        )
        .orderBy("source_a", "source_b")
    )


def _burrows_sql() -> str:
    return f"""
WITH words AS (
    SELECT source, unnest({sql_tokens("text")}) AS w FROM documents
),
counts AS (
    SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
),
totals AS (
    SELECT source, COUNT(*) AS tok FROM words GROUP BY source
),
vocab AS (
    SELECT w FROM (
        SELECT w, COUNT(*) AS cf FROM words GROUP BY w
        ORDER BY cf DESC, w ASC LIMIT {BD_VOCAB}
    )
),
dense AS (
    SELECT t.source, v.w,
        (1000000000 * CAST(COALESCE(c.c, 0) AS BIGINT)) // t.tok AS f
    FROM totals t
    CROSS JOIN vocab v
    LEFT JOIN counts c ON c.source = t.source AND c.w = v.w
),
prof AS (
    SELECT source, w, f,
        COUNT(*) OVER (PARTITION BY w) AS ns,
        SUM(f) OVER (PARTITION BY w) AS sf,
        SUM(CAST(f AS HUGEINT) * f) OVER (PARTITION BY w) AS qf
    FROM dense
),
z AS (
    SELECT source, w,
        (CAST(f AS DOUBLE) - CAST(sf AS DOUBLE) / CAST(ns AS DOUBLE))
        / SQRT(CAST(qf AS DOUBLE) / CAST(ns AS DOUBLE)
               - (CAST(sf AS DOUBLE) / CAST(ns AS DOUBLE))
                 * (CAST(sf AS DOUBLE) / CAST(ns AS DOUBLE))) AS z
    FROM prof
)
SELECT a.source AS source_a, b.source AS source_b,
    CAST(SUM(CAST(FLOOR(1000000.0 * ABS(a.z - b.z)) AS BIGINT))
         AS BIGINT) // COUNT(*) AS delta_micro
FROM z a JOIN z b ON b.w = a.w AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY a.source, b.source
"""


# ---------------------------------------------------------------------------
# text_good_turing_mass — missing probability mass per language
# ---------------------------------------------------------------------------

GT_MAX_R = 5  # smoothed-count ladder depth


def text_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing missing mass and the smoothed low-count ladder per
    language: P₀ = F₁/N is the probability the NEXT token is a word
    never seen — the number that calibrates OOV handling and tells a
    language-model smoother how much mass to reserve (Kneser–Ney's
    discount, ``text_kneser_ney_score``, is the per-n-gram version of
    exactly this reservation). The ladder r* = (r+1)·F_{{r+1}}/F_r
    for r ≤ {GT_MAX_R} shows how far raw counts overstate rare-word
    probability.

    All exact integers from the frequency-of-frequencies spectrum:
    P₀ and each r* in micro-units by truncating division; rows with
    F_r = 0 emit NULL r* (mirrored CASE).
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    freq = (
        d.select("lang", F.explode(tokens_col("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    spectrum = freq.groupBy("lang", "m").agg(
        F.count(F.lit(1)).alias("f")
    )
    caps = [
        F.sum(F.when(F.col("m") == r, F.col("f")).otherwise(0))
        .cast("long")
        .alias(f"f{r}")
        for r in range(1, GT_MAX_R + 2)
    ]
    agg = spectrum.groupBy("lang").agg(
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("f")).alias(
            "n_tokens"
        ),
        *caps,
    )
    rstars = [
        F.when(
            F.col(f"f{r}") > 0,
            F.expr(f"(1000000 * {r + 1} * f{r + 1}) div f{r}"),
        ).alias(f"rstar{r}_micro")
        for r in range(1, GT_MAX_R + 1)
    ]
    return agg.select(
        "lang",
        F.expr("CAST(n_tokens AS BIGINT)").alias("n_tokens"),
        "f1",
        F.expr("CAST((1000000 * f1) div n_tokens AS BIGINT)").alias(
            "missing_mass_micro"
        ),
        *rstars,
    ).orderBy("lang")


def _good_turing_sql() -> str:
    caps = ",\n        ".join(
        f"CAST(SUM(CASE WHEN m = {r} THEN f ELSE 0 END) AS BIGINT) AS f{r}"
        for r in range(1, GT_MAX_R + 2)
    )
    rstars = ",\n    ".join(
        f"CASE WHEN f{r} > 0 THEN (1000000 * {r + 1} * f{r + 1}) // f{r}"
        f" END AS rstar{r}_micro"
        for r in range(1, GT_MAX_R + 1)
    )
    return f"""
WITH freq AS (
    SELECT lang, w, COUNT(*) AS m
    FROM (SELECT lang, unnest({sql_tokens("text")}) AS w FROM documents)
    GROUP BY lang, w
),
spectrum AS (
    SELECT lang, m, COUNT(*) AS f FROM freq GROUP BY lang, m
),
agg AS (
    SELECT lang,
        SUM(CAST(m AS HUGEINT) * f) AS n_tokens,
        {caps}
    FROM spectrum GROUP BY lang
)
SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens, f1,
    CAST((1000000 * f1) // n_tokens AS BIGINT) AS missing_mass_micro,
    {rstars}
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# text_chao1_vocabulary — unseen-species vocabulary estimate
# ---------------------------------------------------------------------------


def text_chao1_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 estimator of TOTAL vocabulary per language — the
    unseen-species bound ecology lends to corpus planning: observed
    types V plus F₁²/(2F₂) from the singleton/doubleton counts
    estimates how many word types the corpus has NOT yet seen, i.e.
    whether more crawl budget still buys vocabulary (the asymptote
    ``text_vocab_growth`` plots, in closed form). Coverage = V/V̂ in
    micro-units is the "how done are we" readout.

    Exact integers: the frequency spectrum reduces twice (both
    vocabulary-bounded); the bias-corrected form
    F₁(F₁−1)/(2(F₂+1)) keeps the estimate finite when F₂=0 and is one
    truncating division.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    freq = (
        d.select("lang", F.explode(tokens_col("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    agg = freq.groupBy("lang").agg(
        F.count(F.lit(1)).alias("v_obs"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("m") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    unseen = F.expr("(f1 * (f1 - 1)) div (2 * (f2 + 1))")
    return agg.select(
        "lang",
        F.col("v_obs").cast("long").alias("v_observed"),
        "f1",
        "f2",
        (F.col("v_obs") + unseen).cast("long").alias("chao1_estimate"),
        F.expr(
            "(1000000 * v_obs) div (v_obs + (f1 * (f1 - 1))"
            " div (2 * (f2 + 1)))"
        ).alias("coverage_micro"),
    ).orderBy("lang")


_CHAO1_SQL = f"""
WITH freq AS (
    SELECT lang, w, COUNT(*) AS m
    FROM (SELECT lang, unnest({sql_tokens("text")}) AS w FROM documents)
    GROUP BY lang, w
),
agg AS (
    SELECT lang, COUNT(*) AS v_obs,
        CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        CAST(SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
    FROM freq GROUP BY lang
)
SELECT lang, CAST(v_obs AS BIGINT) AS v_observed, f1, f2,
    CAST(v_obs + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
        AS chao1_estimate,
    (1000000 * v_obs) // (v_obs + (f1 * (f1 - 1)) // (2 * (f2 + 1)))
        AS coverage_micro
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# text_yule_k — Yule's characteristic K vocabulary richness
# ---------------------------------------------------------------------------


def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per language — the LENGTH-INVARIANT
    vocabulary-richness constant (unlike raw TTR, which collapses as
    corpora grow; MSTTR in ``text_lexical_diversity`` fixes that by
    segmenting, Yule fixes it in closed form): K = 10⁴·(Σ m²·V_m − N)
    / N², computed from the frequency-of-frequencies spectrum V_m
    (how many word types occur exactly m times). Repetitive/templated
    corpora score high K; rich prose scores low — the stylometric
    screen used from authorship studies to synthetic-text detection.

    Exact integers end-to-end: the spectrum reduces token counts
    twice (word grain → count grain, both vocabulary-bounded);
    Σ m²·V_m accumulates in decimal(38,0); K is emitted in exact
    milli-units by truncating division.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    words = d.select("lang", F.explode(tokens_col("text")).alias("w"))
    freq = words.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("m"))
    spectrum = freq.groupBy("lang", "m").agg(
        F.count(F.lit(1)).alias("v_m")
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    agg = spectrum.groupBy("lang").agg(
        F.sum(dec38(F.col("m")) * F.col("v_m")).alias("n_tokens"),
        F.sum("v_m").alias("n_types"),
        F.sum(dec38(F.col("m")) * F.col("m") * F.col("v_m")).alias("s_m2v"),
    )
    return agg.select(
        "lang",
        F.expr("CAST(n_tokens AS BIGINT)").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.expr(
            "CAST((10000000 * (s_m2v - n_tokens))"
            " div (n_tokens * n_tokens) AS BIGINT)"
        ).alias("yule_k_milli"),
    ).orderBy("lang")


_YULE_SQL = f"""
WITH freq AS (
    SELECT lang, w, COUNT(*) AS m
    FROM (SELECT lang, unnest({sql_tokens("text")}) AS w FROM documents)
    GROUP BY lang, w
),
spectrum AS (
    SELECT lang, m, COUNT(*) AS v_m FROM freq GROUP BY lang, m
),
agg AS (
    SELECT lang,
        SUM(CAST(m AS HUGEINT) * v_m) AS n_tokens,
        CAST(SUM(v_m) AS BIGINT) AS n_types,
        SUM(CAST(m AS HUGEINT) * m * v_m) AS s_m2v
    FROM spectrum GROUP BY lang
)
SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
    CAST((10000000 * (s_m2v - n_tokens)) // (n_tokens * n_tokens)
         AS BIGINT) AS yule_k_milli
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# text_textrank_keywords — graph-based keywords (TextRank)
# ---------------------------------------------------------------------------

TR_VOCAB = 100  # graph restricted to the top-V corpus words
TR_ITERS = 8
TR_SCALE = 10**9  # rank fixed-point: r·p products stay < 2^63
TR_DAMP_NUM, TR_DAMP_DEN = 85, 100
TR_TOPK = 20


def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (Mihalcea & Tarau): damped PageRank over the
    word co-occurrence graph (consecutive-token edges, weights =
    corpus bigram counts) — the GRAPH-based keyword extractor that
    complements ``text_rake_keywords``'s degree/frequency heuristic:
    RAKE rewards words that travel in long phrases, TextRank rewards
    words recommended by other central words.

    The ``graph_pagerank`` integer recipe on a vocabulary-bounded
    graph: graph restricted to the top-{TR_VOCAB} words (count desc,
    word asc — deterministic), ranks in BIGINT 10⁹ fixed-point,
    weighted contributions (r·p_fp) div SCALE — all non-negative, so
    Spark ``div`` ≡ DuckDB ``//``; {TR_ITERS} fixed iterations; the
    oracle unrolls them as MATERIALIZED CTEs (plain CTEs re-inline
    exponentially).

    Scale: ONE corpus pass builds bigram counts; everything after
    runs on the ≤V²-edge graph — iteration cost independent of corpus
    size. Top-k is TakeOrderedAndProject.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    # tokenize ONCE: pairs, freq, and the vocab ranking all consume the
    # same regex tokenization, which Catalyst would otherwise recompute
    # per branch (3 corpus-scale regex passes measured ~1.2 s each at
    # sf0.1 — the op's real cost, not the PageRank iterations)
    tkd = d.select(tokens_col("text").alias("tk")).localCheckpoint(eager=False)
    toks = F.col("tk")
    pairs = tkd.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("a"),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("b"),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    freq = (
        tkd.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = freq.orderBy(F.desc("freq"), F.asc("w")).limit(TR_VOCAB)
    e_dir = (
        pairs.where(F.col("a") != F.col("b"))
        .join(F.broadcast(vocab.select(F.col("w").alias("a"))), "a")
        .join(F.broadcast(vocab.select(F.col("w").alias("b"))), "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    edges_u = e_dir.select("a", "b", "c").union(
        e_dir.select(
            F.col("b").alias("a"), F.col("a").alias("b"), F.col("c")
        )
    )
    edges = (
        edges_u.groupBy("a", "b").agg(F.sum("c").alias("c"))
    )
    ci = edges.groupBy("a").agg(F.sum("c").alias("ci"))
    e2 = edges.join(F.broadcast(ci), "a").select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.expr(
            f"CAST((CAST(c AS DECIMAL(38,0)) * {TR_SCALE}) div ci"
            " AS BIGINT)"
        ).alias("p_fp"),
    )
    # collect the vocab-bounded graph (≤V² edges) into ONE row and fold
    # all {TR_ITERS} damped-PageRank iterations in a single aggregate()
    # expression — the r6-r9 version checkpointed each iteration as its
    # own join job, a fixed ~4 s scheduling floor (VERDICT r9 #7 shape);
    # the fold computes the identical int64 trajectory in one task.
    zero = "CAST(0 AS BIGINT)"
    row = (
        e2.agg(
            F.sort_array(F.collect_list(F.struct("src", "dst", "p_fp"))).alias(
                "mat"
            )
        )
        .filter(F.size("mat") > 0)
        .withColumn(
            "ns", F.expr("array_sort(array_distinct(transform(mat, e -> e.src)))")
        )
        # incoming-edge adjacency per node, src pre-encoded as an index
        # into ns so the fold never re-searches the vocab array
        .withColumn(
            "adj",
            F.expr(
                "transform(ns, x -> transform("
                "  filter(mat, e -> e.dst = x),"
                "  e -> struct(CAST(array_position(ns, e.src) AS INT) AS si,"
                "              e.p_fp AS p_fp)))"
            ),
        )
        .withColumn(
            "pfin",
            F.expr(
                f"""
                aggregate(
                    sequence(1, {TR_ITERS}),
                    transform(ns, x ->
                        CAST({TR_SCALE} AS BIGINT) div size(ns)),
                    (p, it) -> transform(sequence(1, size(ns)), ix ->
                        CAST({TR_SCALE * (TR_DAMP_DEN - TR_DAMP_NUM)} AS BIGINT)
                            div ({TR_DAMP_DEN} * size(ns))
                        + ({TR_DAMP_NUM} * aggregate(element_at(adj, ix), {zero},
                            (a, e) -> a + (element_at(p, e.si) * e.p_fp)
                                          div {TR_SCALE}))
                          div {TR_DAMP_DEN})
                )
                """
            ),
        )
    )
    ranks = row.select(F.explode(F.expr("arrays_zip(ns, pfin)")).alias("z")).select(
        F.col("z.ns").alias("w"), F.col("z.pfin").alias("r")
    )
    out = (
        ranks.join(F.broadcast(vocab), ranks.w == vocab.w)
        .select(
            ranks.w.alias("word"),
            "freq",
            F.col("r").alias("rank_fp"),
            F.round(
                F.col("r").cast("double") / F.lit(float(TR_SCALE)), 9
            ).alias("rank"),
        )
    )
    return out.orderBy(F.desc("rank_fp"), F.asc("word")).limit(TR_TOPK)


def _textrank_sql() -> str:
    steps = []
    for i in range(TR_ITERS):
        steps.append(f"""
c{i} AS MATERIALIZED (
    SELECT e.dst AS w, SUM((p.r * e.p_fp) // {TR_SCALE}) AS s
    FROM tr{i} p JOIN e2 e ON e.src = p.w
    GROUP BY 1
),
tr{i + 1} AS MATERIALIZED (
    SELECT n.w,
           (SELECT base FROM consts)
           + ({TR_DAMP_NUM} * COALESCE(c.s, 0)) // {TR_DAMP_DEN} AS r
    FROM nodes n LEFT JOIN c{i} c ON c.w = n.w
)""")
    return f"""
WITH toks AS (
    SELECT {sql_tokens("text")} AS t FROM documents
),
pairs AS (
    -- generate_series as a LIST function: the table-function form
    -- rejects lateral column arguments (cross-engine gotcha)
    SELECT p.a AS a, p.b AS b FROM (
        SELECT unnest(list_transform(
            generate_series(1, len(t) - 1),
            i -> struct_pack(a := t[i], b := t[i + 1]))) AS p
        FROM toks
    )
),
freq AS (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest(t) AS w FROM toks)
    GROUP BY w
),
vocab AS MATERIALIZED (
    SELECT w, freq FROM freq ORDER BY freq DESC, w ASC LIMIT {TR_VOCAB}
),
e_dir AS (
    SELECT p.a, p.b, COUNT(*) AS c
    FROM pairs p
    JOIN vocab va ON va.w = p.a
    JOIN vocab vb ON vb.w = p.b
    WHERE p.a <> p.b
    GROUP BY p.a, p.b
),
edges AS (
    SELECT a, b, SUM(c) AS c FROM (
        SELECT a, b, c FROM e_dir
        UNION ALL
        SELECT b AS a, a AS b, c FROM e_dir
    ) GROUP BY a, b
),
ci AS (
    SELECT a, SUM(c) AS ci FROM edges GROUP BY a
),
e2 AS MATERIALIZED (
    SELECT e.a AS src, e.b AS dst,
           CAST((CAST(e.c AS HUGEINT) * {TR_SCALE}) // ci.ci AS BIGINT)
               AS p_fp
    FROM edges e JOIN ci ON ci.a = e.a
),
nodes AS MATERIALIZED (
    SELECT DISTINCT src AS w FROM e2
),
consts AS (
    SELECT (CAST({TR_SCALE} AS BIGINT) * {TR_DAMP_DEN - TR_DAMP_NUM})
               // ({TR_DAMP_DEN} * COUNT(*)) AS base,
           CAST({TR_SCALE} AS BIGINT) // COUNT(*) AS init
    FROM nodes
),
tr0 AS (
    SELECT w, (SELECT init FROM consts) AS r FROM nodes
),{",".join(steps)}
SELECT t.w AS word, v.freq, CAST(t.r AS BIGINT) AS rank_fp,
       ROUND(CAST(t.r AS DOUBLE) / {float(TR_SCALE)}, 9) AS rank
FROM tr{TR_ITERS} t JOIN vocab v ON v.w = t.w
ORDER BY t.r DESC, t.w ASC
LIMIT {TR_TOPK}
"""


# ---------------------------------------------------------------------------
# text_rake_keywords — RAKE keyword extraction (degree/frequency)
# ---------------------------------------------------------------------------

RAKE_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
    "as", "by", "at", "an", "be", "this", "that", "it", "are", "was",
)
RAKE_TOPK = 20
# Separator = any non-letter/space char OR a stopword. \b is the ASCII
# word boundary in BOTH Java regex (Spark) and RE2 (DuckDB); no
# lookarounds (RE2 has none). Spaces stay INSIDE phrases — that is
# what makes RAKE phrases multi-word.
_RAKE_SEP = "(?:[^a-z ]|\\b(?:" + "|".join(RAKE_STOPWORDS) + ")\\b)+"


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction): split each document
    into candidate phrases at stopwords/punctuation, score each word
    by degree/frequency over the phrase corpus (degree = Σ length of
    phrases containing it — words that travel in long phrases score
    high), score each phrase by the sum of its member-word scores,
    report the global top-{RAKE_TOPK}. The unsupervised keyword
    extractor run before anyone has labels — and the standard quick
    topic readout over a new corpus.

    Exact integers: word scores are micro-units via truncating
    division (degree sums in decimal(38,0) — corpus-scale counts
    squared by the 10⁶ scale cross int64); phrase scores are integer
    sums of member scores. Ties break on the phrase string.

    Scale: phrase split is embarrassingly parallel; word stats reduce
    to the vocabulary; phrase scoring joins the DISTINCT-phrase table
    (never per-occurrence) against the broadcast-size word-score
    table; top-k is TakeOrderedAndProject, no global sort
    materialization.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    pieces = F.split(F.lower(F.col("text")), _RAKE_SEP, -1)
    raw = d.select(F.explode(pieces).alias("piece")).select(
        F.trim(F.col("piece")).alias("piece")
    )
    words_arr = F.filter(
        F.split(F.col("piece"), " +", -1), lambda w: w != ""
    )
    phrases = raw.where(F.col("piece") != "").select(
        F.array_join(words_arr, " ").alias("phrase"),
        F.size(words_arr).alias("n_words"),
        words_arr.alias("words"),
    )
    # corpus word stats over phrase OCCURRENCES
    wstats = (
        phrases.select(F.explode("words").alias("w"), "n_words")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("deg"),
        )
        .select(
            "w",
            F.expr(
                "CAST((1000000 * CAST(deg AS DECIMAL(38,0))) div freq"
                " AS BIGINT)"
            ).alias("w_score_micro"),
        )
    )
    dphr = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max("n_words").alias("n_words"),
        F.max("words").alias("words"),
    )
    scored = (
        dphr.select(
            "phrase", "n_occurrences", "n_words", F.explode("words").alias("w")
        )
        .join(F.broadcast(wstats), "w")
        .groupBy("phrase", "n_occurrences", "n_words")
        .agg(F.sum("w_score_micro").alias("score_micro"))
    )
    return scored.orderBy(
        F.desc("score_micro"), F.asc("phrase")
    ).limit(RAKE_TOPK)


_RAKE_SQL = f"""
WITH raw AS (
    SELECT trim(p) AS piece
    FROM documents,
         UNNEST(regexp_split_to_array(lower(text), '{_RAKE_SEP}')) AS t(p)
),
phrases AS (
    SELECT array_to_string(words, ' ') AS phrase,
           len(words) AS n_words, words
    FROM (
        SELECT list_filter(string_split_regex(piece, ' +'), w -> w <> '')
                   AS words
        FROM raw WHERE piece <> ''
    )
),
wstats AS (
    SELECT w,
           CAST((1000000 * CAST(SUM(n_words) AS HUGEINT)) // COUNT(*)
                AS BIGINT) AS w_score_micro
    FROM (SELECT unnest(words) AS w, n_words FROM phrases)
    GROUP BY w
),
dphr AS (
    SELECT phrase, COUNT(*) AS n_occurrences,
           MAX(n_words) AS n_words, MAX(words) AS words
    FROM phrases
    GROUP BY phrase
),
scored AS (
    SELECT d.phrase, d.n_occurrences, d.n_words,
           CAST(SUM(s.w_score_micro) AS BIGINT) AS score_micro
    FROM (SELECT phrase, n_occurrences, n_words, unnest(words) AS w
          FROM dphr) d
    JOIN wstats s ON s.w = d.w
    GROUP BY d.phrase, d.n_occurrences, d.n_words
)
SELECT phrase, n_occurrences, CAST(n_words AS INTEGER) AS n_words,
       score_micro
FROM scored
ORDER BY score_micro DESC, phrase ASC
LIMIT {RAKE_TOPK}
"""


WIMBD_TOPK = 20


def quality_wimbd_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIMBD-style ('What's In My Big Data', Elazar et al. 2023)
    most-common-trigram audit: the single most effective smell test
    for a web corpus — boilerplate, navigation chrome, and license
    blurbs surface instantly as top n-grams with huge doc spread.

    Per top-{WIMBD_TOPK} trigram (count desc, gram asc —
    deterministic): occurrence count, distinct-doc count, and its
    share of ALL trigram positions in micro-units.  The total
    position count is a map-side identity (sum of max(len-2, 0)) —
    no second pass over the exploded gram table.

    Scale: explode → two-level aggregate ((gram, doc) then gram) →
    TakeOrderedAndProject for the top-k; the only full-width shuffle
    keys on the gram hash, and the final top-k never materializes a
    global sort.  Same topology as the winnowing/BM25 ops.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = tokens_col("text")
    n = F.size(toks)
    grams = bind(
        toks,
        lambda t: F.when(
            F.size(t) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 3),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, 3)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    exploded = d.select(
        "doc_id", F.explode(grams).alias("gram")
    )
    per_doc = exploded.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_gram = per_doc.groupBy("gram").agg(
        F.sum("c").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    total = d.select(
        F.greatest(n - 2, F.lit(0)).cast("long").alias("pos")
    ).agg(F.sum("pos").alias("n_total_positions"))
    top = per_gram.orderBy(
        F.col("n_occurrences").desc(), F.col("gram").asc()
    ).limit(WIMBD_TOPK)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "gram",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr(
                "(1000000 * n_occurrences) div n_total_positions"
            ).alias("share_micro"),
            F.col("n_total_positions").cast("long").alias("n_total_positions"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
    )


_WIMBD_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, unnest(
        CASE WHEN len(t) >= 3 THEN
            list_transform(generate_series(1, len(t) - 2),
                           i -> array_to_string(t[i:i+2], ' '))
        ELSE [] END) AS gram
    FROM toks
),
per_gram AS (
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams GROUP BY gram
),
total AS (
    SELECT CAST(SUM(GREATEST(len(t) - 2, 0)) AS BIGINT)
               AS n_total_positions
    FROM toks
)
SELECT gram, n_occurrences, n_docs,
       (1000000 * n_occurrences) // n_total_positions AS share_micro,
       n_total_positions
FROM per_gram CROSS JOIN total
ORDER BY n_occurrences DESC, gram ASC
LIMIT {WIMBD_TOPK}
"""


QUERIES = {
    "quality_wimbd_top_ngrams": quality_wimbd_top_ngrams,
    "text_rake_keywords": text_rake_keywords,
    "text_textrank_keywords": text_textrank_keywords,
    "text_yule_k": text_yule_k,
    "text_chao1_vocabulary": text_chao1_vocabulary,
    "text_good_turing_mass": text_good_turing_mass,
    "text_burrows_delta": text_burrows_delta,
    "text_bm25_topk": text_bm25_topk,
    "text_langid_ngram_profile": text_langid_ngram_profile,
    "quality_ndcg_ranking_eval": quality_ndcg_ranking_eval,
    "text_winnowing_fingerprints": text_winnowing_fingerprints,
    "text_lexical_diversity": text_lexical_diversity,
    "text_tokenizer_fertility": text_tokenizer_fertility,
    "text_vocab_growth": text_vocab_growth,
    "text_watermark_greenlist": text_watermark_greenlist,
    "quality_perplexity_buckets": quality_perplexity_buckets,
    "text_kneser_ney_score": text_kneser_ney_score,
    "text_overlap_stitch": text_overlap_stitch,
    "quality_langid_confusion": quality_langid_confusion,
    "text_bigram_surprisal": text_bigram_surprisal,
    "text_tfidf_topk": text_tfidf_topk,
    "text_chunk_windows": text_chunk_windows,
    "text_token_count": text_token_count,
    "text_stats": text_stats,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_corpus_rollup": text_corpus_rollup,
}

ORACLES = {
    "quality_wimbd_top_ngrams": _WIMBD_SQL,
    "text_rake_keywords": _RAKE_SQL,
    "text_textrank_keywords": _textrank_sql(),
    "text_yule_k": _YULE_SQL,
    "text_chao1_vocabulary": _CHAO1_SQL,
    "text_good_turing_mass": _good_turing_sql(),
    "text_burrows_delta": _burrows_sql(),
    "text_bm25_topk": _BM25_SQL,
    "text_langid_ngram_profile": _CT_LANGID_SQL,
    "quality_ndcg_ranking_eval": _ndcg_sql(),
    "text_winnowing_fingerprints": _WINNOW_SQL,
    "text_lexical_diversity": _MSTTR_SQL,
    "text_tokenizer_fertility": _FERTILITY_SQL,
    "text_vocab_growth": _VOCAB_GROWTH_SQL,
    "text_watermark_greenlist": _WATERMARK_SQL,
    "quality_perplexity_buckets": _PPL_BUCKETS_SQL,
    "text_kneser_ney_score": _KN_SQL,
    "text_overlap_stitch": _STITCH_SQL,
    "quality_langid_confusion": _LANGID_CONFUSION_SQL,
    "text_bigram_surprisal": _BIGRAM_SURPRISAL_SQL,
    "text_tfidf_topk": _TFIDF_SQL,
    "text_chunk_windows": _chunk_sql(),
    "text_token_count": _TEXT_TOKEN_COUNT_SQL,
    "text_stats": _TEXT_STATS_SQL,
    "text_langid": _TEXT_LANGID_SQL,
    "text_fingerprint": _TEXT_FINGERPRINT_SQL,
    "text_corpus_rollup": _TEXT_CORPUS_SQL,
}
