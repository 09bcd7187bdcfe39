"""Corpus statistics of tokens, n-grams and characters (the ``text_*``
ops), plus ``func_edit_distance``.  Numeric policy: see ``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import count_table, fan_out, load
from parquet_batch_spark.functions.text import sql_tokens, tokens_col


# ---------------------------------------------------------------------------
# text_zipf_fit — Zipf exponent of the corpus rank-frequency curve
# ---------------------------------------------------------------------------

ZIPF_TOP = 1000  # fit over the head of the rank-frequency curve


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of log(freq) on log(rank) over the top-{ZIPF_TOP} tokens.

    A natural-language corpus follows Zipf's law (slope ≈ −1); crawl
    corpora polluted by boilerplate or spam bend the curve — the slope
    is a standard corpus-health metric. Logs are quantized to integer
    MILLI-units (``round(1000·ln(v))``) so every moment sum is an
    exact int64, order-insensitive and bit-identical to the oracle
    (the ~1e-3 quantization error is far below the metric's useful
    resolution). Ranks are made total by (freq DESC, token ASC).

    Scale: token count is one explode+reduce shuffle; the top-K head
    is a single ``ORDER BY … LIMIT`` (Spark's TakeOrdered — no full
    sort materialization) and the 5-scalar moment reduce is driver-free.
    """
    d = load(spark, sf_dir, "documents")
    freqs = (
        d.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(ZIPF_TOP)
    )
    ranked = freqs.select(
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("token")))
        .alias("rank"),
        "freq",
    )
    xm = F.round(F.log(F.col("rank").cast("double")) * 1000).cast("long")
    ym = F.round(F.log(F.col("freq").cast("double")) * 1000).cast("long")
    moments = ranked.select(xm.alias("x"), ym.alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    return moments.select(
        F.col("n").cast("long").alias("n_tokens_fit"),
        F.round(slope, 6).alias("zipf_slope_milli"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_milli"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
    )


_ZIPF_SQL = f"""
WITH freqs AS (
    SELECT token, COUNT(*) AS freq
    FROM (SELECT UNNEST({sql_tokens("text")}) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT {ZIPF_TOP}
),
ranked AS (
    SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank, freq
    FROM freqs
),
m AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM (
        SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
               CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1000) AS BIGINT) AS y
        FROM ranked
    )
)
SELECT CAST(n AS BIGINT) AS n_tokens_fit,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS zipf_slope_milli,
       ROUND((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept_milli,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r2
FROM m
"""

# ---------------------------------------------------------------------------
# text_pmi_cooccurrence — pointwise mutual information of token pairs
# ---------------------------------------------------------------------------

PMI_MIN_PAIRS = 5  # drop pairs rarer than this


def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level pointwise mutual information for token pairs:
    which words co-occur more than independence predicts — collocation
    mining, the classic first step of phrase detection for tokenizer
    and n-gram vocabulary decisions.

    PMI = log2(N·c_ab / (c_a·c_b)) over DISTINCT-per-document token
    incidence; pairs are oriented a < b. All counts are exact; the log
    is rounded to 6dp.

    Scale: the pair join is per-document over the DISTINCT token set —
    bounded by vocabulary size per doc, not doc length — and the
    (a, b) count aggregation is map-side combined. Vocabulary-bounded
    output (≤ |V|²/2 rows) regardless of corpus size.
    """
    d = load(spark, sf_dir, "documents")
    incidence = (
        d.select("doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("t"))
    )
    n_docs = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    singles = incidence.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    a = incidence.select("doc_id", F.col("t").alias("ta"))
    b = incidence.select("doc_id", F.col("t").alias("tb"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_PAIRS)
    )
    ca = singles.select(F.col("t").alias("ta"), F.col("c").alias("c_a"))
    cb = singles.select(F.col("t").alias("tb"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log2(
            F.col("n_docs").cast("double")
            * F.col("c_ab").cast("double")
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(ca), "ta")
        .join(F.broadcast(cb), "tb")
        .crossJoin(F.broadcast(n_docs))
        .select("ta", "tb", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
        .orderBy("ta", "tb")
    )


_PMI_SQL = f"""
WITH incidence AS (
    SELECT doc_id, t
    FROM (SELECT doc_id, UNNEST(list_distinct({sql_tokens("text")})) AS t FROM documents)
),
singles AS (
    SELECT t, COUNT(*) AS c FROM incidence GROUP BY t
),
pairs AS (
    SELECT a.t AS ta, b.t AS tb, COUNT(*) AS c_ab
    FROM incidence a JOIN incidence b ON a.doc_id = b.doc_id AND a.t < b.t
    GROUP BY 1, 2
    HAVING COUNT(*) >= {PMI_MIN_PAIRS}
)
SELECT ta, tb, c_ab, sa.c AS c_a, sb.c AS c_b,
       ROUND(LOG2(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) * CAST(c_ab AS DOUBLE)
                  / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE))), 6) AS pmi
FROM pairs
JOIN singles sa ON pairs.ta = sa.t
JOIN singles sb ON pairs.tb = sb.t
ORDER BY ta, tb
"""

# ---------------------------------------------------------------------------
# text_ngram_coverage_curve — cumulative token coverage of the top vocab
# ---------------------------------------------------------------------------

COVERAGE_CHECKPOINTS = (1, 2, 4, 8, 16, 32, 64, 128)


def text_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative corpus coverage of the top-k vocabulary: what
    fraction of all token occurrences the k most frequent tokens
    cover, at power-of-two checkpoints — the curve that sizes a
    tokenizer vocabulary (where it flattens, bigger vocab buys
    nothing).

    Ranks are total (freq DESC, token ASC); cumulative counts are
    exact int64 window sums over the REDUCED vocabulary table; shares
    are 6dp ratios.
    """
    d = load(spark, sf_dir, "documents")
    freqs = (
        d.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rank_w = Window.orderBy(F.desc("freq"), F.asc("token"))
    cum_w = rank_w.rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.partitionBy()
    ranked = freqs.select(
        F.row_number().over(rank_w).cast("long").alias("rank"),
        F.sum("freq").over(cum_w).alias("cum_tokens"),
        F.sum("freq").over(tot_w).alias("total_tokens"),
    )
    return (
        ranked.where(F.col("rank").isin(*COVERAGE_CHECKPOINTS))
        .select(
            "rank",
            "cum_tokens",
            F.round(
                F.col("cum_tokens").cast("double") / F.col("total_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("rank")
    )


_COVERAGE_SQL = f"""
WITH freqs AS (
    SELECT token, COUNT(*) AS freq
    FROM (SELECT UNNEST({sql_tokens("text")}) AS token FROM documents)
    GROUP BY token
),
ranked AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS BIGINT) AS rank,
           SUM(freq) OVER (ORDER BY freq DESC, token ASC ROWS UNBOUNDED PRECEDING) AS cum_tokens,
           SUM(freq) OVER () AS total_tokens
    FROM freqs
)
SELECT rank, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       ROUND(CAST(cum_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS coverage
FROM ranked
WHERE rank IN {COVERAGE_CHECKPOINTS}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# text_readability_scores — Flesch-style reading ease per cohort
# ---------------------------------------------------------------------------


def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style reading-ease per (lang, source) cohort: 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words), with syllables
    approximated by vowel-group counts (the standard proxy when no
    dictionary is available) — the readability screen a curation
    pipeline adds next to Gopher rules.

    All three counts are exact integers (regexp counts per document,
    summed per cohort); the score is derived from exact-ratio doubles
    and rounded to 6dp. Sentences floor at 1 per document so the ratio
    is defined for fragment documents.

    Scale: pure JVM regexp counting in one pass, then a cohort-grain
    reduce.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n_words = F.size(toks)
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.split("text", r"[.!?]+")) - 1,
    )
    n_syl = F.size(
        F.filter(
            F.split(F.lower("text"), r"[^aeiou]+"),
            lambda t: t != "",
        )
    )
    per_cohort = (
        d.select("lang", "source", n_words.alias("w"), n_sent.alias("s"), n_syl.alias("y"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("sw"),
            F.sum("s").alias("ss"),
            F.sum("y").alias("sy"),
        )
    )
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("sw").cast("double") / F.col("ss").cast("double"))
        - F.lit(84.6) * (F.col("sy").cast("double") / F.col("sw").cast("double")),
        6,
    )
    return per_cohort.select(
        "lang",
        "source",
        "n_docs",
        F.col("sw").alias("n_words"),
        F.col("ss").alias("n_sentences"),
        F.col("sy").alias("n_syllables"),
        score.alias("reading_ease"),
    ).orderBy("lang", "source")


_READABILITY_SQL = """
WITH per_doc AS (
    SELECT lang, source,
           len(string_split_regex(trim(text), '\\s+')) AS w,
           GREATEST(1, len(string_split_regex(text, '[.!?]+')) - 1) AS s,
           len(list_filter(string_split_regex(lower(text), '[^aeiou]+'), t -> t <> '')) AS y
    FROM documents
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(s) AS BIGINT) AS n_sentences,
       CAST(SUM(y) AS BIGINT) AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(SUM(w) AS DOUBLE) / CAST(SUM(s) AS DOUBLE))
             - 84.6 * (CAST(SUM(y) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)), 6) AS reading_ease
FROM per_doc
GROUP BY lang, source
ORDER BY lang, source
"""

# ---------------------------------------------------------------------------
# text_code_detection — code-vs-prose heuristic screen
# ---------------------------------------------------------------------------

CODE_SYMBOL_MICRO = 30_000  # ≥3% symbol chars → code-ish signal
CODE_MIN_SIGNALS = 2


def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen per cohort: three cheap signals — symbol
    density ({{}}();=<> etc.), line-initial indentation, and
    camelCase/snake_case identifiers — each an exact integer
    micro-ratio; a document is "code-like" when ≥{CODE_MIN_SIGNALS}
    signals fire. The router that decides whether text goes to the
    prose pipeline or the code pipeline (different dedup, different
    quality rules).

    Scale: three JVM regexp counts in one pass, cohort-grain reduce.
    """
    d = load(spark, sf_dir, "documents")
    n_chars = F.greatest(F.lit(1), F.length("text"))
    n_sym = n_chars - F.length(F.regexp_replace("text", r"[{}()\[\];=<>]", ""))
    sym_micro = F.floor(F.lit(1000000.0) * n_sym / n_chars)
    n_indent = F.size(F.split("text", r"\n[ \t]{2,}")) - 1
    n_ident = F.size(F.split("text", r"[a-z][A-Z]|_[a-z]")) - 1
    s1 = (sym_micro >= CODE_SYMBOL_MICRO).cast("int")
    s2 = (n_indent >= 2).cast("int")
    s3 = (n_ident >= 3).cast("int")
    flagged = d.select(
        "lang",
        "source",
        ((s1 + s2 + s3) >= CODE_MIN_SIGNALS).alias("code_like"),
    )
    return (
        flagged.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("code_like"), 1).otherwise(0))
            .cast("long")
            .alias("n_code_like"),
        )
        .orderBy("lang", "source")
    )


_CODE_SQL = f"""
WITH per_doc AS (
    SELECT lang, source,
           GREATEST(1, LENGTH(text)) AS n_chars,
           GREATEST(1, LENGTH(text)) - LENGTH(regexp_replace(text, '[{{}}()\\[\\];=<>]', '', 'g')) AS n_sym,
           len(string_split_regex(text, '\\n[ \\t]{{2,}}')) - 1 AS n_indent,
           len(string_split_regex(text, '[a-z][A-Z]|_[a-z]')) - 1 AS n_ident
    FROM documents
),
flagged AS (
    SELECT lang, source,
           (CASE WHEN FLOOR(1000000.0 * n_sym / n_chars) >= {CODE_SYMBOL_MICRO} THEN 1 ELSE 0 END
            + CASE WHEN n_indent >= 2 THEN 1 ELSE 0 END
            + CASE WHEN n_ident >= 3 THEN 1 ELSE 0 END) >= {CODE_MIN_SIGNALS} AS code_like
    FROM per_doc
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN code_like THEN 1 ELSE 0 END) AS BIGINT) AS n_code_like
FROM flagged
GROUP BY lang, source
ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# func_edit_distance — built-in Levenshtein + normalized similarity
# ---------------------------------------------------------------------------


def func_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in Levenshtein edit distance between neighboring part
    names (by part key) with a micro-quantized normalized similarity
    1 − d/max(|a|,|b|) — the scalar primitive under fuzzy matching,
    exposed directly (``dedup_fuzzy_levenshtein`` builds the scalable
    pair generation on top; this op pins the METRIC's cross-engine
    agreement).

    Both engines implement classic unweighted Levenshtein; similarity
    is exact-integer micro-units. One lead window per sorted slice.
    """
    p = load(spark, sf_dir, "part")
    w = Window.orderBy("p_partkey")
    pairs = (
        p.where(F.col("p_partkey") % 20 == 0)
        .select("p_partkey", "p_name")
        .select(
            "p_partkey",
            "p_name",
            F.lead("p_name").over(w).alias("next_name"),
        )
        .where(F.col("next_name").isNotNull())
    )
    d = F.levenshtein("p_name", "next_name")
    sim = F.floor(
        F.lit(1000000.0)
        * (
            F.lit(1.0)
            - d.cast("double")
            / F.greatest(F.length("p_name"), F.length("next_name")).cast("double")
        )
    ).cast("long")
    return pairs.select(
        "p_partkey",
        "p_name",
        "next_name",
        d.cast("long").alias("edit_distance"),
        sim.alias("similarity_micro"),
    ).orderBy("p_partkey")


_EDIT_SQL = """
WITH pairs AS (
    SELECT p_partkey, p_name,
           LEAD(p_name) OVER (ORDER BY p_partkey) AS next_name
    FROM part
    WHERE p_partkey % 20 = 0
)
SELECT p_partkey, p_name, next_name,
       CAST(levenshtein(p_name, next_name) AS BIGINT) AS edit_distance,
       CAST(FLOOR(1000000.0 * (1.0 - CAST(levenshtein(p_name, next_name) AS DOUBLE)
            / CAST(GREATEST(LENGTH(p_name), LENGTH(next_name)) AS DOUBLE))) AS BIGINT) AS similarity_micro
FROM pairs
WHERE next_name IS NOT NULL
ORDER BY p_partkey
"""

# ---------------------------------------------------------------------------
# text_js_divergence — Jensen–Shannon divergence between source vocabularies
# ---------------------------------------------------------------------------


def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) between every PAIR of sources'
    token distributions — the symmetric, bounded [0,1] corpus-distance
    that answers "which feeds are interchangeable and which bring
    genuinely different text". Computed from one token count per
    (source, token): per-pair terms ½(p·log2(2p/(p+q)) +
    q·log2(2q/(p+q))) are 6dp-rounded and decimal-summed
    (order-insensitive); absent tokens contribute q=0 terms exactly.

    Scale: the count table is (sources × vocab)-bounded; the pair join
    is a self-join on token over that REDUCED table, and pair count is
    |sources|²/2 — all domain-bounded.
    """
    d = load(spark, sf_dir, "documents")
    # counts feeds totals, probs and both grid domains; dense feeds
    # both sides of the pair self-join — checkpoint the two
    # (sources × vocab)-bounded tables so the corpus tokenize+explode
    # plans once, not eight times (r13, guide §2.4)
    counts = (
        d.select("source", F.explode(tokens_col("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    probs = counts.join(totals, "source").select(
        "source", "tok", (F.col("c").cast("double") / F.col("tot").cast("double")).alias("p")
    )
    # densify: a token absent from one source must still contribute its
    # q=0 term (worth p/2 of divergence) — an inner join on token would
    # silently drop exactly the tokens that make sources differ most
    grid = (
        counts.select("source").distinct().crossJoin(counts.select("tok").distinct())
    )
    dense = (
        grid.join(probs, ["source", "tok"], "left")
        .select("source", "tok", F.coalesce("p", F.lit(0.0)).alias("p"))
        .localCheckpoint(eager=False)
    )
    a = dense.select(F.col("source").alias("sa"), "tok", F.col("p").alias("pa"))
    b = dense.select(F.col("source").alias("sb"), "tok", F.col("p").alias("pb"))
    pairs = a.join(b, "tok").where(
        (F.col("sa") < F.col("sb")) & ((F.col("pa") > 0) | (F.col("pb") > 0))
    )
    pa = F.col("pa")
    pb = F.col("pb")
    term = F.round(
        0.5
        * (
            F.when(pa > 0, pa * F.log2(2.0 * pa / (pa + pb))).otherwise(0.0)
            + F.when(pb > 0, pb * F.log2(2.0 * pb / (pa + pb))).otherwise(0.0)
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        pairs.select("sa", "sb", term.alias("term"))
        .groupBy("sa", "sb")
        .agg(F.sum("term").cast("decimal(18,6)").cast("double").alias("js_bits"))
        .orderBy("sa", "sb")
    )


_JS_SQL = f"""
WITH counts AS (
    SELECT source, tok, COUNT(*) AS c
    FROM (SELECT source, UNNEST({sql_tokens("text")}) AS tok FROM documents)
    GROUP BY 1, 2
),
probs AS (
    SELECT source, tok,
           CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS p
    FROM counts
),
dense AS (
    SELECT g.source, g.tok, COALESCE(p.p, 0.0) AS p
    FROM (SELECT s.source, t.tok
          FROM (SELECT DISTINCT source FROM counts) s,
               (SELECT DISTINCT tok FROM counts) t) g
    LEFT JOIN probs p ON g.source = p.source AND g.tok = p.tok
),
pairs AS (
    SELECT a.source AS sa, b.source AS sb, a.p AS pa, b.p AS pb
    FROM dense a JOIN dense b ON a.tok = b.tok AND a.source < b.source
    WHERE a.p > 0 OR b.p > 0
)
SELECT sa, sb,
       CAST(CAST(SUM(CAST(ROUND(0.5 * (
               CASE WHEN pa > 0 THEN pa * LOG2(2.0 * pa / (pa + pb)) ELSE 0.0 END
             + CASE WHEN pb > 0 THEN pb * LOG2(2.0 * pb / (pa + pb)) ELSE 0.0 END), 6)
           AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS js_bits
FROM pairs
GROUP BY sa, sb
ORDER BY sa, sb
"""


# ---------------------------------------------------------------------------
# text_char_entropy — character-entropy junk screen per cohort
# ---------------------------------------------------------------------------


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy averaged per (lang, source)
    cohort — the junk detector orthogonal to word-level rules:
    base64/hex blobs score near log2(alphabet) (too HIGH), repeated-
    character padding scores near 0 (too LOW); natural text sits in a
    band. Complements ``text_code_detection``'s symbol heuristics.

    Per (doc, char) counts reduce first (rows ≤ corpus characters,
    map-side combined); per-doc entropies are 6dp-rounded sums of
    rounded −p·log2 p terms (exact decimal accumulation at BOTH
    levels), then averaged per cohort with exact counts.

    Scale: the explode is the honest cost (1 row per character before
    combine); everything after runs on (doc × alphabet)-bounded rows.
    """
    d = load(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "lang", "source", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    doc_w = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.sum("c").over(doc_w).cast("double")
    term = F.round(-p * F.log2(p), 6).cast("decimal(18,6)")
    per_doc = (
        counts.select("doc_id", "lang", "source", term.alias("t"))
        .groupBy("doc_id", "lang", "source")
        .agg(F.sum("t").cast("decimal(18,6)").alias("h"))
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("h").cast("decimal(28,6)").alias("h_sum"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            # integer micro-units: h_sum is 6dp-exact decimal, so
            # h_sum·1e6 is an exact int and the floor-divide is
            # engine-identical — ROUND(sum/n, 6) was NOT (on-grid
            # decimal quotients straddle the double grid and the two
            # engines' round implementations disagree; caught by the
            # dual-SF sweep)
            F.floor(
                (F.col("h_sum") * 1000000).cast("long")
                / F.col("n_docs").cast("double")
            )
            .cast("long")
            .alias("avg_char_entropy_micro"),
        )
        .orderBy("lang", "source")
    )


_CHAR_ENTROPY_SQL = """
WITH chars AS (
    SELECT doc_id, lang, source, UNNEST(string_split_regex(text, '')) AS ch
    FROM documents
),
counts AS (
    SELECT doc_id, lang, source, ch, COUNT(*) AS c
    FROM chars WHERE ch <> '' GROUP BY 1, 2, 3, 4
),
terms AS (
    SELECT doc_id, lang, source,
           CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY doc_id) AS DOUBLE))
                * LOG2(CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY doc_id) AS DOUBLE)),
                6) AS DECIMAL(18,6)) AS t
    FROM counts
),
per_doc AS (
    SELECT doc_id, lang, source, CAST(SUM(t) AS DECIMAL(18,6)) AS h
    FROM terms GROUP BY 1, 2, 3
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(FLOOR(CAST(CAST(CAST(SUM(h) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_char_entropy_micro
FROM per_doc
GROUP BY lang, source
ORDER BY lang, source
"""


# ------------------------------------------------- word burstiness

BURST_MIN_DF = 5  # profile words appearing in at least this many docs
BURST_TOPK = 50


def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness profile (Church/Gale): content words CLUMP —
    given one occurrence, more become likely — while function words
    spread Poisson-like.  Two exact measures per vocabulary word:
    the Fano factor of its per-document counts (variance-to-mean over
    ALL docs, zeros included; 1 = Poisson, >1 = bursty) and the
    expected extra occurrences per touched doc ((total − df)/df).
    Burstiness separates topical terms from glue BETTER than raw
    frequency — it is the statistical footing under stopword lists
    and tf saturation in BM25.  ``agg_fano_dispersion`` applies the
    same statistic to daily order counts; this applies it per WORD
    over the corpus — the vocab-bounded table a tokenizer/stopword
    audit reads.

    Exact integers throughout: S=Σc, S2=Σc² per word, fano_micro =
    1e6·(N·S2 − S²)/(N·S) with every product int64-bounded at the
    tested scales.  Top-{BURST_TOPK} by (fano, word) — deterministic.
    Scale: one (doc, word) count reduction, one vocab-grain
    aggregate, TakeOrdered."""
    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    n_docs = count_table(spark, sf_dir, "documents")
    per = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = per.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s"),
        # Σc² is N·L²-scale — sum in decimal (oracle: HUGEINT) so a
        # stopword's second moment can't wrap int64 at corpus scale
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("s2"),
    ).filter(F.col("df") >= BURST_MIN_DF)
    return (
        vocab.select(
            "w",
            "df",
            "s",
            # s² is (total word count)²: decimal end-to-end, mirrored
            # by the oracle's HUGEINT — BIGINT wraps at s ~ 3e9
            F.expr(
                f"cast((1000000 * ({n_docs} * s2"
                f" - cast(s as decimal(19,0)) * s))"
                f" div ({n_docs} * cast(s as decimal(19,0))) as bigint)"
            ).alias("fano_micro"),
            F.expr(
                "cast((1000000 * cast(s - df as decimal(19,0))) div df"
                " as bigint)"
            ).alias("extra_per_doc_micro"),
        )
        .orderBy(F.desc("fano_micro"), F.asc("w"))
        .limit(BURST_TOPK)
    )


def _burstiness_sql(n_docs_expr: str = "(SELECT COUNT(*) FROM documents)") -> str:
    return f"""
WITH per AS (
    SELECT doc_id, w, COUNT(*) AS c
    FROM (SELECT doc_id, UNNEST({sql_tokens("text")}) AS w FROM documents)
    GROUP BY doc_id, w
),
vocab AS (
    SELECT w, COUNT(*) AS df,
        CAST(SUM(c) AS BIGINT) AS s,
        CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
    FROM per GROUP BY w
    HAVING COUNT(*) >= {BURST_MIN_DF}
),
nd AS (SELECT CAST({n_docs_expr} AS BIGINT) AS n)
SELECT w, df, s,
    CAST((1000000 * (nd.n * s2 - CAST(s AS HUGEINT) * s))
        // (nd.n * CAST(s AS HUGEINT)) AS BIGINT) AS fano_micro,
    CAST((1000000 * CAST(s - df AS HUGEINT)) // df AS BIGINT)
        AS extra_per_doc_micro
FROM vocab CROSS JOIN nd
ORDER BY fano_micro DESC, w ASC
LIMIT {BURST_TOPK}
"""
