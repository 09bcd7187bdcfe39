"""Statistical-modeling operators: per-group linear regression, Zipf
rank-frequency fit, rolling correlation, distribution-drift scores
(PSI), categorical entropy, and Markov transition matrices.

The reference is a scan-only Arrow wrapper (reference: src/
parquetreader/reader.py:128-129); these are the model-adjacent
statistics a data-quality / trend-analysis pass computes on top of the
scan, each re-expressed as shuffle-after-reduction Spark plans.

Numeric policy (shared with functions/numeric.py): every aggregate
that feeds a derived statistic is an EXACT integer or decimal sum of
deterministically quantized inputs, so the sums are order-insensitive
(AQE/partial-agg safe) and bit-identical to the DuckDB oracle; the
closed-form statistic is then derived in double with an expression
written identically in both engines and rounded to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import count_table, fan_out, load
from parquet_batch_spark.functions.hashing import hash32, sql_hash32
from parquet_batch_spark.functions.text import bind, marker_langid, sql_tokens, tokens_col


# ---------------------------------------------------------------------------
# agg_regression_per_group — closed-form OLS trend per group
# ---------------------------------------------------------------------------


def agg_regression_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of order value over time.

    y = whole-dollar order value (``floor(o_totalprice)`` — the floor
    is a deterministic quantization so every moment sum is an exact
    int64 in BOTH engines; at 2^53 headroom the double casts are
    exact), x = days since epoch. Slope/intercept/r² are the textbook
    closed forms from the five moment sums — the same algebra
    ``regr_slope``/``regr_r2`` use, but with order-insensitive exact
    accumulation instead of float partials, so results are stable
    under any partial-aggregate ordering (AQE-safe at 100 TB).

    Scale: one scan, map-side partial aggregation to 5 scalars per
    group, one tiny shuffle. No second pass, no window.
    """
    o = load(spark, sf_dir, "orders")
    x = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    y = F.floor("o_totalprice").cast("long")
    moments = (
        o.select(F.col("o_orderpriority").alias("priority"), x.alias("x"), y.alias("y"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).alias("sxy"),
            F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast("decimal(18,0)") * F.col("y")).alias("syy"),
        )
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    return (
        moments.select(
            "priority",
            F.col("n").cast("long").alias("n_orders"),
            F.round(slope, 6).alias("slope_usd_per_day"),
            F.round((sy - slope * sx) / n, 6).alias("intercept_usd"),
            F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
        )
        .orderBy("priority")
    )


_REGR_SQL = """
WITH m AS (
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM (
        SELECT o_orderpriority,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS y
        FROM orders
    )
    GROUP BY 1
)
SELECT priority,
       CAST(n AS BIGINT) AS n_orders,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope_usd_per_day,
       ROUND((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept_usd,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r2
FROM m
ORDER BY priority
"""

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
# window_rolling_corr — rolling correlation between two measures
# ---------------------------------------------------------------------------

CORR_FRAME = 20  # rows per rolling frame
CORR_EVERY = 100  # emit every Nth row per supplier


def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {CORR_FRAME}-row Pearson correlation between quantity
    and price (in cents) per supplier, sampled every {CORR_EVERY}th
    shipment.

    The frame's five moment sums are exact int64 window aggregates
    (quantity is integral; price quantized to cents — lossless for a
    2-dp input), so the closed-form correlation is bit-identical to
    the oracle. Window order is made TOTAL by (shipdate, orderkey,
    linenumber) — a partial order would make frame contents
    nondeterministic under shuffle.

    Scale: one hash-partition by supplier + one sort per partition;
    all five sums share the same window frame so Spark computes them
    in a single window pass. Emitting every Nth row keeps the output
    a sample, not a copy, of the fact table.
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    yc = F.round(F.col("l_extendedprice") * 100).cast("long")
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    w = Window.partitionBy("l_suppkey").orderBy(*order).rowsBetween(-(CORR_FRAME - 1), 0)
    wn = Window.partitionBy("l_suppkey").orderBy(*order)
    base = li.select(
        "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
        x.alias("x"), yc.alias("y"),
    )
    framed = base.select(
        "l_suppkey",
        F.row_number().over(wn).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return (
        framed.where((F.col("rn") % CORR_EVERY == 0) & (F.col("n") == CORR_FRAME))
        .select(
            "l_suppkey",
            F.col("rn").cast("long").alias("rn"),
            F.round(corr, 6).alias("rolling_corr"),
        )
        .orderBy("l_suppkey", "rn")
    )


_ROLLCORR_SQL = f"""
WITH base AS (
    SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem
),
framed AS (
    SELECT l_suppkey,
           ROW_NUMBER() OVER w_ord AS rn,
           COUNT(*) OVER w AS n,
           SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
           SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx,
           SUM(y * y) OVER w AS syy
    FROM base
    WINDOW
        w_ord AS (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber),
        w AS (PARTITION BY l_suppkey
              ORDER BY l_shipdate, l_orderkey, l_linenumber
              ROWS BETWEEN {CORR_FRAME - 1} PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, rn,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS rolling_corr
FROM framed
WHERE rn % {CORR_EVERY} = 0 AND n = {CORR_FRAME}
ORDER BY l_suppkey, rn
"""


# ---------------------------------------------------------------------------
# quality_psi_drift — population stability index between two periods
# ---------------------------------------------------------------------------

PSI_BINS = 10
PSI_WIDTH = 50_000  # fixed-width bins over order value
PSI_SPLIT = "1998-01-01"  # period A strictly before, period B from


def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    early period vs late period — the standard drift score a feature
    store computes before retraining on new data.

    Fixed-width bins (deterministic, engine-independent — quantile
    bins would couple the binning to a percentile implementation),
    add-one smoothing so empty bins stay finite, PSI terms rounded to
    6dp and totaled with an exact decimal sum. The full bin grid is
    generated with ``sequence``/``range`` so both engines emit every
    bin even when a period leaves it empty.

    Scale: two conditional-count aggregations in ONE pass over the
    fact (map-side partial, {PSI_BINS}-row result), then constant-size
    arithmetic. The shuffle is {PSI_BINS} rows regardless of corpus
    size.
    """
    o = load(spark, sf_dir, "orders")
    split = F.lit(PSI_SPLIT).cast("timestamp")
    bin_id = F.least(
        F.lit(PSI_BINS - 1), F.floor(F.col("o_totalprice") / PSI_WIDTH)
    ).cast("long")
    counts = (
        o.select(
            bin_id.alias("bin_id"),
            (F.col("o_orderdate") < split).alias("is_a"),
        )
        .groupBy("bin_id")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("n_b"),
        )
    )
    grid = spark.range(PSI_BINS).select(F.col("id").alias("bin_id"))
    full = (
        grid.join(counts, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    tot = Window.partitionBy()
    p = (F.col("n_a") + 1).cast("double") / (F.sum("n_a").over(tot) + PSI_BINS).cast("double")
    q = (F.col("n_b") + 1).cast("double") / (F.sum("n_b").over(tot) + PSI_BINS).cast("double")
    term = F.round((p - q) * F.log(p / q), 6)
    with_term = full.select(
        "bin_id", "n_a", "n_b", term.alias("psi_term"),
    )
    total = F.sum(F.col("psi_term").cast("decimal(18,6)")).over(tot)
    return (
        with_term.select(
            "bin_id",
            "n_a",
            "n_b",
            "psi_term",
            total.cast("decimal(18,6)").cast("double").alias("psi_total"),
        )
        .orderBy("bin_id")
    )


_PSI_SQL = f"""
WITH counts AS (
    SELECT LEAST({PSI_BINS - 1}, CAST(FLOOR(o_totalprice / {PSI_WIDTH}) AS BIGINT)) AS bin_id,
           SUM(CASE WHEN o_orderdate < TIMESTAMP '{PSI_SPLIT} 00:00:00' THEN 1 ELSE 0 END) AS n_a,
           SUM(CASE WHEN o_orderdate < TIMESTAMP '{PSI_SPLIT} 00:00:00' THEN 0 ELSE 1 END) AS n_b
    FROM orders
    GROUP BY 1
),
full_grid AS (
    SELECT g.bin_id,
           CAST(COALESCE(c.n_a, 0) AS BIGINT) AS n_a,
           CAST(COALESCE(c.n_b, 0) AS BIGINT) AS n_b
    FROM (SELECT UNNEST(range({PSI_BINS})) AS bin_id) g
    LEFT JOIN counts c USING (bin_id)
),
terms AS (
    SELECT bin_id, n_a, n_b,
           ROUND((CAST(n_a + 1 AS DOUBLE) / CAST(SUM(n_a) OVER () + {PSI_BINS} AS DOUBLE)
                  - CAST(n_b + 1 AS DOUBLE) / CAST(SUM(n_b) OVER () + {PSI_BINS} AS DOUBLE))
                 * LN((CAST(n_a + 1 AS DOUBLE) / CAST(SUM(n_a) OVER () + {PSI_BINS} AS DOUBLE))
                      / (CAST(n_b + 1 AS DOUBLE) / CAST(SUM(n_b) OVER () + {PSI_BINS} AS DOUBLE))),
                 6) AS psi_term
    FROM full_grid
)
SELECT bin_id, n_a, n_b, psi_term,
       CAST(CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) OVER () AS DECIMAL(18,6)) AS DOUBLE) AS psi_total
FROM terms
ORDER BY bin_id
"""

# ---------------------------------------------------------------------------
# agg_entropy_balance — Shannon entropy of the language mix per source
# ---------------------------------------------------------------------------


def agg_entropy_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) and evenness of each source's language
    mix — the diversity diagnostic a corpus-mixing step publishes
    alongside quotas (a source whose evenness collapses is feeding a
    monolingual stream into a multilingual quota).

    Per-term ``-p·log2(p)`` values are rounded to 6dp and summed as
    exact decimals (order-insensitive); evenness divides by
    ``log2(n_langs)`` with a single-language guard.

    Scale: (source, lang) count, then a source-grain reduce over a
    handful of rows; the first aggregation is the only data-size
    shuffle and is map-side combined.
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    tot_w = Window.partitionBy("source")
    p = F.col("cnt").cast("double") / F.sum("cnt").over(tot_w).cast("double")
    term = F.round(-p * F.log2(p), 6).cast("decimal(18,6)")
    per_lang = counts.select("source", "cnt", term.alias("term"))
    agg = per_lang.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum("term").cast("decimal(18,6)").cast("double").alias("entropy_bits"),
    )
    evenness = F.when(
        F.col("n_langs") > 1,
        F.round(F.col("entropy_bits") / F.round(F.log2(F.col("n_langs").cast("double")), 6), 6),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "source", "n_docs", "n_langs", "entropy_bits", evenness.alias("evenness")
    ).orderBy("source")


_ENTROPY_SQL = """
WITH counts AS (
    SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
),
terms AS (
    SELECT source, cnt,
           CAST(ROUND(-(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE))
                 * LOG2(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE)),
                 6) AS DECIMAL(18,6)) AS term
    FROM counts
),
agg AS (
    SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(CAST(SUM(term) AS DECIMAL(18,6)) AS DOUBLE) AS entropy_bits
    FROM terms
    GROUP BY source
)
SELECT source, n_docs, n_langs, entropy_bits,
       CASE WHEN n_langs > 1
            THEN ROUND(entropy_bits / ROUND(LOG2(CAST(n_langs AS DOUBLE)), 6), 6)
            ELSE 0.0 END AS evenness
FROM agg
ORDER BY source
"""

# ---------------------------------------------------------------------------
# seq_transition_matrix — first-order Markov transitions between events
# ---------------------------------------------------------------------------


def seq_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    for each (from_type → to_type) pair, the transition count and the
    row-normalized probability — the behavioral fingerprint used for
    session modeling and bot detection.

    Order within a user is made total by (ts, event_id); probabilities
    are integer-count ratios rounded to 6dp, so both engines derive
    identical values.

    Scale: one hash-partition by user + per-partition sort for the
    ``lead``, then a count aggregate over a (types × types)-sized
    result. The window carries only (user, ts, event_id, type) — the
    projection is pruned before the shuffle.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_w = Window.partitionBy("from_type")
    prob = F.round(
        F.col("n_transitions").cast("double")
        / F.sum("n_transitions").over(row_w).cast("double"),
        6,
    )
    return pairs.select(
        "from_type", "to_type", "n_transitions", prob.alias("prob")
    ).orderBy("from_type", "to_type")


_TRANSITION_SQL = """
WITH pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events
    )
    WHERE to_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       ROUND(CAST(n_transitions AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE),
             6) AS prob
FROM pairs
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# quality_ks_drift — binned Kolmogorov–Smirnov distance between periods
# ---------------------------------------------------------------------------

KS_BINS = 1000
KS_WIDTH = 500  # $500 bins over order value


def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the early- and
    late-period order-value distributions, on a fixed ${KS_WIDTH}
    binning — the shape-sensitive companion to ``quality_psi_drift``
    (PSI weighs density ratios; KS finds the worst CDF gap and WHERE
    it occurs).

    The CDF difference is a step function that only changes at
    occupied bins, so evaluating after each step needs no bin grid.
    Tie-break for the argmax: smallest bin. All inputs to the max are
    integer-count ratios rounded to 6dp — engine-identical.

    Scale: one map-side-combined count per (bin), then a cumulative
    window over ≤{KS_BINS} REDUCED rows — the unpartitioned window is
    domain-bounded, not data-bounded, which is the only time a global
    window is acceptable at 100 TB.
    """
    o = load(spark, sf_dir, "orders")
    split = F.lit(PSI_SPLIT).cast("timestamp")
    bin_id = F.least(F.lit(KS_BINS - 1), F.floor(F.col("o_totalprice") / KS_WIDTH)).cast(
        "long"
    )
    counts = (
        o.select(bin_id.alias("bin_id"), (F.col("o_orderdate") < split).alias("is_a"))
        .groupBy("bin_id")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("nb"),
        )
    )
    cum = Window.orderBy("bin_id").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    stepped = counts.select(
        "bin_id",
        F.sum("na").over(cum).alias("ca"),
        F.sum("nb").over(cum).alias("cb"),
        F.sum("na").over(tot).alias("n_a"),
        F.sum("nb").over(tot).alias("n_b"),
    )
    diff = F.round(
        F.abs(
            F.col("ca").cast("double") / F.col("n_a").cast("double")
            - F.col("cb").cast("double") / F.col("n_b").cast("double")
        ),
        6,
    )
    return (
        stepped.select("n_a", "n_b", diff.alias("ks_stat"), F.col("bin_id").alias("at_bin"))
        .orderBy(F.desc("ks_stat"), F.asc("at_bin"))
        .limit(1)
    )


_KS_SQL = f"""
WITH counts AS (
    SELECT LEAST({KS_BINS - 1}, CAST(FLOOR(o_totalprice / {KS_WIDTH}) AS BIGINT)) AS bin_id,
           SUM(CASE WHEN o_orderdate < TIMESTAMP '{PSI_SPLIT} 00:00:00' THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN o_orderdate < TIMESTAMP '{PSI_SPLIT} 00:00:00' THEN 0 ELSE 1 END) AS nb
    FROM orders
    GROUP BY 1
),
stepped AS (
    SELECT bin_id,
           SUM(na) OVER (ORDER BY bin_id ROWS UNBOUNDED PRECEDING) AS ca,
           SUM(nb) OVER (ORDER BY bin_id ROWS UNBOUNDED PRECEDING) AS cb,
           CAST(SUM(na) OVER () AS BIGINT) AS n_a,
           CAST(SUM(nb) OVER () AS BIGINT) AS n_b
    FROM counts
)
SELECT n_a, n_b,
       ROUND(ABS(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)), 6) AS ks_stat,
       bin_id AS at_bin
FROM stepped
ORDER BY ks_stat DESC, at_bin ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# agg_chi_square_independence — contingency-table independence statistic
# ---------------------------------------------------------------------------


def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² statistic for independence of order status ×
    priority — the categorical-association test a data-quality pass
    runs before trusting a stratification key (a high χ² says the two
    labels are entangled and stratifying on one skews the other).

    Expected counts are exact-integer ratios (row·col/N) evaluated in
    double from identical operands; per-cell terms are rounded to 6dp
    and totaled with an exact decimal sum. Output also carries the
    degrees of freedom so the reader can look up the p-value.

    Scale: one map-side-combined (r × c)-cell count, then constant
    work — the classic two-level reduction.
    """
    o = load(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("obs"))
    row_w = Window.partitionBy("s")
    col_w = Window.partitionBy("p")
    tot_w = Window.partitionBy()
    exp = (
        F.sum("obs").over(row_w).cast("double")
        * F.sum("obs").over(col_w).cast("double")
        / F.sum("obs").over(tot_w).cast("double")
    )
    term = F.round(
        (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp) / exp,
        6,
    )
    per_cell = cells.select(
        "s",
        "p",
        term.alias("term"),
    )
    agg = per_cell.agg(
        F.sum(F.col("term").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("chi2_stat"),
        (
            (F.count_distinct(F.col("s")) - 1) * (F.count_distinct(F.col("p")) - 1)
        ).alias("dof"),
        F.least(
            F.count_distinct(F.col("s")) - 1, F.count_distinct(F.col("p")) - 1
        ).alias("mindim"),
    )
    n_total = o.count()
    return agg.select(
        "chi2_stat",
        "dof",
        # Cramér's V — the bounded [0,1] effect size that makes χ²
        # comparable across table shapes and sample sizes
        F.round(
            F.sqrt(
                F.col("chi2_stat")
                / (F.lit(float(n_total)) * F.col("mindim").cast("double"))
            ),
            6,
        ).alias("cramers_v"),
    )


_CHI2_SQL = """
WITH cells AS (
    SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS obs
    FROM orders GROUP BY 1, 2
),
terms AS (
    SELECT s, p,
           ROUND((CAST(obs AS DOUBLE)
                  - CAST(SUM(obs) OVER (PARTITION BY s) AS DOUBLE)
                    * CAST(SUM(obs) OVER (PARTITION BY p) AS DOUBLE)
                    / CAST(SUM(obs) OVER () AS DOUBLE))
                 * (CAST(obs AS DOUBLE)
                  - CAST(SUM(obs) OVER (PARTITION BY s) AS DOUBLE)
                    * CAST(SUM(obs) OVER (PARTITION BY p) AS DOUBLE)
                    / CAST(SUM(obs) OVER () AS DOUBLE))
                 / (CAST(SUM(obs) OVER (PARTITION BY s) AS DOUBLE)
                    * CAST(SUM(obs) OVER (PARTITION BY p) AS DOUBLE)
                    / CAST(SUM(obs) OVER () AS DOUBLE)),
                 6) AS term
    FROM cells
)
SELECT CAST(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS chi2_stat,
       (COUNT(DISTINCT s) - 1) * (COUNT(DISTINCT p) - 1) AS dof,
       ROUND(SQRT(CAST(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE)
                  / (CAST((SELECT COUNT(*) FROM orders) AS DOUBLE)
                     * CAST(LEAST(COUNT(DISTINCT s) - 1, COUNT(DISTINCT p) - 1) AS DOUBLE))),
             6) AS cramers_v
FROM terms
"""

# ---------------------------------------------------------------------------
# ml_ols_multivar — two-feature least squares via normal equations
# ---------------------------------------------------------------------------


def ml_ols_multivar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (order value ~ item count + total quantity)
    solved in closed form from the normal equations — the pattern that
    turns "fit a small model on 100 TB" into ONE aggregation: the
    executors reduce the 9 moment sums of [1, x1, x2] ⊗ [y, 1], the
    3×3 system is solved by Cramer's rule on the driver-free final
    projection. No iteration, no collect, no MLlib dependency.

    Features and target are exact integers (counts, integral
    quantities, floor-dollars), so every moment is an exact int64;
    the determinant arithmetic runs in double from identical operands.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("x1"),
        F.sum(F.col("l_quantity").cast("long")).alias("x2"),
    )
    joined = o.join(per_order, o.o_orderkey == per_order.l_orderkey).select(
        F.col("x1"),
        F.col("x2"),
        F.floor("o_totalprice").cast("long").alias("y"),
    )
    m = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1").cast("decimal(18,0)") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1").cast("decimal(18,0)") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2").cast("decimal(18,0)") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1").cast("decimal(18,0)") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2").cast("decimal(18,0)") * F.col("y")).alias("s2y"),
        F.sum(F.col("y").cast("decimal(18,0)") * F.col("y")).alias("syy"),
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    sy, s11, s12 = (F.col(c).cast("double") for c in ("sy", "s11", "s12"))
    s22, s1y, s2y, syy = (F.col(c).cast("double") for c in ("s22", "s1y", "s2y", "syy"))
    # Cramer's rule on [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] β = [sy,s1y,s2y]
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sst = syy - sy * sy / n
    ssr = b0 * sy + b1 * s1y + b2 * s2y - sy * sy / n
    return m.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(b0, 6).alias("beta_intercept"),
        F.round(b1, 6).alias("beta_items"),
        F.round(b2, 6).alias("beta_quantity"),
        F.round(ssr / sst, 6).alias("r2"),
    )


_OLS_MULTI_SQL = """
WITH per_order AS (
    SELECT l_orderkey, COUNT(*) AS x1, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
    FROM lineitem GROUP BY 1
),
j AS (
    SELECT x1, x2, CAST(FLOOR(o_totalprice) AS BIGINT) AS y
    FROM orders JOIN per_order ON o_orderkey = l_orderkey
),
m AS (
    SELECT COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
           SUM(CAST(x1 AS HUGEINT) * x1) AS s11, SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
           SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
           SUM(CAST(x1 AS HUGEINT) * y) AS s1y, SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM j
),
d AS (
    SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
           CAST(sy AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
           CAST(s22 AS DOUBLE) AS s22, CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
           CAST(syy AS DOUBLE) AS syy
    FROM m
),
solved AS (
    SELECT n, sy, s1y, s2y, syy,
           (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)) AS det,
           (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)) AS det0,
           (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)) AS det1,
           (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)) AS det2
    FROM d
)
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(det0 / det, 6) AS beta_intercept,
       ROUND(det1 / det, 6) AS beta_items,
       ROUND(det2 / det, 6) AS beta_quantity,
       ROUND(((det0 / det) * sy + (det1 / det) * s1y + (det2 / det) * s2y - sy * sy / n)
             / (syy - sy * sy / n), 6) AS r2
FROM solved
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
# sample_bootstrap_means — deterministic Poissonized bootstrap
# ---------------------------------------------------------------------------

BOOT_B = 32  # resamples
# Poisson(1) CDF thresholds scaled to 2^32 (P(0), ≤1, ≤2, ≤3): a
# uniform 32-bit hash below threshold k gets weight k. Identical
# literals on both engines.
BOOT_T = (1580030168, 3160060337, 3950075421, 4213413783)


def sample_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{BOOT_B}-resample Poissonized bootstrap of the mean order value
    — the distributed-bootstrap standard: instead of resampling rows
    (impossible without global coordination), each row draws a
    Poisson(1) replication weight per resample from a deterministic
    portable hash, giving i.i.d.-in-expectation resamples in ONE scan.
    The spread of the {BOOT_B} means is the standard error estimate a
    pipeline attaches to any corpus-level statistic.

    Scale: the explode multiplies rows by B={BOOT_B} BEFORE a map-side
    combined aggregation to B groups — the shuffle is B rows. Weights
    and targets are exact integers; means are rounded to 6dp.
    """
    o = load(spark, sf_dir, "orders")
    # fan_out: a few-MB scan arrives as ONE split, and the B× explode +
    # per-row md5 below is the expensive part — spread the raw rows
    # across the cluster BEFORE multiplying them (no-op at real scale).
    base = fan_out(o.select("o_orderkey", "o_totalprice"), spark)
    exploded = base.select(
        F.floor("o_totalprice").cast("long").alias("y"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        F.col("o_orderkey"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("o_orderkey"), F.col("b"))), 1, 8),
        16,
        10,
    ).cast("long")
    w = (
        F.when(h < BOOT_T[0], 0)
        .when(h < BOOT_T[1], 1)
        .when(h < BOOT_T[2], 2)
        .when(h < BOOT_T[3], 3)
        .otherwise(4)
    )
    return (
        exploded.select(F.col("b").cast("long").alias("b"), w.alias("w"), "y")
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("y")).cast("double")
                / F.sum("w").cast("double"),
                6,
            ).alias("boot_mean"),
        )
        .orderBy("b")
    )


_BOOT_SQL = f"""
WITH exploded AS (
    SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS y, b.b AS b, o_orderkey
    FROM orders, (SELECT UNNEST(range({BOOT_B})) AS b) b
),
weighted AS (
    SELECT b, y,
           CASE WHEN h < {BOOT_T[0]} THEN 0
                WHEN h < {BOOT_T[1]} THEN 1
                WHEN h < {BOOT_T[2]} THEN 2
                WHEN h < {BOOT_T[3]} THEN 3
                ELSE 4 END AS w
    FROM (
        SELECT y, b, o_orderkey,
               CAST(('0x' || substr(md5(o_orderkey || ':' || b), 1, 8)) AS UBIGINT)::BIGINT AS h
        FROM exploded
    )
)
SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
       ROUND(CAST(SUM(w * y) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6) AS boot_mean
FROM weighted
GROUP BY b
ORDER BY b
"""


# ---------------------------------------------------------------------------
# agg_survival_km — Kaplan–Meier retention curve with right censoring
# ---------------------------------------------------------------------------

KM_CHURN_CUTOFF = "2000-07-01"  # last order before this ⇒ observed churn
KM_GRAIN_DAYS = 90  # lifetime bucketed to quarters


def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of customer lifetime (quarters
    between first and last order), with customers still ordering near
    the end of the observation window treated as right-CENSORED — the
    estimator behind every "day-N retention" curve that doesn't throw
    away still-alive users.

    S(t) = Π_{u ≤ t} (1 − d_u/n_u) evaluated as exp of a cumulative
    sum of 6dp-rounded log factors (an exact decimal cumulation), so
    both engines produce identical curves. n_at_risk at t counts
    customers with lifetime ≥ t (churned or censored).

    Scale: one customer-grain reduction (first/last order), then all
    windows run over the LIFETIME-distinct table — bounded by the
    observation window in quarters, not by customers.
    """
    o = load(spark, sf_dir, "orders")
    users = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    lifetimes = users.select(
        F.floor(F.datediff("d1", "d0") / KM_GRAIN_DAYS).cast("long").alias("t"),
        (F.col("d1") < F.lit(KM_CHURN_CUTOFF).cast("date")).alias("churned"),
    )
    per_t = lifetimes.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_end"),
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).cast("long").alias("d"),
    )
    after = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = per_t.select(
        "t",
        F.sum("n_end").over(after).alias("n_risk"),
        "d",
    )
    logf = F.round(
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk").cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    stepped = at_risk.where(F.col("d") > 0).select(
        "t",
        "n_risk",
        "d",
        F.sum(logf).over(cum).cast("decimal(18,6)").cast("double").alias("logsurv"),
    )
    return stepped.select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(F.exp("logsurv"), 6).alias("survival"),
    ).orderBy("t")


_KM_SQL = f"""
WITH users AS (
    SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS d0, MAX(CAST(o_orderdate AS DATE)) AS d1
    FROM orders GROUP BY o_custkey
),
lifetimes AS (
    SELECT CAST(FLOOR(date_diff('day', d0, d1) / {KM_GRAIN_DAYS}) AS BIGINT) AS t,
           d1 < DATE '{KM_CHURN_CUTOFF}' AS churned
    FROM users
),
per_t AS (
    SELECT t, COUNT(*) AS n_end,
           CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM lifetimes GROUP BY t
),
at_risk AS (
    SELECT t,
           CAST(SUM(n_end) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk,
           d
    FROM per_t
),
stepped AS (
    SELECT t, n_risk, d,
           CAST(CAST(SUM(CAST(ROUND(LN(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 6) AS DECIMAL(18,6)))
                OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,6)) AS DOUBLE) AS logsurv
    FROM at_risk
    WHERE d > 0
)
SELECT t, n_risk, d AS n_events, ROUND(EXP(logsurv), 6) AS survival
FROM stepped
ORDER BY t
"""

# ---------------------------------------------------------------------------
# window_cusum_changepoint — CUSUM excursion change-point estimate
# ---------------------------------------------------------------------------


def window_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the day where the
    cumulative deviation from the series mean peaks — the standard
    level-shift estimator for "when did this metric change regime".

    Daily totals are exact integer cents; the excursion C_t =
    cumsum(x) − t·(Σx/n) is derived from an exact cumulative integer
    sum and an exact-ratio mean, so it's engine-identical. The
    reported change point is the day maximizing |C_t| (6dp-rounded,
    earliest day on ties).

    Scale: day-grain reduction first; windows run over (types × days)
    REDUCED rows — domain-bounded.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("vc").alias("x"))
    )
    seq = Window.partitionBy("event_type").orderBy("day")
    cum = seq.rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy("event_type")
    stepped = daily.select(
        "event_type",
        "day",
        F.row_number().over(seq).cast("long").alias("i"),
        F.sum("x").over(cum).alias("cx"),
        F.sum("x").over(tot).alias("sx"),
        F.count(F.lit(1)).over(tot).alias("n"),
    )
    c = F.round(
        F.abs(
            F.col("cx").cast("double")
            - F.col("i").cast("double") * F.col("sx").cast("double") / F.col("n").cast("double")
        )
        / 100.0,
        6,
    )
    ranked = stepped.select(
        "event_type",
        "day",
        F.col("n").alias("n_days"),
        c.alias("excursion_usd"),
    )
    top = Window.partitionBy("event_type").orderBy(
        F.desc("excursion_usd"), F.asc("day")
    )
    return (
        ranked.withColumn("rn", F.row_number().over(top))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("day").alias("changepoint_day"), "n_days", "excursion_usd")
        .orderBy("event_type")
    )


_CUSUM_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
    FROM events
    GROUP BY 1, 2
),
stepped AS (
    SELECT event_type, day,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i,
           SUM(x) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS cx,
           SUM(x) OVER (PARTITION BY event_type) AS sx,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
),
ranked AS (
    SELECT event_type, day, CAST(n AS BIGINT) AS n_days,
           ROUND(ABS(CAST(cx AS DOUBLE) - CAST(i AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS excursion_usd,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY ROUND(ABS(CAST(cx AS DOUBLE) - CAST(i AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) DESC, day ASC) AS rn
    FROM stepped
)
SELECT event_type, day AS changepoint_day, n_days, excursion_usd
FROM ranked WHERE rn = 1
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# agg_pivot_multi — pivot with MULTIPLE aggregates per cell
# ---------------------------------------------------------------------------

PIVOT_STATUSES = ("F", "O", "P")


def agg_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with TWO aggregates per pivoted value (count + exact
    decimal revenue): Spark flattens to ``<value>_<agg>`` columns in
    one pass — the report shape that otherwise costs one self-join
    per measure. Pivot values are an explicit literal list (required
    discipline at scale: no pre-pass to discover the domain, and the
    output schema is plan-time stable).
    """
    from parquet_batch_spark.functions.numeric import dsum

    o = load(spark, sf_dir, "orders")
    pv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(PIVOT_STATUSES))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "rev"),
        )
        .orderBy("o_orderpriority")
    )
    cols = [F.col("o_orderpriority").alias("priority")]
    for s in PIVOT_STATUSES:
        cols.append(F.coalesce(F.col(f"{s}_n"), F.lit(0)).alias(f"{s.lower()}_n"))
        cols.append(F.coalesce(F.col(f"{s}_rev"), F.lit(0.0)).alias(f"{s.lower()}_rev"))
    return pv.select(*cols)


def _pivot_multi_sql() -> str:
    from parquet_batch_spark.functions.numeric import sql_dsum_expr

    parts = []
    for s in PIVOT_STATUSES:
        parts.append(
            f"CAST(COALESCE(SUM(CASE WHEN o_orderstatus = '{s}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS {s.lower()}_n"
        )
        cond = f"CASE WHEN o_orderstatus = '{s}' THEN CAST(o_totalprice AS DECIMAL(18,4)) END"
        parts.append(f"COALESCE({sql_dsum_expr(cond)}, 0.0) AS {s.lower()}_rev")
    cols = ",\n       ".join(parts)
    return f"""
SELECT o_orderpriority AS priority,
       {cols}
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""

# ---------------------------------------------------------------------------
# sample_ab_assignment_srm — hash bucketing + sample-ratio-mismatch check
# ---------------------------------------------------------------------------

AB_SALT = "exp42"


def sample_ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 50/50 A/B assignment by portable hash of
    (salt, customer key) plus the sample-ratio-mismatch χ² — the
    guardrail every experimentation platform computes before trusting
    a readout (an SRM χ² above ~3.84 means the split itself is broken).

    Assignment is pure map-side arithmetic on a salted md5 — stable
    across runs, engines, and cluster sizes (never ``rand()``, which
    is partition-order-dependent). Per-arm means are exact decimal
    sums over 2-dp values.
    """
    from parquet_batch_spark.functions.numeric import davg

    c = load(spark, sf_dir, "customer")
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(AB_SALT), F.col("c_custkey"))), 1, 8),
        16,
        10,
    ).cast("long")
    arm = F.when(h % 100 < 50, "A").otherwise("B")
    per_arm = (
        c.select(arm.alias("arm"), "c_acctbal")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg("c_acctbal", "mean_acctbal"),
        )
    )
    tot = Window.partitionBy()
    expected = F.sum("n").over(tot).cast("double") / 2.0
    srm = F.round(
        (F.col("n").cast("double") - expected) * (F.col("n").cast("double") - expected)
        / expected
        * 2.0,
        6,
    )
    return per_arm.select(
        "arm",
        "n",
        F.round("mean_acctbal", 6).alias("mean_acctbal"),
        srm.alias("srm_chi2"),
    ).orderBy("arm")


def _ab_srm_sql() -> str:
    from parquet_batch_spark.functions.numeric import sql_davg

    return f"""
WITH per_arm AS (
    SELECT CASE WHEN CAST(('0x' || substr(md5('{AB_SALT}' || ':' || c_custkey), 1, 8)) AS UBIGINT)::BIGINT % 100 < 50
                THEN 'A' ELSE 'B' END AS arm,
           c_acctbal
    FROM customer
),
agg AS (
    SELECT arm, COUNT(*) AS n, {sql_davg("c_acctbal")} AS mean_acctbal
    FROM per_arm GROUP BY arm
)
SELECT arm, n, ROUND(mean_acctbal, 6) AS mean_acctbal,
       ROUND((CAST(n AS DOUBLE) - CAST(SUM(n) OVER () AS DOUBLE) / 2.0)
             * (CAST(n AS DOUBLE) - CAST(SUM(n) OVER () AS DOUBLE) / 2.0)
             / (CAST(SUM(n) OVER () AS DOUBLE) / 2.0) * 2.0, 6) AS srm_chi2
FROM agg
ORDER BY arm
"""


# ---------------------------------------------------------------------------
# window_acf_lags — autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def window_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily order revenue at lags 1..{ACF_MAX_LAG}
    — the seasonality detector that decides whether a forecast
    baseline should be lag-1 or lag-7 (see window_seasonal_baseline).

    Uses the standard overall-mean estimator: r_k = (Σ'x_t·x_{{t−k}} −
    x̄(Σ'x_t + Σ'x_{{t−k}}) + (n−k)·x̄²) / (Σx² − n·x̄²), where every Σ
    is an exact int64 over whole-dollar daily totals, so both engines
    derive identical values.

    Scale: the day-grain reduction carries the data cost; the 7
    lag-window passes run over the REDUCED day series (domain-bounded)
    and union to a {ACF_MAX_LAG}-row result.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
        # localCheckpoint (r12): daily feeds the global moments AND
        # every lag branch — without materialization the order-corpus
        # day reduce re-runs per branch (the checkpointed table is
        # day-grain, a few thousand rows)
        .localCheckpoint(eager=False)
    )
    seq = Window.orderBy("day")
    glob = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        # daily totals square past 2^63 at ~100x scale — exact decimal
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).alias("sxx"),
    )
    per_lag = None
    for k in range(1, ACF_MAX_LAG + 1):
        lagged = daily.select(
            "x", F.lag("x", k).over(seq).alias("xl")
        ).where(F.col("xl").isNotNull())
        row = lagged.agg(
            F.lit(k).cast("long").alias("lag"),
            F.count(F.lit(1)).alias("np"),
            F.sum(F.col("x").cast("decimal(18,0)") * F.col("xl")).alias("sxy"),
            F.sum("x").alias("sa"),
            F.sum("xl").alias("sb"),
        )
        per_lag = row if per_lag is None else per_lag.unionAll(row)
    n, sx, sxx = (F.col(c).cast("double") for c in ("n", "sx", "sxx"))
    np_, sxy = F.col("np").cast("double"), F.col("sxy").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    mean = sx / n
    acf = F.round(
        (sxy - mean * (sa + sb) + np_ * mean * mean) / (sxx - n * mean * mean), 6
    )
    return (
        per_lag.crossJoin(F.broadcast(glob))
        .select("lag", F.col("np").alias("n_pairs"), acf.alias("acf"))
        .orderBy("lag")
    )


def _acf_sql() -> str:
    lag_ctes = ",\n".join(
        f"""l{k} AS (
    SELECT CAST({k} AS BIGINT) AS lag, COUNT(*) AS np,
           SUM(CAST(x AS HUGEINT) * xl) AS sxy, SUM(x) AS sa, SUM(xl) AS sb
    FROM (SELECT x, LAG(x, {k}) OVER (ORDER BY day) AS xl FROM daily)
    WHERE xl IS NOT NULL
)"""
        for k in range(1, ACF_MAX_LAG + 1)
    )
    lag_union = " UNION ALL ".join(
        f"SELECT * FROM l{k}" for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
overall AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx,
           SUM(CAST(x AS HUGEINT) * x) AS sxx
    FROM daily
),
{lag_ctes},
lags AS ({lag_union})
SELECT lag, CAST(np AS BIGINT) AS n_pairs,
       ROUND((CAST(sxy AS DOUBLE)
              - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
              + CAST(np AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))),
             6) AS acf
FROM lags, overall
ORDER BY lag
"""

# ---------------------------------------------------------------------------
# agg_cohort_ltv_curve — cumulative revenue per acquisition cohort
# ---------------------------------------------------------------------------

LTV_MAX_OFFSET = 11  # months after acquisition


def agg_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve: for each acquisition YEAR cohort
    and month offset 0..{LTV_MAX_OFFSET}, cumulative revenue per
    cohort customer — the money-denominated sibling of
    window_retention_cohort (who still BUYS, not who still shows up).

    Month arithmetic is integer (year·12+month); revenue accumulates
    in exact decimal through the cumulative window, and the per-head
    division happens once at the end from bit-identical operands.

    Scale: customer-grain first-order reduce, broadcast back to the
    fact, then a (cohorts × offsets)-sized aggregate; the cumulative
    window runs over that reduced grid.
    """
    from parquet_batch_spark.functions.numeric import dec

    o = load(spark, sf_dir, "orders")
    mk = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    first = o.groupBy("o_custkey").agg(F.min(mk).alias("m0"))
    cohort_sizes = first.select(
        (F.floor(F.col("m0") / 12)).cast("long").alias("cohort_year"),
        "o_custkey",
    ).groupBy("cohort_year").agg(F.count(F.lit(1)).alias("n_customers"))
    facts = (
        o.select("o_custkey", mk.alias("m"), "o_totalprice")
        .join(first, "o_custkey")
        .select(
            (F.floor(F.col("m0") / 12)).cast("long").alias("cohort_year"),
            (F.col("m") - F.col("m0")).cast("long").alias("offset"),
            "o_totalprice",
        )
        .where(F.col("offset") <= LTV_MAX_OFFSET)
    )
    per_cell = facts.groupBy("cohort_year", "offset").agg(
        F.sum(dec("o_totalprice")).alias("rev_dec")
    )
    cum = (
        Window.partitionBy("cohort_year")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stepped = per_cell.select(
        "cohort_year",
        "offset",
        F.sum("rev_dec").over(cum).cast("decimal(18,6)").alias("cum_dec"),
    )
    return (
        stepped.join(F.broadcast(cohort_sizes), "cohort_year")
        .select(
            "cohort_year",
            "offset",
            "n_customers",
            F.col("cum_dec").cast("double").alias("cum_revenue"),
            F.round(
                F.col("cum_dec").cast("double") / F.col("n_customers").cast("double"), 6
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_year", "offset")
    )


_LTV_SQL = f"""
WITH firsts AS (
    SELECT o_custkey, MIN(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1) AS m0
    FROM orders GROUP BY o_custkey
),
cohort_sizes AS (
    SELECT CAST(FLOOR(m0 / 12) AS BIGINT) AS cohort_year, COUNT(*) AS n_customers
    FROM firsts GROUP BY 1
),
facts AS (
    SELECT CAST(FLOOR(f.m0 / 12) AS BIGINT) AS cohort_year,
           CAST((YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) - 1) - f.m0 AS BIGINT) AS "offset",
           o.o_totalprice
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    WHERE (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) - 1) - f.m0 <= {LTV_MAX_OFFSET}
),
per_cell AS (
    SELECT cohort_year, "offset", SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
    FROM facts GROUP BY 1, 2
),
stepped AS (
    SELECT cohort_year, "offset",
           CAST(SUM(rev_dec) OVER (PARTITION BY cohort_year ORDER BY "offset"
                ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,6)) AS cum_dec
    FROM per_cell
)
SELECT s.cohort_year, s."offset" AS offset, c.n_customers,
       CAST(s.cum_dec AS DOUBLE) AS cum_revenue,
       ROUND(CAST(s.cum_dec AS DOUBLE) / CAST(c.n_customers AS DOUBLE), 6) AS ltv_per_customer
FROM stepped s JOIN cohort_sizes c ON s.cohort_year = c.cohort_year
ORDER BY s.cohort_year, s."offset"
"""


# ---------------------------------------------------------------------------
# quality_freshness_sla — arrival-cadence / gap audit per event stream
# ---------------------------------------------------------------------------


def quality_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/cadence audit per event stream at HOURLY grain: hours
    covered vs the corpus-wide observation span, longest silent gap,
    and how stale the stream was at the end of the window — the
    monitoring table a warehouse publishes so consumers can see which
    feeds are late BEFORE joining against them.

    All quantities are integer hour indices (epoch seconds div 3600),
    so both engines agree exactly. The expected span comes from the
    corpus-wide min/max (one scalar aggregate, broadcast).

    Scale: distinct (type, hour) reduction first — everything after
    runs on a domain-bounded series (span-hours × types). The
    longest-gap window is a per-type lag over that reduced series.
    """
    ev = load(spark, sf_dir, "events")
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    hours = ev.select(F.col("event_type"), hour.alias("h")).distinct()
    span = hours.agg(
        F.min("h").alias("h0"),
        F.max("h").alias("h1"),
    )
    seq = Window.partitionBy("event_type").orderBy("h")
    gaps = hours.select(
        "event_type",
        "h",
        (F.col("h") - F.lag("h").over(seq) - 1).alias("gap"),
    )
    per_type = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours_active"),
        F.max("h").alias("last_h"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("longest_gap_hours"),
    )
    return (
        per_type.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            (F.col("h1") - F.col("h0") + 1).alias("n_hours_expected"),
            "n_hours_active",
            (F.col("h1") - F.col("h0") + 1 - F.col("n_hours_active")).alias(
                "n_hours_missing"
            ),
            "longest_gap_hours",
            (F.col("h1") - F.col("last_h")).alias("staleness_hours"),
        )
        .orderBy("event_type")
    )


_FRESHNESS_SQL = """
WITH hours AS (
    SELECT DISTINCT event_type,
           CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h
    FROM events
),
span AS (
    SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hours
),
gaps AS (
    SELECT event_type, h,
           h - LAG(h) OVER (PARTITION BY event_type ORDER BY h) - 1 AS gap
    FROM hours
),
per_type AS (
    SELECT event_type, COUNT(*) AS n_hours_active, MAX(h) AS last_h,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS longest_gap_hours
    FROM gaps GROUP BY event_type
)
SELECT event_type,
       (h1 - h0 + 1) AS n_hours_expected,
       n_hours_active,
       (h1 - h0 + 1 - n_hours_active) AS n_hours_missing,
       longest_gap_hours,
       (h1 - last_h) AS staleness_hours
FROM per_type, span
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# agg_hist2d_joint — joint 2-D histogram with marginal shares
# ---------------------------------------------------------------------------

H2_PRICE_W = 10_000  # price band width
H2_QTY_W = 10  # quantity band width


def agg_hist2d_joint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint (price band × quantity band) histogram over lineitem with
    row-marginal shares — the 2-D density heatmap a pricing analysis
    reads to see whether quantity mixes shift with price. Counts are
    exact; shares are integer ratios rounded to 6dp.

    Scale: ONE map-side-combined count to a (price bands × quantity
    bands) grid — domain-bounded output, no window over raw data.
    """
    li = load(spark, sf_dir, "lineitem")
    pb = F.floor(F.col("l_extendedprice") / H2_PRICE_W).cast("long")
    qb = F.floor(F.col("l_quantity") / H2_QTY_W).cast("long")
    cells = (
        li.select(pb.alias("price_band"), qb.alias("qty_band"))
        .groupBy("price_band", "qty_band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_w = Window.partitionBy("price_band")
    tot_w = Window.partitionBy()
    return cells.select(
        "price_band",
        "qty_band",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(row_w).cast("double"), 6).alias(
            "row_share"
        ),
        F.round(F.col("n").cast("double") / F.sum("n").over(tot_w).cast("double"), 6).alias(
            "total_share"
        ),
    ).orderBy("price_band", "qty_band")


_HIST2D_SQL = f"""
WITH cells AS (
    SELECT CAST(FLOOR(l_extendedprice / {H2_PRICE_W}) AS BIGINT) AS price_band,
           CAST(FLOOR(l_quantity / {H2_QTY_W}) AS BIGINT) AS qty_band,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY 1, 2
)
SELECT price_band, qty_band, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY price_band) AS DOUBLE), 6) AS row_share,
       ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6) AS total_share
FROM cells
ORDER BY price_band, qty_band
"""


# ---------------------------------------------------------------------------
# window_peak_concurrency — distributed sweep-line over session intervals
# ---------------------------------------------------------------------------

PEAK_GAP_S = 1800  # session gap, same convention as window_sessionize


def window_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — capacity planning's first
    question — computed as a DISTRIBUTED sweep line: each session
    contributes a +1 at its start second and a −1 at its end second,
    and the running sum at any instant is the concurrency.

    The global running sum is the classic scale trap (one unpartitioned
    window). This op uses the two-phase form instead: per-day delta
    totals (tiny) become each day's carry-in via a cumulative window
    over DAYS; the within-day cumulation then runs partitioned by day.
    Sessions spanning midnight need no interval splitting — their −1
    simply lands on a later day and the carry-in accounts for them.
    Event order is made total by (second, delta, user) with ends
    before starts at the same instant, identically in both engines.

    Scale: sessionize is one user-partition window; the sweep is one
    day-partition window over 2 events/session; the carry-in window
    runs over ~days rows. No global sort anywhere.
    """
    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    user_w = Window.partitionBy("user_id").orderBy("s", "event_id")
    marked = ev.select("user_id", "event_id", sec.alias("s")).withColumn(
        "new_sess",
        F.when(
            (F.col("s") - F.lag("s").over(user_w)) > PEAK_GAP_S, 1
        ).otherwise(0),
    )
    sess_w = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = (
        marked.withColumn("sess_id", F.sum("new_sess").over(sess_w))
        .groupBy("user_id", "sess_id")
        .agg(F.min("s").alias("s0"), F.max("s").alias("s1"))
    )
    deltas = sessions.select(
        F.col("s0").alias("sec"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        sessions.select(F.col("s1").alias("sec"), F.lit(-1).alias("delta"), "user_id")
    )
    # with_day feeds the carry-in reduce, the sweep window AND the
    # session-start counts — without materialization the two-window
    # sessionize pipeline replans per consumer (5 event-corpus scans).
    # Session grain: 2 rows per session (r13, guide §2.4).
    with_day = deltas.select(
        (F.floor(F.col("sec") / 86400)).cast("long").alias("day_idx"),
        "sec",
        "delta",
        "user_id",
    ).localCheckpoint(eager=False)
    per_day = with_day.groupBy("day_idx").agg(F.sum("delta").alias("day_delta"))
    days_w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, -1)
    carry = per_day.select(
        "day_idx",
        F.coalesce(F.sum("day_delta").over(days_w), F.lit(0)).cast("long").alias("carry_in"),
    )
    sweep_w = (
        Window.partitionBy("day_idx")
        .orderBy("sec", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = with_day.withColumn("run", F.sum("delta").over(sweep_w)).join(
        F.broadcast(carry), "day_idx"
    )
    conc = (F.col("run") + F.col("carry_in")).cast("long").alias("conc")
    top = Window.partitionBy("day_idx").orderBy(F.desc("conc"), F.asc("sec"))
    peaks = (
        swept.select("day_idx", "sec", conc)
        .withColumn("rn", F.row_number().over(top))
        .where(F.col("rn") == 1)
        .select(
            "day_idx",
            F.col("conc").alias("peak_concurrency"),
            F.col("sec").alias("peak_first_sec"),
        )
    )
    starts = with_day.where(F.col("delta") == 1).groupBy("day_idx").agg(
        F.count(F.lit(1)).alias("n_sessions_started")
    )
    return (
        peaks.join(starts, "day_idx", "left")
        .select(
            "day_idx",
            F.coalesce("n_sessions_started", F.lit(0)).cast("long").alias(
                "n_sessions_started"
            ),
            "peak_concurrency",
            "peak_first_sec",
        )
        .orderBy("day_idx")
    )


_PEAK_SQL = f"""
WITH marked AS (
    SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
           CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                     - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
                     > {PEAK_GAP_S} THEN 1 ELSE 0 END AS new_sess
    FROM events
),
sessions AS (
    SELECT user_id, sess_id, MIN(s) AS s0, MAX(s) AS s1
    FROM (
        SELECT user_id, s,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    )
    GROUP BY user_id, sess_id
),
deltas AS (
    SELECT s0 AS sec, 1 AS delta, user_id FROM sessions
    UNION ALL
    SELECT s1 AS sec, -1 AS delta, user_id FROM sessions
),
with_day AS (
    SELECT CAST(FLOOR(sec / 86400) AS BIGINT) AS day_idx, sec, delta, user_id
    FROM deltas
),
carry AS (
    SELECT day_idx,
           CAST(COALESCE(SUM(day_delta) OVER (ORDER BY day_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS carry_in
    FROM (SELECT day_idx, SUM(delta) AS day_delta FROM with_day GROUP BY day_idx)
),
swept AS (
    SELECT w.day_idx, w.sec,
           SUM(w.delta) OVER (PARTITION BY w.day_idx ORDER BY w.sec, w.delta, w.user_id
                              ROWS UNBOUNDED PRECEDING) + c.carry_in AS conc
    FROM with_day w JOIN carry c ON w.day_idx = c.day_idx
),
peaks AS (
    SELECT day_idx, CAST(conc AS BIGINT) AS peak_concurrency, sec AS peak_first_sec
    FROM (
        SELECT day_idx, sec, conc,
               ROW_NUMBER() OVER (PARTITION BY day_idx ORDER BY conc DESC, sec ASC) AS rn
        FROM swept
    )
    WHERE rn = 1
),
starts AS (
    SELECT day_idx, COUNT(*) AS n_sessions_started
    FROM with_day WHERE delta = 1 GROUP BY day_idx
)
SELECT p.day_idx,
       CAST(COALESCE(s.n_sessions_started, 0) AS BIGINT) AS n_sessions_started,
       p.peak_concurrency, p.peak_first_sec
FROM peaks p LEFT JOIN starts s ON p.day_idx = s.day_idx
ORDER BY p.day_idx
"""


# ---------------------------------------------------------------------------
# agg_touch_attribution — first/last-touch attribution for purchases
# ---------------------------------------------------------------------------

ATTR_WINDOW_S = 86_400  # last-touch credit window: 24h


def agg_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution per day: for every purchase, whether a
    view/click by the same user preceded it within 24 h (last-touch)
    or at any earlier time (first-touch), and the mean seconds since
    the last touch — the attribution table a growth team reads before
    crediting spend.

    The "last preceding touch" is a carry-forward MAX window over the
    user's ordered stream (rows preceding, exclusive), never a
    self-join; all quantities are integer seconds with floor-division
    means, so both engines agree exactly.

    Scale: one user-partition window pass over the event stream, then
    a day-grain aggregate. No join, no second scan.
    """
    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        sec.alias("s"),
    )
    before = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_s = F.when(F.col("event_type").isin("view", "click"), F.col("s"))
    flagged = base.select(
        "user_id",
        "event_type",
        "s",
        F.max(touch_s).over(before).alias("last_touch_s"),
        F.min(touch_s).over(before).alias("first_touch_s"),
    )
    purchases = flagged.where(F.col("event_type") == "purchase")
    day = F.floor(F.col("s") / 86400).cast("long")
    gap = F.col("s") - F.col("last_touch_s")
    return (
        purchases.select(
            day.alias("day_idx"),
            (F.col("last_touch_s").isNotNull() & (gap <= ATTR_WINDOW_S)).alias(
                "last_24h"
            ),
            F.col("first_touch_s").isNotNull().alias("any_first"),
            F.when(
                F.col("last_touch_s").isNotNull() & (gap <= ATTR_WINDOW_S), gap
            ).alias("credited_gap"),
        )
        .groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.when(F.col("last_24h"), 1).otherwise(0)).cast("long").alias(
                "n_last_touch_24h"
            ),
            F.sum(F.when(F.col("any_first"), 1).otherwise(0)).cast("long").alias(
                "n_first_touch_ever"
            ),
            F.when(
                F.sum(F.when(F.col("last_24h"), 1).otherwise(0)) > 0,
                F.floor(
                    F.sum("credited_gap")
                    / F.sum(F.when(F.col("last_24h"), 1).otherwise(0))
                ),
            )
            .otherwise(F.lit(None))
            .cast("long")
            .alias("mean_gap_s"),
        )
        .orderBy("day_idx")
    )


_ATTR_SQL = f"""
WITH flagged AS (
    SELECT user_id, event_type, s,
           MAX(CASE WHEN event_type IN ('view', 'click') THEN s END)
               OVER (PARTITION BY user_id ORDER BY s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch_s,
           MIN(CASE WHEN event_type IN ('view', 'click') THEN s END)
               OVER (PARTITION BY user_id ORDER BY s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch_s
    FROM (
        SELECT user_id, event_id, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
        FROM events
    )
),
purchases AS (
    SELECT CAST(FLOOR(s / 86400) AS BIGINT) AS day_idx,
           last_touch_s IS NOT NULL AND s - last_touch_s <= {ATTR_WINDOW_S} AS last_24h,
           first_touch_s IS NOT NULL AS any_first,
           CASE WHEN last_touch_s IS NOT NULL AND s - last_touch_s <= {ATTR_WINDOW_S}
                THEN s - last_touch_s END AS credited_gap
    FROM flagged
    WHERE event_type = 'purchase'
)
SELECT day_idx,
       COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN last_24h THEN 1 ELSE 0 END) AS BIGINT) AS n_last_touch_24h,
       CAST(SUM(CASE WHEN any_first THEN 1 ELSE 0 END) AS BIGINT) AS n_first_touch_ever,
       CAST(CASE WHEN SUM(CASE WHEN last_24h THEN 1 ELSE 0 END) > 0
            THEN FLOOR(SUM(credited_gap) / SUM(CASE WHEN last_24h THEN 1 ELSE 0 END))
            END AS BIGINT) AS mean_gap_s
FROM purchases
GROUP BY day_idx
ORDER BY day_idx
"""


# ---------------------------------------------------------------------------
# agg_rfm_segmentation — recency/frequency/monetary customer segments
# ---------------------------------------------------------------------------

RFM_ASOF = "2001-09-01"  # scoring date (just past the order horizon)
# Fixed scoring thresholds (deterministic, engine-independent — quantile
# thresholds would couple the segmentation to a percentile
# implementation and make scores drift as data arrives):
RFM_R_DAYS = (180, 365, 730)  # recency: ≤6mo, ≤1y, ≤2y, else
RFM_F_ORDERS = (12, 9, 6)  # frequency: ≥12, ≥9, ≥6, else
RFM_M_DOLLARS = (2_000_000, 1_500_000, 1_000_000)  # lifetime value


def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1–4 on Recency (days
    since last order), Frequency (order count), and Monetary
    (whole-dollar lifetime value), rolled up to segment sizes and
    revenue share — the standard customer-base health matrix.

    Scores use FIXED thresholds (see constants) so the segmentation is
    stable run-to-run and engine-identical; monetary sums are exact
    int64 whole-dollars; revenue share is an exact-ratio 6dp round.

    Scale: one customer-grain reduction carries all the data cost; the
    scoring is map-side arithmetic on the reduced table and the
    segment rollup is a ≤64-row aggregate.
    """
    o = load(spark, sf_dir, "orders")
    asof = F.lit(RFM_ASOF).cast("date")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(asof, F.max(F.col("o_orderdate").cast("date"))).cast("long").alias(
            "r_days"
        ),
        F.count(F.lit(1)).alias("f_orders"),
        F.sum(F.floor("o_totalprice").cast("long")).alias("m_dollars"),
    )
    r_score = (
        F.when(F.col("r_days") <= RFM_R_DAYS[0], 4)
        .when(F.col("r_days") <= RFM_R_DAYS[1], 3)
        .when(F.col("r_days") <= RFM_R_DAYS[2], 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("f_orders") >= RFM_F_ORDERS[0], 4)
        .when(F.col("f_orders") >= RFM_F_ORDERS[1], 3)
        .when(F.col("f_orders") >= RFM_F_ORDERS[2], 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("m_dollars") >= RFM_M_DOLLARS[0], 4)
        .when(F.col("m_dollars") >= RFM_M_DOLLARS[1], 3)
        .when(F.col("m_dollars") >= RFM_M_DOLLARS[2], 2)
        .otherwise(1)
    )
    scored = per_cust.select(
        r_score.cast("long").alias("r"),
        f_score.cast("long").alias("f"),
        m_score.cast("long").alias("m"),
        "m_dollars",
    )
    tot = Window.partitionBy()
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("m_dollars").alias("segment_dollars"),
        )
        .select(
            "r",
            "f",
            "m",
            "n_customers",
            "segment_dollars",
            F.round(
                F.col("segment_dollars").cast("double")
                / F.sum("segment_dollars").over(tot).cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("r", "f", "m")
    )


_RFM_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey,
           CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '{RFM_ASOF}') AS BIGINT) AS r_days,
           COUNT(*) AS f_orders,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS m_dollars
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT CAST(CASE WHEN r_days <= {RFM_R_DAYS[0]} THEN 4
                     WHEN r_days <= {RFM_R_DAYS[1]} THEN 3
                     WHEN r_days <= {RFM_R_DAYS[2]} THEN 2 ELSE 1 END AS BIGINT) AS r,
           CAST(CASE WHEN f_orders >= {RFM_F_ORDERS[0]} THEN 4
                     WHEN f_orders >= {RFM_F_ORDERS[1]} THEN 3
                     WHEN f_orders >= {RFM_F_ORDERS[2]} THEN 2 ELSE 1 END AS BIGINT) AS f,
           CAST(CASE WHEN m_dollars >= {RFM_M_DOLLARS[0]} THEN 4
                     WHEN m_dollars >= {RFM_M_DOLLARS[1]} THEN 3
                     WHEN m_dollars >= {RFM_M_DOLLARS[2]} THEN 2 ELSE 1 END AS BIGINT) AS m,
           m_dollars
    FROM per_cust
)
SELECT r, f, m, COUNT(*) AS n_customers,
       CAST(SUM(m_dollars) AS BIGINT) AS segment_dollars,
       ROUND(CAST(SUM(m_dollars) AS DOUBLE)
             / CAST(SUM(SUM(m_dollars)) OVER () AS DOUBLE), 6) AS revenue_share
FROM scored
GROUP BY r, f, m
ORDER BY r, f, m
"""


# ---------------------------------------------------------------------------
# window_order_gap_distribution — inter-purchase interval histogram
# ---------------------------------------------------------------------------

GAP_EDGES = (7, 30, 90, 180, 365)  # bucket upper bounds in days


def window_order_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of days between consecutive orders per customer —
    the inter-purchase-interval histogram behind replenishment and
    churn-risk models.

    Gaps come from one lag window over (date, orderkey) per customer;
    fixed bucket edges {GAP_EDGES} keep the histogram deterministic.
    Counts are exact; shares are 6dp integer ratios.

    Scale: one customer-partition window, then a ≤{len(GAP_EDGES) + 1}-row
    aggregate. The shuffle carries (custkey, date, key) only.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    bucket = (
        F.when(F.col("gap_days") <= GAP_EDGES[0], 0)
        .when(F.col("gap_days") <= GAP_EDGES[1], 1)
        .when(F.col("gap_days") <= GAP_EDGES[2], 2)
        .when(F.col("gap_days") <= GAP_EDGES[3], 3)
        .when(F.col("gap_days") <= GAP_EDGES[4], 4)
        .otherwise(5)
    )
    tot = Window.partitionBy()
    return (
        gaps.select(bucket.cast("long").alias("bucket_id"))
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .select(
            "bucket_id",
            "n_gaps",
            F.round(
                F.col("n_gaps").cast("double") / F.sum("n_gaps").over(tot).cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("bucket_id")
    )


_GAP_SQL = f"""
WITH gaps AS (
    SELECT date_diff('day',
               LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap_days
    FROM orders
),
bucketed AS (
    SELECT CAST(CASE WHEN gap_days <= {GAP_EDGES[0]} THEN 0
                     WHEN gap_days <= {GAP_EDGES[1]} THEN 1
                     WHEN gap_days <= {GAP_EDGES[2]} THEN 2
                     WHEN gap_days <= {GAP_EDGES[3]} THEN 3
                     WHEN gap_days <= {GAP_EDGES[4]} THEN 4
                     ELSE 5 END AS BIGINT) AS bucket_id
    FROM gaps WHERE gap_days IS NOT NULL
)
SELECT bucket_id, COUNT(*) AS n_gaps,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share
FROM bucketed
GROUP BY bucket_id
ORDER BY bucket_id
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
# sample_importance_weights — mixture reweighting with effective sample size
# ---------------------------------------------------------------------------

IW_CAP = 10.0  # weight clip — standard variance-control practice


def sample_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights that reshape the corpus language mix toward
    UNIFORM, with the effective-sample-size diagnostic: w_l =
    target_share / actual_share (clipped at {IW_CAP}), and
    ESS = (Σw)²/Σw² over documents — the number that says how much
    statistical power survives the reweighting (ESS « N means the
    target mixture is too far from the data).

    Weights are 6dp-rounded ratios of exact counts; the ESS moment
    sums are exact decimal products of those rounded weights with
    integer counts, so both engines agree bit-for-bit.

    Scale: one (lang) count; everything else is arithmetic on the
    reduced table. The per-doc weight column at train time is a
    broadcast-join of this ≤|langs|-row table.
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = Window.partitionBy()
    n_langs = F.count(F.lit(1)).over(tot)
    total = F.sum("n_docs").over(tot)
    actual = F.col("n_docs").cast("double") / total.cast("double")
    target = F.lit(1.0) / n_langs.cast("double")
    w = F.round(F.least(F.lit(IW_CAP), target / actual), 6)
    weighted = counts.select(
        "lang",
        "n_docs",
        F.round(actual, 6).alias("actual_share"),
        w.alias("weight"),
    )
    wd = F.col("weight").cast("decimal(18,6)")
    # wd*wd*n_docs naively types as decimal(58,12) > 38, which Spark
    # silently RESOLVES BY REDUCING SCALE TO 6 — truncating the exact
    # scale-12 squares (caught by the first full sf0.1 sweep in r5:
    # sww ended .000000 while DuckDB kept .145512 and the rounded ESS
    # drifted 1 digit).  Keep every product within precision 38: the
    # square is <= IW_CAP² so decimal(26,12) holds it exactly, and
    # (26,12)×(10,0) = (37,12) stays exact for up to 1e10 docs/lang.
    ww = (wd * wd).cast("decimal(26,12)")
    nd = F.col("n_docs").cast("decimal(10,0)")
    sums = weighted.select(
        "lang",
        "n_docs",
        "actual_share",
        "weight",
        F.sum(wd * F.col("n_docs")).over(tot).cast("decimal(28,6)").alias("sw"),
        F.sum(ww * nd).over(tot).cast("decimal(28,12)").alias("sww"),
    )
    ess = F.round(
        F.col("sw").cast("double") * F.col("sw").cast("double")
        / F.col("sww").cast("double"),
        6,
    )
    return sums.select(
        "lang", "n_docs", "actual_share", "weight", ess.alias("ess_overall")
    ).orderBy("lang")


_IW_SQL = f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
weighted AS (
    SELECT lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS actual_share,
           ROUND(LEAST({IW_CAP}, (1.0 / CAST(COUNT(*) OVER () AS DOUBLE))
                 / (CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE))), 6) AS weight
    FROM counts
),
sums AS (
    SELECT lang, n_docs, actual_share, weight,
           CAST(SUM(CAST(weight AS DECIMAL(18,6)) * n_docs) OVER () AS DECIMAL(28,6)) AS sw,
           CAST(SUM(CAST(weight AS DECIMAL(18,6)) * CAST(weight AS DECIMAL(18,6)) * n_docs) OVER () AS DECIMAL(28,12)) AS sww
    FROM weighted
)
SELECT lang, n_docs, actual_share, weight,
       ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE), 6) AS ess_overall
FROM sums
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# embedding_pca_power_iteration — top principal direction, matrix-free
# ---------------------------------------------------------------------------

PCA_ITERS = 2
PCA_DIMS = 64


def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by power
    iteration — "run PCA on 100 TB of embeddings" reading the corpus
    EXACTLY ONCE (VERDICT r10 #4 redesign): with dim = {PCA_DIMS} the
    uncentered second-moment matrix XᵀX is domain-bounded (64×64), so
    ONE distributed pass reduces the corpus to it and the {PCA_ITERS}
    power iterations run on that reduced matrix — the reduce-then-fold
    recipe.  The pre-r11 form instead made two corpus passes per run
    plus a corpus-wide ``.cache()``, both of which the 100 TB design
    cannot afford (the cache alone would be the whole corpus in
    executor memory); the one-pass form trades a constant-factor CPU
    increase inside the scan (dim² instead of dim multiplies per row,
    map-side only) for scan-boundedness, which is the right trade when
    the scan IS the cost.

    Cross-engine identity: embeddings quantize to integer micro-units;
    the moment sums are exact DECIMAL(38,0)/HUGEINT integers (products
    reach 1e24 at N = 1e12 rows — past int64, inside both engines'
    128-bit lanes); the iteration itself is pure integer arithmetic —
    u = Mv, then v ← sign(u)·((2000·|u| + m) div (2·m)) with m =
    max|u| (round-half-away in integers, no float anywhere, so the
    driver-side Python ints and the oracle's HUGEINT CTEs agree
    bit-for-bit).  The 64×64 collect is the bounded-reduced-table
    whitelist pattern (4096 scalars, corpus-independent).

    Output: (dim, loading_milli) for all {PCA_DIMS} dimensions,
    max |loading| = 1000.
    """
    emb = load(spark, sf_dir, "embeddings")
    xq = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000000).cast("long")
    )
    rows = emb.select(xq.alias("xq"))

    def partial_moments(batches):
        # Arrow-batched partial XᵀX: per-chunk int64 matmul is exact
        # (micro-quantized |xq| ≲ 1e6, so a 1e5-row chunk cell is
        # ≤ 1e17 ≪ 2⁶³); chunk partials are summed exactly in
        # DECIMAL(38,0) downstream, and integer addition is order-
        # independent, so the total matches the oracle's HUGEINT sum
        # bit-for-bit.
        import numpy as np
        import pandas as pd

        d_idx, e_idx = np.indices((PCA_DIMS, PCA_DIMS))
        chunk_rows = 100_000
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(r) for r in pdf["xq"]], dtype=np.int64
            )
            for s in range(0, len(X), chunk_rows):
                chunk = X[s : s + chunk_rows]
                # ADVICE r11 #3: the int64-exactness argument assumes
                # |xq| ≲ 1e6 (embeddings bounded near [-1, 1]) but
                # nothing upstream enforces it — a component ≥ ~10
                # would wrap the int64 matmul SILENTLY while the
                # oracle's HUGEINT sum does not.  Check the actual
                # guarantee (Python ints, no wrap in the check itself)
                # and fail loudly instead of diverging cross-engine.
                amax = int(np.abs(chunk).max(initial=0))
                if len(chunk) * amax * amax >= 2**63:
                    raise ValueError(
                        f"partial_moments int64 overflow risk: "
                        f"max|xq| = {amax} over {len(chunk)} rows "
                        f"exceeds the exactness bound; embeddings must "
                        f"be micro-quantized from ~[-1, 1]"
                    )
                M = chunk.T @ chunk
                yield pd.DataFrame(
                    {
                        "d": (d_idx.ravel() + 1).astype("int64"),
                        "e": (e_idx.ravel() + 1).astype("int64"),
                        "s": M.ravel(),
                    }
                )

    mom = (
        rows.mapInPandas(partial_moments, schema="d long, e long, s long")
        .groupBy("d", "e")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    M = [[0] * PCA_DIMS for _ in range(PCA_DIMS)]
    for r in mom:
        M[r["d"] - 1][r["e"] - 1] = int(r["s"])
    v = [1000] * PCA_DIMS
    for _ in range(PCA_ITERS):
        u = [sum(M[d][e] * v[e] for e in range(PCA_DIMS)) for d in range(PCA_DIMS)]
        m = max(abs(c) for c in u) or 1
        v = [
            (2000 * c + m) // (2 * m) if c >= 0 else -((2000 * -c + m) // (2 * m))
            for c in u
        ]
    out = spark.createDataFrame(
        [(d + 1, int(v[d])) for d in range(PCA_DIMS)], "dim long, loading_milli long"
    )
    return out.orderBy("dim")


def _pca_sql() -> str:
    parts = [
        """xrows AS (
    SELECT list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
    FROM embeddings
)""",
        f"""dims AS (
    SELECT UNNEST(range(1, {PCA_DIMS + 1})) AS d
)""",
        """mom AS (
    SELECT de.d, de.e, SUM(CAST(x.xq[de.d] AS HUGEINT) * x.xq[de.e]) AS s
    FROM xrows x, (SELECT d1.d AS d, d2.d AS e FROM dims d1, dims d2) de
    GROUP BY de.d, de.e
)""",
        """v0 AS (
    SELECT d, CAST(1000 AS HUGEINT) AS v FROM dims
)""",
    ]
    for k in range(1, PCA_ITERS + 1):
        parts.append(f"""u{k} AS (
    SELECT m.d, SUM(m.s * v.v) AS u
    FROM mom m JOIN v{k - 1} v ON v.d = m.e
    GROUP BY m.d
)""")
        parts.append(f"""m{k} AS (
    SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM u{k}
)""")
        parts.append(f"""v{k} AS (
    SELECT d,
           CASE WHEN u >= 0 THEN (2000 * u + m.m) // (2 * m.m)
                ELSE -((2000 * -u + m.m) // (2 * m.m)) END AS v
    FROM u{k}, m{k} m
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT d AS dim, CAST(v AS BIGINT) AS loading_milli"
        f" FROM v{PCA_ITERS} ORDER BY dim"
    )


# ---------------------------------------------------------------------------
# agg_seasonality_index — month-of-year revenue seasonality
# ---------------------------------------------------------------------------


def agg_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonality index: each calendar month's average
    daily revenue relative to the overall daily average (index 1.0 =
    neutral) — the multiplicative factor a demand forecast applies
    before trend.

    Revenue is exact whole-dollar int64; day counts are exact
    (distinct order dates per month-of-year); the index is a ratio of
    two exact-ratio doubles rounded to 6dp.

    Scale: one (month, day)-grain reduction, then a 12-row rollup.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.month("o_orderdate").cast("long").alias("moy"),
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("moy", "day")
        .agg(F.sum("yd").alias("rev"))
    )
    per_month = daily.groupBy("moy").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev").alias("rev"),
    )
    tot = Window.partitionBy()
    month_avg = F.col("rev").cast("double") / F.col("n_days").cast("double")
    overall_avg = F.sum("rev").over(tot).cast("double") / F.sum("n_days").over(
        tot
    ).cast("double")
    return per_month.select(
        "moy",
        "n_days",
        F.col("rev").alias("revenue_usd"),
        F.round(month_avg / overall_avg, 6).alias("seasonality_index"),
    ).orderBy("moy")


_SEASON_SQL = """
WITH daily AS (
    SELECT CAST(MONTH(o_orderdate) AS BIGINT) AS moy,
           CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS rev
    FROM orders GROUP BY 1, 2
),
per_month AS (
    SELECT moy, COUNT(*) AS n_days, CAST(SUM(rev) AS BIGINT) AS rev
    FROM daily GROUP BY moy
)
SELECT moy, n_days, rev AS revenue_usd,
       ROUND((CAST(rev AS DOUBLE) / CAST(n_days AS DOUBLE))
             / (CAST(SUM(rev) OVER () AS DOUBLE) / CAST(SUM(n_days) OVER () AS DOUBLE)),
             6) AS seasonality_index
FROM per_month
ORDER BY moy
"""

# ---------------------------------------------------------------------------
# agg_weekday_hour_heatmap — activity heatmap with engine-free DOW
# ---------------------------------------------------------------------------


def agg_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-activity heatmap by (weekday, hour) with traffic shares —
    the load-pattern view capacity planning and anomaly baselines both
    start from.

    Weekday comes from integer epoch-day arithmetic ((days+4) % 7,
    0=Sunday) — NEVER from the engines' dayofweek() builtins, whose
    0-vs-1-based Sunday conventions differ between Spark and DuckDB;
    pinning the formula makes the bucketing engine-independent by
    construction.

    Scale: one map-side-combined count to a ≤168-cell grid.
    """
    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    dow = (F.floor(sec / 86400) + 4) % 7
    hour = F.floor((sec % 86400) / 3600)
    tot = Window.partitionBy()
    return (
        ev.select(dow.cast("long").alias("dow"), hour.cast("long").alias("hour"))
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "dow",
            "hour",
            "n_events",
            F.round(
                F.col("n_events").cast("double")
                / F.sum("n_events").over(tot).cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("dow", "hour")
    )


_HEATMAP_SQL = """
WITH cells AS (
    SELECT CAST((FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) + 4) % 7 AS BIGINT) AS dow,
           CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400) / 3600) AS BIGINT) AS hour,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
)
SELECT dow, hour, n_events,
       ROUND(CAST(n_events AS DOUBLE) / CAST(SUM(n_events) OVER () AS DOUBLE), 6) AS share
FROM cells
ORDER BY dow, hour
"""

# ---------------------------------------------------------------------------
# agg_price_elasticity — log-log elasticity of quantity on price
# ---------------------------------------------------------------------------


def agg_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per part type: OLS slope of
    log(quantity) on log(unit price) over lineitem joined to the part
    dim — the classic log-log elasticity estimate (slope ≈ %Δqty per
    %Δprice).

    Unit price is the 6dp-rounded price/quantity ratio; both logs are
    quantized to integer milli-units so the per-group moment sums are
    exact int64 (same device as text_zipf_fit). The part dim join is
    an explicit broadcast.

    Scale: broadcast dim join (no fact shuffle), then a 5-scalar
    moment reduce per part type.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
    x = F.round(F.log(unit) * 1000).cast("long")
    y = F.round(F.log(F.col("l_quantity").cast("double")) * 1000).cast("long")
    base = (
        li.where(F.col("l_quantity") > 0)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("p_type", x.alias("x"), y.alias("y"))
    )
    m = base.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).alias("sxx"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "p_type",
        F.col("n").cast("long").alias("n_items"),
        F.round(slope, 6).alias("elasticity"),
    ).orderBy("p_type")


_ELASTICITY_SQL = """
WITH base AS (
    SELECT p_type,
           CAST(ROUND(LN(ROUND(l_extendedprice / l_quantity, 6)) * 1000) AS BIGINT) AS x,
           CAST(ROUND(LN(CAST(l_quantity AS DOUBLE)) * 1000) AS BIGINT) AS y
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_quantity > 0
),
m AS (
    SELECT p_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
    FROM base GROUP BY p_type
)
SELECT p_type, CAST(n AS BIGINT) AS n_items,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS elasticity
FROM m
ORDER BY p_type
"""


# ---------------------------------------------------------------------------
# window_rsi_momentum — relative strength index over revenue series
# ---------------------------------------------------------------------------

RSI_PERIOD = 14
RSI_EVERY = 30  # emit every Nth day per series


def window_rsi_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple (SMA-flavored) {RSI_PERIOD}-day Relative Strength Index
    of each priority class's daily revenue — the bounded momentum
    oscillator (0..100) analysts read for overheating/exhaustion; the
    Wilder-smoothed variant needs recursion, the SMA variant used here
    is the window-expressible standard.

    Day-over-day changes are exact whole-dollar int64 diffs; gain and
    loss sums share one window frame; RSI = 100·gain/(gain+loss) is an
    exact-integer ratio rounded to 6dp (algebraically identical to
    100 − 100/(1+RS) without the divide-by-zero edge).

    Scale: day-grain reduction first; the lag/frame windows run per
    priority over the reduced day series.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("priority", "day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.partitionBy("priority").orderBy("day")
    diffed = daily.select(
        "priority",
        "day",
        (F.col("x") - F.lag("x").over(seq)).alias("chg"),
        F.row_number().over(seq).cast("long").alias("rn"),
    ).where(F.col("chg").isNotNull())
    frame = Window.partitionBy("priority").orderBy("day").rowsBetween(
        -(RSI_PERIOD - 1), 0
    )
    gains = F.sum(F.when(F.col("chg") > 0, F.col("chg")).otherwise(0)).over(frame)
    losses = F.sum(F.when(F.col("chg") < 0, -F.col("chg")).otherwise(0)).over(frame)
    nfull = F.count(F.lit(1)).over(frame)
    rsi = F.round(
        F.lit(100.0)
        * gains.cast("double")
        / (gains + losses).cast("double"),
        6,
    )
    return (
        diffed.select("priority", "day", "rn", rsi.alias("rsi"), nfull.alias("nf"))
        .where((F.col("rn") % RSI_EVERY == 0) & (F.col("nf") == RSI_PERIOD))
        .select("priority", "day", "rsi")
        .orderBy("priority", "day")
    )


_RSI_SQL = f"""
WITH daily AS (
    SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1, 2
),
diffed AS (
    SELECT priority, day,
           x - LAG(x) OVER (PARTITION BY priority ORDER BY day) AS chg,
           CAST(ROW_NUMBER() OVER (PARTITION BY priority ORDER BY day) AS BIGINT) AS rn
    FROM daily
),
framed AS (
    SELECT priority, day, rn,
           SUM(CASE WHEN chg > 0 THEN chg ELSE 0 END)
               OVER w AS gains,
           SUM(CASE WHEN chg < 0 THEN -chg ELSE 0 END)
               OVER w AS losses,
           COUNT(*) OVER w AS nf
    FROM diffed
    WHERE chg IS NOT NULL
    WINDOW w AS (PARTITION BY priority ORDER BY day
                 ROWS BETWEEN {RSI_PERIOD - 1} PRECEDING AND CURRENT ROW)
)
SELECT priority, day,
       ROUND(100.0 * CAST(gains AS DOUBLE) / CAST(gains + losses AS DOUBLE), 6) AS rsi
FROM framed
WHERE rn % {RSI_EVERY} = 0 AND nf = {RSI_PERIOD}
ORDER BY priority, day
"""


# ---------------------------------------------------------------------------
# etl_surrogate_keys — dense + stable-hash surrogate key minting
# ---------------------------------------------------------------------------


def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key minting for a dimension extracted from facts: the
    distinct (lang, source) combinations each get (a) a DENSE integer
    key from a total deterministic order and (b) a STABLE 64-bit hash
    key from the md5 of the natural key — the two key styles a
    warehouse needs (dense for storage/bitmaps, stable for
    cross-system identity that survives reloads).

    Never ``monotonically_increasing_id()``: its values depend on the
    physical partition layout and change run-to-run. The dense key's
    window runs over the REDUCED dim table (domain-bounded) — the only
    place a global row_number is acceptable.
    """
    d = load(spark, sf_dir, "documents")
    dim = d.select("lang", "source").distinct()
    nat = F.concat_ws("|", "lang", "source")
    stable = F.conv(F.substring(F.md5(nat), 1, 15), 16, 10).cast("long")
    w = Window.orderBy("lang", "source")
    return (
        dim.select(
            "lang",
            "source",
            F.row_number().over(w).cast("long").alias("dense_key"),
            stable.alias("stable_key"),
        )
        .orderBy("dense_key")
    )


_SURROGATE_SQL = """
SELECT lang, source,
       CAST(ROW_NUMBER() OVER (ORDER BY lang, source) AS BIGINT) AS dense_key,
       CAST(('0x' || substr(md5(lang || '|' || source), 1, 15)) AS UBIGINT)::BIGINT AS stable_key
FROM (SELECT DISTINCT lang, source FROM documents)
ORDER BY dense_key
"""

# ---------------------------------------------------------------------------
# agg_growth_cmgr — compound monthly growth rate per segment
# ---------------------------------------------------------------------------


def agg_growth_cmgr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound monthly growth rate of revenue per order priority:
    (last_month/first_month)^(1/(n−1)) − 1 — the normalized growth
    figure that makes segments with different absolute sizes
    comparable.

    First/last month revenues are exact whole-dollar sums selected by
    min/max month index (max_by/min_by on the reduced month table);
    the fractional power is computed from identical operands via
    exp/ln and rounded to 6dp.

    Scale: month-grain reduce, then a per-priority 4-scalar aggregate.
    """
    o = load(spark, sf_dir, "orders")
    mk = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long")
    monthly = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            mk.alias("m"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("priority", "m")
        .agg(F.sum("yd").alias("rev"))
    )
    agg = monthly.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.min_by("rev", "m").alias("first_rev"),
        F.max_by("rev", "m").alias("last_rev"),
    )
    cmgr = F.round(
        F.exp(
            F.log(F.col("last_rev").cast("double") / F.col("first_rev").cast("double"))
            / (F.col("n_months") - 1).cast("double")
        )
        - 1.0,
        6,
    )
    return agg.select(
        "priority", "n_months", "first_rev", "last_rev", cmgr.alias("cmgr")
    ).orderBy("priority")


_CMGR_SQL = """
WITH monthly AS (
    SELECT o_orderpriority AS priority,
           CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT) AS m,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS rev
    FROM orders GROUP BY 1, 2
)
SELECT priority, COUNT(*) AS n_months,
       CAST(arg_min(rev, m) AS BIGINT) AS first_rev,
       CAST(arg_max(rev, m) AS BIGINT) AS last_rev,
       ROUND(EXP(LN(CAST(arg_max(rev, m) AS DOUBLE) / CAST(arg_min(rev, m) AS DOUBLE))
                 / CAST(COUNT(*) - 1 AS DOUBLE)) - 1.0, 6) AS cmgr
FROM monthly
GROUP BY priority
ORDER BY priority
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
# seq_event_paths — top 3-step behavioral paths
# ---------------------------------------------------------------------------

PATH_TOP_K = 20


def seq_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {PATH_TOP_K} three-step event paths across all users — the
    Sankey-diagram edge list one level deeper than the first-order
    transition matrix (``seq_transition_matrix``): which full journeys
    actually happen, not just which hops.

    Paths come from two stacked leads over the totally-ordered user
    stream; counts are exact; the top-k cut is a deterministic
    (count DESC, path ASC) rank.

    Scale: one user-partition window pass; the aggregate is bounded by
    |types|³ regardless of corpus size.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    ranked = paths.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.desc("n_paths"), F.asc("e1"), F.asc("e2"), F.asc("e3"))
        ),
    )
    return (
        ranked.where(F.col("rn") <= PATH_TOP_K)
        .select(F.col("rn").cast("long").alias("rank"), "e1", "e2", "e3", "n_paths")
        .orderBy("rank")
    )


_PATHS_SQL = f"""
WITH paths AS (
    SELECT e1, e2, e3, COUNT(*) AS n_paths
    FROM (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1, 2, 3
),
ranked AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_paths DESC, e1, e2, e3) AS BIGINT) AS rank,
           e1, e2, e3, n_paths
    FROM paths
)
SELECT rank, e1, e2, e3, n_paths
FROM ranked WHERE rank <= {PATH_TOP_K}
ORDER BY rank
"""

# ---------------------------------------------------------------------------
# agg_dau_mau_stickiness — activity ratios per day
# ---------------------------------------------------------------------------


def agg_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, trailing-30-day MAU, and the DAU/MAU
    stickiness ratio per day — the engagement dashboard's first row.

    Distinct-user sets per day reduce FIRST (user-day grain); the
    trailing window unions are counted via a day×user equi-join
    against the day spine bounded by the trailing range — never a
    distinct over raw events per window. Ratios are exact-count 6dp
    rounds.

    Scale: user-day reduction carries the data cost; the trailing
    distinct counts join (day_spine × active-user-days within 30 days)
    — bounded by days × daily-active-users, the already-reduced grain.
    """
    ev = load(spark, sf_dir, "events")
    ud = (
        ev.select(
            F.floor(F.floor(F.unix_timestamp("ts")) / 86400).cast("long").alias("d"),
            "user_id",
        )
        .distinct()
    )
    days = ud.select("d").distinct()
    a = days.alias("a")
    u = ud.alias("u")
    trailing = a.join(
        u,
        (F.col("u.d") <= F.col("a.d")) & (F.col("u.d") > F.col("a.d") - 30),
    )
    rolled = trailing.groupBy(F.col("a.d").alias("day_idx")).agg(
        F.count_distinct(
            F.when(F.col("u.d") == F.col("a.d"), F.col("u.user_id"))
        ).alias("dau"),
        F.count_distinct(
            F.when(F.col("u.d") > F.col("a.d") - 7, F.col("u.user_id"))
        ).alias("wau"),
        F.count_distinct("u.user_id").alias("mau"),
    )
    return rolled.select(
        "day_idx",
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau").cast("double"), 6).alias(
            "stickiness"
        ),
    ).orderBy("day_idx")


_DAU_SQL = """
WITH ud AS (
    SELECT DISTINCT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT) AS d,
           user_id
    FROM events
),
days AS (SELECT DISTINCT d FROM ud),
rolled AS (
    SELECT a.d AS day_idx,
           COUNT(DISTINCT CASE WHEN u.d = a.d THEN u.user_id END) AS dau,
           COUNT(DISTINCT CASE WHEN u.d > a.d - 7 THEN u.user_id END) AS wau,
           COUNT(DISTINCT u.user_id) AS mau
    FROM days a
    JOIN ud u ON u.d <= a.d AND u.d > a.d - 30
    GROUP BY a.d
)
SELECT day_idx, dau, wau, mau,
       ROUND(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness
FROM rolled
ORDER BY day_idx
"""


# ---------------------------------------------------------------------------
# quality_duplicate_token_share — wasted-token accounting for training
# ---------------------------------------------------------------------------


def quality_duplicate_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of corpus TOKENS sitting in exact-duplicate documents —
    the number that converts "X% of docs are dups" into what training
    actually cares about: how much compute would be spent re-reading
    the same text. Keeps the first doc (lowest id) of each md5 group;
    every other copy's tokens are "wasted".

    Counts are exact int64; shares 6dp ratios. One md5-group reduce
    (fixed-width shuffle key) plus a scalar rollup — the same shape as
    dedup_exact with token mass carried alongside.
    """
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(tokens_col("text")).cast("long").alias("toks"),
    )
    keep_w = Window.partitionBy("h").orderBy("doc_id")
    flagged = per_doc.select(
        "toks",
        (F.row_number().over(keep_w) > 1).alias("is_dup"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("n_dup_docs"),
        F.sum("toks").alias("total_tokens"),
        F.sum(F.when(F.col("is_dup"), F.col("toks")).otherwise(0))
        .cast("long")
        .alias("dup_tokens"),
    ).select(
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        "dup_tokens",
        F.round(
            F.col("dup_tokens").cast("double") / F.col("total_tokens").cast("double"), 6
        ).alias("dup_token_share"),
    )


_DUP_SHARE_SQL = f"""
WITH per_doc AS (
    SELECT doc_id, md5(text) AS h,
           CAST(len({sql_tokens("text")}) AS BIGINT) AS toks
    FROM documents
),
flagged AS (
    SELECT toks,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) > 1 AS is_dup
    FROM per_doc
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN is_dup THEN toks ELSE 0 END) AS BIGINT) AS dup_tokens,
       ROUND(CAST(SUM(CASE WHEN is_dup THEN toks ELSE 0 END) AS DOUBLE)
             / CAST(SUM(toks) AS DOUBLE), 6) AS dup_token_share
FROM flagged
"""

# ---------------------------------------------------------------------------
# embedding_norm_outliers — L2-norm hygiene screen
# ---------------------------------------------------------------------------


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding vectors whose L2 norm sits beyond mean ± 3σ of the
    corpus norm distribution — the cheapest embedding-hygiene screen
    (zero vectors, scaling bugs, NaN-poisoned rows all surface here
    before any similarity search trusts the space).

    Norms are computed in integer micro-units (Σ x_q² exact int64 per
    row); the mean/σ thresholds come from exact moment sums, and the
    final filter compares identical doubles — engine-exact.

    Scale: one map pass for per-row norm², a 3-scalar moment reduce,
    then one more filter pass with the thresholds as broadcast
    scalars. Output bounded by the outlier rate.
    """
    emb = load(spark, sf_dir, "embeddings")
    # explicit double cast: float32 * int promotes differently across
    # engines (Spark stays float, DuckDB widens) — cast first so both
    # quantize the identical double value
    xq = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000000).cast("long")
    )
    n2 = F.aggregate(
        F.transform(xq, lambda e: e * e),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    # second moments run on kilo-unit norms (floor(n2/1e6)) — n2 can
    # reach ~2e13, so n2 squared would overflow int64 in BOTH engines;
    # the rescale keeps every sum an exact int64.
    rows = emb.select(
        "vec_id",
        n2.alias("n2"),
        F.floor(n2 / F.lit(1000000.0)).cast("long").alias("nk"),
    )
    moments = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nk").alias("s1"),
        # nk ≈ 1e6 for unit-norm vectors, so Σ nk² in plain int64
        # overflows near ~9M rows — decimal keeps the corpus-wide
        # second moment exact at any N (same hardening as acf/decompose)
        F.sum(F.col("nk").cast("decimal(18,0)") * F.col("nk")).alias("s2"),
    )
    stats = rows.crossJoin(F.broadcast(moments))
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    mean = s1 / n
    var = s2 / n - mean * mean
    lo = mean - 3.0 * F.sqrt(var)
    hi = mean + 3.0 * F.sqrt(var)
    return (
        stats.where((F.col("nk").cast("double") < lo) | (F.col("nk").cast("double") > hi))
        .select(
            "vec_id",
            "n2",
            F.round(F.sqrt(F.col("n2").cast("double")) / 1000000.0, 6).alias("l2_norm"),
        )
        .orderBy("vec_id")
    )


_NORM_OUTLIER_SQL = """
WITH rows_n AS (
    SELECT vec_id,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                     * CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
                AS BIGINT) AS n2
    FROM embeddings
),
rescaled AS (
    SELECT vec_id, n2, CAST(FLOOR(CAST(n2 AS DOUBLE) / 1000000.0) AS BIGINT) AS nk
    FROM rows_n
),
stats AS (
    SELECT vec_id, n2, nk,
           CAST(COUNT(*) OVER () AS DOUBLE) AS n,
           CAST(SUM(nk) OVER () AS DOUBLE) AS s1,
           CAST(SUM(CAST(nk AS HUGEINT) * nk) OVER () AS DOUBLE) AS s2
    FROM rescaled
)
SELECT vec_id, n2,
       ROUND(SQRT(CAST(n2 AS DOUBLE)) / 1000000.0, 6) AS l2_norm
FROM stats
WHERE CAST(nk AS DOUBLE) < s1 / n - 3.0 * SQRT(s2 / n - (s1 / n) * (s1 / n))
   OR CAST(nk AS DOUBLE) > s1 / n + 3.0 * SQRT(s2 / n - (s1 / n) * (s1 / n))
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# agg_xyz_classification — demand-variability classes (ABC's companion)
# ---------------------------------------------------------------------------

XYZ_CV_X = 500_000  # CV ≤ 0.5 (micro-units) → X (stable demand)
XYZ_CV_Y = 1_000_000  # CV ≤ 1.0 → Y; else Z (erratic)


def agg_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification per part brand: the
    coefficient of variation of monthly demanded quantity sorts brands
    into X (stable — forecastable), Y (moderate), Z (erratic — safety
    stock, not forecasts). The standard companion to ABC revenue
    classification (``agg_abc_classification``).

    CV² = (n·Σq² − (Σq)²)/(Σq)² from exact integer monthly sums;
    the class compare happens on micro-quantized CV so the thresholds
    are integer comparisons in both engines.

    Scale: (brand, month) reduce → brand-grain 3-scalar moments →
    ≤|brands| rows with a 3-row rollup.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mk = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).cast("long")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("p_brand", mk.alias("m"), F.col("l_quantity").cast("long").alias("q"))
        .groupBy("p_brand", "m")
        .agg(F.sum("q").alias("qm"))
    )
    moments = monthly.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qm").alias("s1"),
        # qm is a MONTHLY sum, not a row value — its square can pass
        # int64 at scale; decimal keeps the moment exact (ANSI-safe)
        F.sum(F.col("qm").cast("decimal(18,0)") * F.col("qm")).alias("s2"),
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    cv_micro = F.floor(
        F.lit(1000000.0) * F.sqrt((n * s2 - s1 * s1) / (s1 * s1))
    ).cast("long")
    classed = moments.select(
        "p_brand",
        cv_micro.alias("cv_micro"),
    ).select(
        "p_brand",
        "cv_micro",
        F.when(F.col("cv_micro") <= XYZ_CV_X, "X")
        .when(F.col("cv_micro") <= XYZ_CV_Y, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        classed.groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_brands"),
            F.min("cv_micro").alias("min_cv_micro"),
            F.max("cv_micro").alias("max_cv_micro"),
        )
        .orderBy("xyz_class")
    )


_XYZ_SQL = f"""
WITH monthly AS (
    SELECT p_brand, CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate) - 1 AS BIGINT) AS m,
           SUM(CAST(l_quantity AS BIGINT)) AS qm
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
),
moments AS (
    SELECT p_brand, COUNT(*) AS n, SUM(qm) AS s1,
           SUM(CAST(qm AS HUGEINT) * qm) AS s2
    FROM monthly GROUP BY p_brand
),
classed AS (
    SELECT p_brand,
           CAST(FLOOR(1000000.0 * SQRT((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                / (CAST(s1 AS DOUBLE) * s1))) AS BIGINT) AS cv_micro
    FROM moments
)
SELECT CASE WHEN cv_micro <= {XYZ_CV_X} THEN 'X'
            WHEN cv_micro <= {XYZ_CV_Y} THEN 'Y'
            ELSE 'Z' END AS xyz_class,
       COUNT(*) AS n_brands,
       CAST(MIN(cv_micro) AS BIGINT) AS min_cv_micro,
       CAST(MAX(cv_micro) AS BIGINT) AS max_cv_micro
FROM classed
GROUP BY 1
ORDER BY 1
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
# sample_time_split_leakage — temporal split with entity-leakage audit
# ---------------------------------------------------------------------------

SPLIT_DATE = "2000-01-01"


def sample_time_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/validation split at {SPLIT_DATE} with the
    audit every forecasting/ML pipeline needs BEFORE trusting the
    split: row counts per side, plus ENTITY leakage — customers that
    appear on both sides (for entity-level generalization claims those
    must be zero or explicitly accepted; a random row split would hide
    this entirely).

    One scan computes per-customer min/max order dates; the leakage
    set is customers with orders straddling the boundary. All counts
    exact.

    Scale: customer-grain reduce (two dates per key), then scalar
    conditional counts — no join, no second scan.
    """
    o = load(spark, sf_dir, "orders")
    split = F.lit(SPLIT_DATE).cast("timestamp")
    per_cust = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("d0"),
        F.max("o_orderdate").alias("d1"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderdate") < split, 1).otherwise(0)).alias("n_train"),
    )
    return per_cust.agg(
        F.sum("n_train").cast("long").alias("n_train_rows"),
        (F.sum("n") - F.sum("n_train")).cast("long").alias("n_val_rows"),
        F.sum(F.when(F.col("d1") < split, 1).otherwise(0))
        .cast("long")
        .alias("n_train_only_customers"),
        F.sum(F.when(F.col("d0") >= split, 1).otherwise(0))
        .cast("long")
        .alias("n_val_only_customers"),
        F.sum(F.when((F.col("d0") < split) & (F.col("d1") >= split), 1).otherwise(0))
        .cast("long")
        .alias("n_leaking_customers"),
    )


_TIME_SPLIT_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey, MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1,
           COUNT(*) AS n,
           SUM(CASE WHEN o_orderdate < TIMESTAMP '{SPLIT_DATE} 00:00:00' THEN 1 ELSE 0 END) AS n_train
    FROM orders GROUP BY o_custkey
)
SELECT CAST(SUM(n_train) AS BIGINT) AS n_train_rows,
       CAST(SUM(n) - SUM(n_train) AS BIGINT) AS n_val_rows,
       CAST(SUM(CASE WHEN d1 < TIMESTAMP '{SPLIT_DATE} 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_train_only_customers,
       CAST(SUM(CASE WHEN d0 >= TIMESTAMP '{SPLIT_DATE} 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_val_only_customers,
       CAST(SUM(CASE WHEN d0 < TIMESTAMP '{SPLIT_DATE} 00:00:00'
                      AND d1 >= TIMESTAMP '{SPLIT_DATE} 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_customers
FROM per_cust
"""

# ---------------------------------------------------------------------------
# agg_welch_ttest — two-sample mean comparison from exact moments
# ---------------------------------------------------------------------------

TT_GROUP_A = "1-URGENT"
TT_GROUP_B = "5-LOW"


def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic comparing whole-dollar order
    value between '{TT_GROUP_A}' and '{TT_GROUP_B}' priorities, with
    Welch–Satterthwaite degrees of freedom — the readout statistic an
    experimentation pipeline computes after the SRM guardrail
    (``sample_ab_assignment_srm``) passes.

    Both groups' (n, Σy, Σy²) are exact int64 from ONE conditional
    pass; t and dof are derived in double from identical operands and
    rounded to 6dp. (p-values need a t CDF — out of SQL scope; the
    statistic + dof are the lookup key.)

    Scale: single-pass conditional moment sums — no groupBy shuffle at
    all, one scalar row out.
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    is_a = F.col("o_orderpriority") == TT_GROUP_A
    is_b = F.col("o_orderpriority") == TT_GROUP_B
    m = o.select(y.alias("y"), is_a.alias("a"), is_b.alias("b")).agg(
        F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("a"), F.col("y")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("a"), F.col("y").cast("decimal(18,0)") * F.col("y")).otherwise(0)).alias("qa"),
        F.sum(F.when(F.col("b"), 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("b"), F.col("y")).otherwise(0)).alias("sb"),
        F.sum(F.when(F.col("b"), F.col("y").cast("decimal(18,0)") * F.col("y")).otherwise(0)).alias("qb"),
    )
    na, sa, qa = (F.col(c).cast("double") for c in ("na", "sa", "qa"))
    nb, sb, qb = (F.col(c).cast("double") for c in ("nb", "sb", "qb"))
    va = (qa - sa * sa / na) / (na - 1.0)
    vb = (qb - sb * sb / nb) / (nb - 1.0)
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / F.sqrt(se2)
    dof = se2 * se2 / (
        (va / na) * (va / na) / (na - 1.0) + (vb / nb) * (vb / nb) / (nb - 1.0)
    )
    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(sa / na, 6).alias("mean_a"),
        F.round(sb / nb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_dof"),
    )


_TTEST_SQL = f"""
WITH m AS (
    SELECT SUM(CASE WHEN o_orderpriority = '{TT_GROUP_A}' THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN o_orderpriority = '{TT_GROUP_A}' THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS sa,
           SUM(CASE WHEN o_orderpriority = '{TT_GROUP_A}' THEN CAST(FLOOR(o_totalprice) AS HUGEINT) * CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS qa,
           SUM(CASE WHEN o_orderpriority = '{TT_GROUP_B}' THEN 1 ELSE 0 END) AS nb,
           SUM(CASE WHEN o_orderpriority = '{TT_GROUP_B}' THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS sb,
           SUM(CASE WHEN o_orderpriority = '{TT_GROUP_B}' THEN CAST(FLOOR(o_totalprice) AS HUGEINT) * CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS qb
    FROM orders
),
d AS (
    SELECT CAST(na AS DOUBLE) AS na, CAST(sa AS DOUBLE) AS sa, CAST(qa AS DOUBLE) AS qa,
           CAST(nb AS DOUBLE) AS nb, CAST(sb AS DOUBLE) AS sb, CAST(qb AS DOUBLE) AS qb
    FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(sa / na, 6) AS mean_a,
       ROUND(sb / nb, 6) AS mean_b,
       ROUND((sa / na - sb / nb)
             / SQRT(((qa - sa * sa / na) / (na - 1.0)) / na
                    + ((qb - sb * sb / nb) / (nb - 1.0)) / nb), 6) AS t_stat,
       ROUND((((qa - sa * sa / na) / (na - 1.0)) / na + ((qb - sb * sb / nb) / (nb - 1.0)) / nb)
             * (((qa - sa * sa / na) / (na - 1.0)) / na + ((qb - sb * sb / nb) / (nb - 1.0)) / nb)
             / ((((qa - sa * sa / na) / (na - 1.0)) / na) * (((qa - sa * sa / na) / (na - 1.0)) / na) / (na - 1.0)
                + (((qb - sb * sb / nb) / (nb - 1.0)) / nb) * (((qb - sb * sb / nb) / (nb - 1.0)) / nb) / (nb - 1.0)),
             6) AS welch_dof
FROM d
"""


# ---------------------------------------------------------------------------
# quality_schema_contract — physical-schema contract validation
# ---------------------------------------------------------------------------

ORDERS_CONTRACT = (
    ("o_orderkey", "INT64"),
    ("o_custkey", "INT64"),
    ("o_orderstatus", "BYTE_ARRAY"),
    ("o_totalprice", "DOUBLE"),
    ("o_orderdate", "INT64"),
    ("o_orderpriority", "BYTE_ARRAY"),
)

_SPARK_TO_PHYSICAL = {
    "bigint": "INT64",
    "long": "INT64",
    "int": "INT32",
    "integer": "INT32",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "BYTE_ARRAY",
    "timestamp": "INT64",
    "timestamp_ntz": "INT64",
}


def quality_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation at the PHYSICAL parquet level: the
    orders table's columns checked (name, parquet physical type,
    position) against the pinned contract — the gate an ingestion
    pipeline runs before a producer's schema change silently reshapes
    a 100 TB table. Logical Spark types are normalized to parquet
    physical types (timestamps encode as INT64, strings as
    BYTE_ARRAY) so the check matches what is actually on disk; the
    oracle applies the identical normalization to the registered
    view's logical schema (path-free, follows the harness data root).

    Scale: pure metadata — a footer read, zero data rows scanned.
    """
    from parquet_batch_spark.catalog import table_path

    actual = spark.read.parquet(table_path(sf_dir, "orders")).schema
    rows = []
    contract = dict(ORDERS_CONTRACT)
    order = {name: i + 1 for i, (name, _) in enumerate(ORDERS_CONTRACT)}
    for i, f in enumerate(actual.fields, 1):
        phys = _SPARK_TO_PHYSICAL.get(f.dataType.simpleString(), "UNKNOWN")
        rows.append(
            (
                f.name,
                int(i),
                phys,
                contract.get(f.name, "MISSING"),
                bool(contract.get(f.name) == phys and order.get(f.name) == i),
            )
        )
    return spark.createDataFrame(
        rows,
        "column_name string, position long, physical_type string, "
        "contract_type string, matches boolean",
    ).orderBy("position")


def _schema_contract_sql() -> str:
    # The oracle reads the registered ``orders`` VIEW's logical schema
    # from information_schema and normalizes logical -> parquet-physical
    # with the same mapping the Spark side applies (_SPARK_TO_PHYSICAL).
    # No filesystem path appears in the SQL, so the oracle follows the
    # harness's data root to ANY scale factor or environment (the r4
    # ADVICE flagged the previous fixed '/root/testdata/sf0.01' path).
    contract_rows = ", ".join(
        f"('{n}', {i + 1}, '{t}')" for i, (n, t) in enumerate(ORDERS_CONTRACT)
    )
    return f"""
WITH actual AS (
    SELECT column_name,
           CAST(ordinal_position AS BIGINT) AS position,
           CASE data_type
                WHEN 'BIGINT' THEN 'INT64'
                WHEN 'INTEGER' THEN 'INT32'
                WHEN 'DOUBLE' THEN 'DOUBLE'
                WHEN 'FLOAT' THEN 'FLOAT'
                WHEN 'VARCHAR' THEN 'BYTE_ARRAY'
                WHEN 'TIMESTAMP' THEN 'INT64'
                ELSE 'UNKNOWN' END AS physical_type
    FROM information_schema.columns
    WHERE table_name = 'orders'
),
contract(column_name, cpos, contract_type) AS (VALUES {contract_rows})
SELECT a.column_name, a.position, a.physical_type,
       COALESCE(c.contract_type, 'MISSING') AS contract_type,
       COALESCE(a.physical_type = c.contract_type AND a.position = c.cpos, FALSE) AS matches
FROM actual a LEFT JOIN contract c USING (column_name)
ORDER BY a.position
"""

# ---------------------------------------------------------------------------
# sample_kfold_assignment — deterministic k-fold cross-validation splits
# ---------------------------------------------------------------------------

KFOLD_K = 5
KFOLD_SALT = "cv1"


def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {KFOLD_K}-fold assignment by salted hash of the
    CUSTOMER key (entity-level folds — row-level folds leak entities
    across folds, the same trap ``sample_time_split_leakage`` audits
    for time splits). Per fold: customer count, order count, exact
    revenue, and the complement (training-side) customer count.

    Assignment is pure map-side hash arithmetic — stable across runs,
    engines, partitionings; fold membership travels with the entity.
    """
    from parquet_batch_spark.functions.numeric import dsum

    o = load(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(KFOLD_SALT), F.col("o_custkey"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    fold = (h % KFOLD_K).alias("fold")
    per_fold = (
        o.select(fold, "o_custkey", "o_totalprice")
        .groupBy("fold")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )
    tot = Window.partitionBy()
    return per_fold.select(
        "fold",
        "n_customers",
        "n_orders",
        "revenue",
        (F.sum("n_customers").over(tot) - F.col("n_customers"))
        .cast("long")
        .alias("n_train_customers"),
    ).orderBy("fold")


def _kfold_sql() -> str:
    from parquet_batch_spark.functions.numeric import sql_dsum

    return f"""
WITH assigned AS (
    SELECT CAST(('0x' || substr(md5('{KFOLD_SALT}' || ':' || o_custkey), 1, 8)) AS UBIGINT)::BIGINT % {KFOLD_K} AS fold,
           o_custkey, o_totalprice
    FROM orders
),
per_fold AS (
    SELECT fold, COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders, {sql_dsum("o_totalprice")} AS revenue
    FROM assigned GROUP BY fold
)
SELECT fold, n_customers, n_orders, revenue,
       CAST(SUM(n_customers) OVER () - n_customers AS BIGINT) AS n_train_customers
FROM per_fold
ORDER BY fold
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
# sort_nulls_placement — explicit NULLS FIRST/LAST ordering semantics
# ---------------------------------------------------------------------------


def sort_nulls_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST vs NULLS LAST ordering made observable:
    the engines' DEFAULTS differ (Spark ascends nulls-first, DuckDB
    nulls-last), so portable ORDER BY must always say which — this op
    ranks a nullable key both ways and emits both row numbers, the
    regression test any cross-engine sort migration needs.

    Ties are totalized by the order key, so both rankings are fully
    deterministic.
    """
    o = load(spark, sf_dir, "orders")
    digit = F.when(
        F.col("o_orderpriority") != "5-LOW",
        F.substring("o_orderpriority", 1, 1).cast("long"),
    )
    base = o.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", digit.alias("prio_digit")
    )
    rn_last = F.row_number().over(
        Window.orderBy(F.col("prio_digit").asc_nulls_last(), F.col("o_orderkey").asc())
    )
    rn_first = F.row_number().over(
        Window.orderBy(F.col("prio_digit").asc_nulls_first(), F.col("o_orderkey").asc())
    )
    return base.select(
        "o_orderkey",
        "prio_digit",
        rn_last.cast("long").alias("rn_nulls_last"),
        rn_first.cast("long").alias("rn_nulls_first"),
    ).orderBy("o_orderkey")


_NULLS_SORT_SQL = """
WITH base AS (
    SELECT o_orderkey,
           CASE WHEN o_orderpriority <> '5-LOW'
                THEN CAST(substring(o_orderpriority, 1, 1) AS BIGINT) END AS prio_digit
    FROM orders
    WHERE o_orderkey % 100 = 0
)
SELECT o_orderkey, prio_digit,
       CAST(ROW_NUMBER() OVER (ORDER BY prio_digit ASC NULLS LAST, o_orderkey ASC) AS BIGINT) AS rn_nulls_last,
       CAST(ROW_NUMBER() OVER (ORDER BY prio_digit ASC NULLS FIRST, o_orderkey ASC) AS BIGINT) AS rn_nulls_first
FROM base
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# agg_smoothed_group_means — empirical-Bayes shrinkage toward the grand mean
# ---------------------------------------------------------------------------

SMOOTH_K = 50  # prior strength (pseudo-observations at the grand mean)


def agg_smoothed_group_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-smoothed per-brand average retail price: the standard
    empirical-Bayes / additive-smoothing estimator sm_g = (Σy_g +
    K·M) / (n_g + K) with K={SMOOTH_K} pseudo-observations at the
    grand mean M — the technique every CTR / rating / conversion
    pipeline uses so small groups don't whipsaw rankings.

    Group sums are exact whole-dollar int64; the grand mean is an
    exact global ratio broadcast into the per-group projection; raw
    and smoothed means are rounded to 6dp. The output also carries the
    shrink weight n/(n+K) so readers see HOW much each group was
    pulled.

    Scale: one group reduce + one scalar global reduce; the smoothing
    itself is arithmetic in the final projection.
    """
    p = load(spark, sf_dir, "part")
    y = F.floor("p_retailprice").cast("long")
    groups = p.select(F.col("p_brand").alias("brand"), y.alias("y")).groupBy(
        "brand"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
    glob = groups.agg(
        F.sum("n").alias("gn"),
        F.sum("s").alias("gs"),
    )
    joined = groups.crossJoin(F.broadcast(glob))
    grand = F.col("gs").cast("double") / F.col("gn").cast("double")
    raw = F.col("s").cast("double") / F.col("n").cast("double")
    smooth = (F.col("s").cast("double") + F.lit(float(SMOOTH_K)) * grand) / (
        F.col("n").cast("double") + F.lit(float(SMOOTH_K))
    )
    return joined.select(
        "brand",
        "n",
        F.round(raw, 6).alias("raw_mean"),
        F.round(smooth, 6).alias("smoothed_mean"),
        F.round(
            F.col("n").cast("double") / (F.col("n") + F.lit(SMOOTH_K)).cast("double"), 6
        ).alias("shrink_weight"),
    ).orderBy("brand")


_SMOOTH_SQL = f"""
WITH groups AS (
    SELECT p_brand AS brand, COUNT(*) AS n,
           SUM(CAST(FLOOR(p_retailprice) AS BIGINT)) AS s
    FROM part GROUP BY p_brand
),
overall AS (
    SELECT CAST(SUM(n) AS BIGINT) AS gn, CAST(SUM(s) AS BIGINT) AS gs FROM groups
)
SELECT brand, n,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_mean,
       ROUND((CAST(s AS DOUBLE) + {SMOOTH_K}.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
             / (CAST(n AS DOUBLE) + {SMOOTH_K}.0), 6) AS smoothed_mean,
       ROUND(CAST(n AS DOUBLE) / CAST(n + {SMOOTH_K} AS DOUBLE), 6) AS shrink_weight
FROM groups, overall
ORDER BY brand
"""


# ---------------------------------------------------------------------------
# agg_fano_dispersion — burstiness of daily event arrivals
# ---------------------------------------------------------------------------


def agg_fano_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of daily event counts per
    type — the point-process dispersion diagnostic: ≈1 is Poisson
    (memoryless arrivals), >1 bursty (campaigns, incidents), <1
    regular (rate-limited/scheduled). The cheap test that tells a
    capacity model which arrival assumption is safe.

    Daily counts are exact integers; variance comes from exact moment
    sums (population variance over observed days); the ratio is a 6dp
    round.

    Scale: (type, day) reduce then a per-type 3-scalar moment reduce.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.col("ts").cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        # c is a DAILY count, not a row value — decimal-cast the square
        # so the per-type second moment stays exact at any event volume
        F.sum(F.col("c").cast("decimal(18,0)") * F.col("c")).alias("s2"),
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    mean = s1 / n
    var = s2 / n - mean * mean
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var / mean, 6).alias("fano_factor"),
    ).orderBy("event_type")


_FANO_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type, COUNT(*) AS n, SUM(c) AS s1,
           SUM(CAST(c AS HUGEINT) * c) AS s2
    FROM daily GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
       ROUND((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS fano_factor
FROM m
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# agg_anova_oneway — F statistic across all priority groups
# ---------------------------------------------------------------------------


ANOVA_PRIORITIES = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)


def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across ALL priority classes at once (the k-group
    generalization of ``agg_welch_ttest``): F = (SSB/(k−1)) /
    (SSW/(N−k)) — "does priority move order value at all", before any
    pairwise digging.

    The priority domain is a FIXED literal list, so the per-group
    moment sums land as separate conditional-aggregate columns and
    Σ s_g²/n_g is written as a fixed-order expression — a float SUM
    over groups would be partial-aggregation-order-dependent and broke
    the oracle hash on first write (caught by the dual-SF sweep).
    All row-level sums are exact int64.

    Scale: ONE conditional-aggregation pass (no groupBy shuffle),
    constant arithmetic in the projection.
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    aggs = []
    for i, p in enumerate(ANOVA_PRIORITIES):
        is_p = F.col("o_orderpriority") == p
        aggs.append(F.sum(F.when(is_p, 1).otherwise(0)).alias(f"n{i}"))
        aggs.append(F.sum(F.when(is_p, F.col("y")).otherwise(0)).alias(f"s{i}"))
    aggs.append(F.sum(F.col("y").cast("decimal(18,0)") * F.col("y")).alias("qq"))
    m = o.select("o_orderpriority", y.alias("y")).agg(*aggs)
    k = float(len(ANOVA_PRIORITIES))
    nn = sum((F.col(f"n{i}").cast("double") for i in range(len(ANOVA_PRIORITIES))), F.lit(0.0))
    ss = sum((F.col(f"s{i}").cast("double") for i in range(len(ANOVA_PRIORITIES))), F.lit(0.0))
    sg = sum(
        (
            F.col(f"s{i}").cast("double")
            * F.col(f"s{i}").cast("double")
            / F.col(f"n{i}").cast("double")
            for i in range(len(ANOVA_PRIORITIES))
        ),
        F.lit(0.0),
    )
    qq = F.col("qq").cast("double")
    ssb = sg - ss * ss / nn
    ssw = qq - sg
    f_stat = (ssb / (k - 1.0)) / (ssw / (nn - k))
    return m.select(
        F.lit(len(ANOVA_PRIORITIES)).cast("long").alias("n_groups"),
        nn.cast("long").alias("n_rows"),
        # FLOOR, not round: ROUND(x, 6) on ~1e11 values multiplies past
        # 2^53 inside DuckDB and drifts in the last decimals; floor of
        # the identical double is exact in both engines.
        F.floor(ssb).cast("long").alias("ss_between"),
        F.floor(ssw).cast("long").alias("ss_within"),
        F.round(f_stat, 6).alias("f_stat"),
    )


_ANOVA_SQL = """
WITH m AS (
    SELECT SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n0,\n           SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS s0,\n           SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS n1,\n           SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS s1,\n           SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS n2,\n           SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS s2,\n           SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS n3,\n           SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS s3,\n           SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS n4,\n           SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS s4,\n           SUM(CAST(FLOOR(o_totalprice) AS HUGEINT) * CAST(FLOOR(o_totalprice) AS BIGINT)) AS qq
    FROM orders
),
d AS (
    SELECT (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + CAST(n3 AS DOUBLE) + CAST(n4 AS DOUBLE)) AS nn, (CAST(s0 AS DOUBLE) + CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE) + CAST(s3 AS DOUBLE) + CAST(s4 AS DOUBLE)) AS ss, (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) + CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) + CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE) + CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE) / CAST(n4 AS DOUBLE)) AS sg, CAST(qq AS DOUBLE) AS qq
    FROM m
)
SELECT CAST(5 AS BIGINT) AS n_groups, CAST(nn AS BIGINT) AS n_rows,
       CAST(FLOOR(sg - ss * ss / nn) AS BIGINT) AS ss_between,
       CAST(FLOOR(qq - sg) AS BIGINT) AS ss_within,
       ROUND(((sg - ss * ss / nn) / (5.0 - 1.0)) / ((qq - sg) / (nn - 5.0)), 6) AS f_stat
FROM d
"""

# ---------------------------------------------------------------------------
# agg_conversion_wilson_ci — Wilson score intervals for rates
# ---------------------------------------------------------------------------

WILSON_Z = 1.959964  # 95% two-sided, fixed literal in both engines


def agg_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user-day purchase conversion rate with the WILSON score
    interval — the small-sample-safe CI (the naive ±z√(p(1−p)/n)
    interval goes negative and covers badly at low rates; Wilson is
    what experimentation platforms actually ship).

    Per DAY: of that day's active users, the share who purchased.
    Counts exact; the interval is closed-form from identical operands
    with the z literal pinned as a fixed constant in both engines.

    Scale: user-day reduce, then day-grain conditional counts.
    """
    ev = load(spark, sf_dir, "events")
    ud = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            "user_id",
            (F.col("event_type") == "purchase").alias("p"),
        )
        .groupBy("day", "user_id")
        .agg(F.max(F.when(F.col("p"), 1).otherwise(0)).alias("purchased"))
    )
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("purchased").cast("long").alias("x"),
    )
    n, x = F.col("n").cast("double"), F.col("x").cast("double")
    z = F.lit(WILSON_Z)
    phat = x / n
    denom = 1.0 + z * z / n
    center = (phat + z * z / (2.0 * n)) / denom
    half = (
        z
        * F.sqrt(phat * (1.0 - phat) / n + z * z / (4.0 * n * n))
        / denom
    )
    return daily.select(
        "day",
        "n",
        "x",
        F.round(phat, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("day")


_WILSON_SQL = f"""
WITH ud AS (
    SELECT CAST(ts AS DATE) AS day, user_id,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
    FROM events GROUP BY 1, 2
),
daily AS (
    SELECT day, COUNT(*) AS n, CAST(SUM(purchased) AS BIGINT) AS x
    FROM ud GROUP BY day
)
SELECT day, n, x,
       ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
       ROUND(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + {WILSON_Z} * {WILSON_Z} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE))
             - {WILSON_Z} * SQRT((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                                 + {WILSON_Z} * {WILSON_Z} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE)), 6) AS wilson_lo,
       ROUND(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + {WILSON_Z} * {WILSON_Z} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE))
             + {WILSON_Z} * SQRT((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                                 + {WILSON_Z} * {WILSON_Z} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE)), 6) AS wilson_hi
FROM daily
ORDER BY day
"""


# ---------------------------------------------------------------------------
# agg_power_mde — minimum detectable effect for the A/B design
# ---------------------------------------------------------------------------

MDE_Z_ALPHA = 1.959964  # two-sided 5%
MDE_Z_BETA = 0.841621  # 80% power


def agg_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis for the customer A/B design: the minimum
    detectable effect on mean account balance at 80% power / 5% α,
    given the arms the salted hash actually produced
    (``sample_ab_assignment_srm``'s design) — the number that says
    whether an experiment is even worth launching at this sample size.

    MDE = (z_α + z_β) · √(s²_a/n_a + s²_b/n_b) with variances from
    exact integer cent-moments; z literals are fixed constants in both
    engines. Also reports MDE relative to the pooled mean (the
    "detectable lift").

    Scale: one conditional-moment pass, scalar output.
    """
    c = load(spark, sf_dir, "customer")
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(AB_SALT), F.col("c_custkey"))), 1, 8),
        16,
        10,
    ).cast("long")
    arm_a = (h % 100) < 50
    yc = F.round(F.col("c_acctbal") * 100).cast("long")
    m = c.select(arm_a.alias("a"), yc.alias("y")).agg(
        F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("a"), F.col("y")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("a"), F.col("y").cast("decimal(18,0)") * F.col("y")).otherwise(0)).alias("qa"),
        F.sum(F.when(~F.col("a"), 1).otherwise(0)).alias("nb"),
        F.sum(F.when(~F.col("a"), F.col("y")).otherwise(0)).alias("sb"),
        F.sum(F.when(~F.col("a"), F.col("y").cast("decimal(18,0)") * F.col("y")).otherwise(0)).alias("qb"),
    )
    na, sa, qa = (F.col(x).cast("double") for x in ("na", "sa", "qa"))
    nb, sb, qb = (F.col(x).cast("double") for x in ("nb", "sb", "qb"))
    va = (qa - sa * sa / na) / (na - 1.0)
    vb = (qb - sb * sb / nb) / (nb - 1.0)
    mde_cents = (MDE_Z_ALPHA + MDE_Z_BETA) * F.sqrt(va / na + vb / nb)
    pooled_mean = (sa + sb) / (na + nb)
    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(mde_cents / 100.0, 6).alias("mde_usd"),
        F.round(mde_cents / pooled_mean, 6).alias("mde_relative"),
    )


_MDE_SQL = f"""
WITH m AS (
    SELECT
        SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN arm_a THEN y ELSE 0 END) AS sa,
        SUM(CASE WHEN arm_a THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS qa,
        SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS nb,
        SUM(CASE WHEN NOT arm_a THEN y ELSE 0 END) AS sb,
        SUM(CASE WHEN NOT arm_a THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS qb
    FROM (
        SELECT CAST(('0x' || substr(md5('{AB_SALT}' || ':' || c_custkey), 1, 8)) AS UBIGINT)::BIGINT % 100 < 50 AS arm_a,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS y
        FROM customer
    )
),
d AS (
    SELECT CAST(na AS DOUBLE) AS na, CAST(sa AS DOUBLE) AS sa, CAST(qa AS DOUBLE) AS qa,
           CAST(nb AS DOUBLE) AS nb, CAST(sb AS DOUBLE) AS sb, CAST(qb AS DOUBLE) AS qb
    FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(({MDE_Z_ALPHA} + {MDE_Z_BETA})
             * SQRT(((qa - sa * sa / na) / (na - 1.0)) / na
                    + ((qb - sb * sb / nb) / (nb - 1.0)) / nb) / 100.0, 6) AS mde_usd,
       ROUND(({MDE_Z_ALPHA} + {MDE_Z_BETA})
             * SQRT(((qa - sa * sa / na) / (na - 1.0)) / na
                    + ((qb - sb * sb / nb) / (nb - 1.0)) / nb)
             / ((sa + sb) / (na + nb)), 6) AS mde_relative
FROM d
"""

# ---------------------------------------------------------------------------
# window_ship_latency_histogram — order-to-ship latency distribution
# ---------------------------------------------------------------------------

LAT_BUCKET_DAYS = 30


def window_ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority: days between
    order date and each line's ship date, bucketed by {LAT_BUCKET_DAYS}
    days with per-priority shares — the SLA view that shows whether
    urgent orders actually ship faster.

    Latencies are exact integer day gaps; the fact-fact join runs on
    the order key (bounded per-key fan-out = lines per order).

    Scale: key equi-join, then a (priority × bucket)-bounded count.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    gap = F.datediff("sd", "od")
    bucket = F.floor(gap / LAT_BUCKET_DAYS).cast("long")
    row_w = Window.partitionBy("o_orderpriority")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_orderpriority").alias("priority"), bucket.alias("bucket"))
        .groupBy("priority", "bucket")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .select(
            "priority",
            "bucket",
            "n_lines",
            F.round(
                F.col("n_lines").cast("double")
                / F.sum("n_lines").over(Window.partitionBy("priority")).cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("priority", "bucket")
    )


_LATENCY_SQL = f"""
WITH gaps AS (
    SELECT o_orderpriority AS priority,
           CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
                / {LAT_BUCKET_DAYS}) AS BIGINT) AS bucket
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT priority, bucket, COUNT(*) AS n_lines,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY priority) AS DOUBLE), 6) AS share
FROM gaps
GROUP BY priority, bucket
ORDER BY priority, bucket
"""


# ---------------------------------------------------------------------------
# agg_diff_in_diff — difference-in-differences estimate
# ---------------------------------------------------------------------------

DID_SPLIT = "1998-01-01"


def agg_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (treatment post − pre) − (control
    post − pre) on mean order value, with treatment assigned by the
    salted customer hash and the period split at {DID_SPLIT} — the
    causal-inference workhorse for rollouts without a clean A/B, in
    one conditional-aggregation pass.

    The four cell means come from exact int64 (n, Σy) pairs; the DiD
    estimate is fixed-order double arithmetic rounded to 6dp. Under a
    random hash assignment the true effect is 0 — the op doubles as an
    A/A placebo check.

    Scale: one pass, four conditional count/sum pairs, scalar output.
    """
    o = load(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(AB_SALT), F.col("o_custkey"))), 1, 8),
        16,
        10,
    ).cast("long")
    treat = (h % 100) < 50
    post = F.col("o_orderdate") >= F.lit(DID_SPLIT).cast("timestamp")
    y = F.floor("o_totalprice").cast("long")
    cells = o.select(treat.alias("t"), post.alias("p"), y.alias("y"))
    aggs = []
    for tag, tcond, pcond in (
        ("tp", F.col("t"), F.col("p")),
        ("tq", F.col("t"), ~F.col("p")),
        ("cp", ~F.col("t"), F.col("p")),
        ("cq", ~F.col("t"), ~F.col("p")),
    ):
        cond = tcond & pcond
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{tag}"))
        aggs.append(F.sum(F.when(cond, F.col("y")).otherwise(0)).alias(f"s_{tag}"))
    m = cells.agg(*aggs)
    mean = {
        tag: F.col(f"s_{tag}").cast("double") / F.col(f"n_{tag}").cast("double")
        for tag in ("tp", "tq", "cp", "cq")
    }
    did = (mean["tp"] - mean["tq"]) - (mean["cp"] - mean["cq"])
    return m.select(
        F.col("n_tp").cast("long").alias("n_treat_post"),
        F.col("n_tq").cast("long").alias("n_treat_pre"),
        F.col("n_cp").cast("long").alias("n_ctrl_post"),
        F.col("n_cq").cast("long").alias("n_ctrl_pre"),
        F.round(mean["tp"] - mean["tq"], 6).alias("treat_delta"),
        F.round(mean["cp"] - mean["cq"], 6).alias("ctrl_delta"),
        F.round(did, 6).alias("did_estimate"),
    )


_DID_SQL = f"""
WITH cells AS (
    SELECT CAST(('0x' || substr(md5('{AB_SALT}' || ':' || o_custkey), 1, 8)) AS UBIGINT)::BIGINT % 100 < 50 AS t,
           o_orderdate >= TIMESTAMP '{DID_SPLIT} 00:00:00' AS p,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS y
    FROM orders
),
m AS (
    SELECT SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS n_tp,
           SUM(CASE WHEN t AND p THEN y ELSE 0 END) AS s_tp,
           SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS n_tq,
           SUM(CASE WHEN t AND NOT p THEN y ELSE 0 END) AS s_tq,
           SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS n_cp,
           SUM(CASE WHEN NOT t AND p THEN y ELSE 0 END) AS s_cp,
           SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS n_cq,
           SUM(CASE WHEN NOT t AND NOT p THEN y ELSE 0 END) AS s_cq
    FROM cells
)
SELECT CAST(n_tp AS BIGINT) AS n_treat_post, CAST(n_tq AS BIGINT) AS n_treat_pre,
       CAST(n_cp AS BIGINT) AS n_ctrl_post, CAST(n_cq AS BIGINT) AS n_ctrl_pre,
       ROUND(CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) - CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE), 6) AS treat_delta,
       ROUND(CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) - CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE), 6) AS ctrl_delta,
       ROUND((CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) - CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE))
             - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) - CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE)), 6) AS did_estimate
FROM m
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
# agg_mann_whitney_u — rank-based nonparametric group comparison
# ---------------------------------------------------------------------------


def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U comparing order value between '{TT_GROUP_A}'
    and '{TT_GROUP_B}' priorities — the rank-based test that stays
    valid when the t-test's normality story doesn't (heavy-tailed
    money data is the canonical case).

    Average ranks are computed EXACTLY over the value-DISTINCT reduced
    table: doubling the rank sum keeps tied-rank averages integral
    (2·R_A = Σ n_Av·(2·cum_before + n_v + 1)), so U is exact int64;
    the normal z approximation (no tie correction — noted) derives in
    double and rounds to 6dp.

    Scale: value-grain reduction first (domain-bounded for
    whole-dollar prices), one cumulative window over that reduced
    table, scalar output.
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    vals = (
        o.where(F.col("o_orderpriority").isin(TT_GROUP_A, TT_GROUP_B))
        .select(
            y.alias("v"),
            (F.col("o_orderpriority") == TT_GROUP_A).alias("a"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("a"), 1).otherwise(0)).cast("long").alias("na_v"),
            F.sum(F.when(F.col("a"), 0).otherwise(1)).cast("long").alias("nb_v"),
        )
    )
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    stepped = vals.select(
        "v",
        "na_v",
        "nb_v",
        F.coalesce(F.sum(F.col("na_v") + F.col("nb_v")).over(cum), F.lit(0)).alias(
            "cum_before"
        ),
    )
    # rank products are N^2-scale — decimal sum (oracle: HUGEINT)
    two_ra = F.sum(
        F.col("na_v").cast("decimal(19,0)")
        * (2 * F.col("cum_before") + F.col("na_v") + F.col("nb_v") + 1)
    )
    m = stepped.agg(
        F.sum("na_v").alias("na"),
        F.sum("nb_v").alias("nb"),
        two_ra.alias("two_ra"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    u_a = (F.col("two_ra").cast("double") - F.col("na").cast("double") * (F.col("na") + 1).cast("double")) / 2.0
    mu = na * nb / 2.0
    sigma = F.sqrt(na * nb * (na + nb + 1.0) / 12.0)
    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(u_a, 6).alias("u_a"),
        F.round(na * nb - u_a, 6).alias("u_b"),
        F.round((u_a - mu) / sigma, 6).alias("z_approx"),
    )


_MWU_SQL = f"""
WITH vals AS (
    SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
           CAST(SUM(CASE WHEN o_orderpriority = '{TT_GROUP_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
           CAST(SUM(CASE WHEN o_orderpriority = '{TT_GROUP_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb_v
    FROM orders
    WHERE o_orderpriority IN ('{TT_GROUP_A}', '{TT_GROUP_B}')
    GROUP BY 1
),
stepped AS (
    SELECT v, na_v, nb_v,
           COALESCE(SUM(na_v + nb_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM vals
),
m AS (
    SELECT SUM(na_v) AS na, SUM(nb_v) AS nb,
           SUM(CAST(na_v AS HUGEINT) * (2 * cum_before + na_v + nb_v + 1)) AS two_ra
    FROM stepped
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND((CAST(two_ra AS DOUBLE) - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE)) / 2.0, 6) AS u_a,
       ROUND(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             - (CAST(two_ra AS DOUBLE) - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE)) / 2.0, 6) AS u_b,
       ROUND(((CAST(two_ra AS DOUBLE) - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE)) / 2.0
              - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
             / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0) / 12.0),
             6) AS z_approx
FROM m
"""


# ---------------------------------------------------------------------------
# window_runs_test — Wald–Wolfowitz randomness test on daily direction
# ---------------------------------------------------------------------------


def window_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the direction (up/down) of daily
    revenue: too FEW runs means trending/sticky days, too MANY means
    oscillation — the quick randomness screen before anyone fits a
    fancy time-series model. Ties count as "down" (pinned convention,
    noted in the output column names).

    Run and direction counts are exact integers from two lag passes
    over the reduced day series; the z score uses the standard
    expected-runs formula from identical operands.

    Scale: day-grain reduce; both windows run over the domain-bounded
    series; scalar output.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    signed = daily.select(
        "day",
        F.when(F.col("x") > F.lag("x").over(seq), 1).otherwise(0).alias("up"),
        F.lag("x").over(seq).isNotNull().alias("has_prev"),
    ).where(F.col("has_prev"))
    runs_marked = signed.select(
        "up",
        F.when(
            F.lag("up").over(Window.orderBy("day")).isNull()
            | (F.col("up") != F.lag("up").over(Window.orderBy("day"))),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    m = runs_marked.agg(
        F.sum("up").cast("long").alias("n_up"),
        (F.count(F.lit(1)) - F.sum("up")).cast("long").alias("n_down"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n1, n2, r = (F.col(c).cast("double") for c in ("n_up", "n_down", "n_runs"))
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return m.select(
        "n_up",
        "n_down",
        "n_runs",
        F.round(er, 6).alias("expected_runs"),
        F.round((r - er) / F.sqrt(vr), 6).alias("z_score"),
    )


_RUNS_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
signed AS (
    SELECT day,
           CASE WHEN x > LAG(x) OVER (ORDER BY day) THEN 1 ELSE 0 END AS up,
           LAG(x) OVER (ORDER BY day) IS NOT NULL AS has_prev
    FROM daily
),
runs_marked AS (
    SELECT up,
           CASE WHEN LAG(up) OVER (ORDER BY day) IS NULL
                  OR up <> LAG(up) OVER (ORDER BY day) THEN 1 ELSE 0 END AS new_run
    FROM (SELECT day, up FROM signed WHERE has_prev)
),
m AS (
    SELECT CAST(SUM(up) AS BIGINT) AS n_up,
           CAST(COUNT(*) - SUM(up) AS BIGINT) AS n_down,
           CAST(SUM(new_run) AS BIGINT) AS n_runs
    FROM runs_marked
)
SELECT n_up, n_down, n_runs,
       ROUND(1.0 + 2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
             / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)), 6) AS expected_runs,
       ROUND((CAST(n_runs AS DOUBLE)
              - (1.0 + 2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                 / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))))
             / SQRT(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                    * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                       - CAST(n_up AS DOUBLE) - CAST(n_down AS DOUBLE))
                    / ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                       * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                       * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE) - 1.0))),
             6) AS z_score
FROM m
"""


# ---------------------------------------------------------------------------
# agg_split_gain_gini — decision-tree split screening
# ---------------------------------------------------------------------------


def agg_split_gain_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-impurity split gain of each candidate feature for
    predicting order status — the univariate screen a feature-
    selection pass runs before training trees: parent impurity minus
    the child-weighted impurity after splitting on the feature
    (priority class, value band, order year).

    Impurities are Σp² forms over exact counts: per (feature_value,
    status) counts reduce first, per-child terms are 6dp-rounded and
    decimal-summed with exact-count weights — order-insensitive.

    Scale: one (feature × value × status) count per feature (three
    conditional passes unioned), all bounded by label×value domains.
    """
    o = load(spark, sf_dir, "orders")
    feats = {
        "priority": F.col("o_orderpriority"),
        "value_band": F.floor(F.col("o_totalprice") / 100000).cast("string"),
        "order_year": F.year("o_orderdate").cast("string"),
    }
    base = o.select(
        F.col("o_orderstatus").alias("label"),
        *[expr.alias(name) for name, expr in feats.items()],
    )
    per_feature = None
    for name in feats:
        cells = base.select(F.lit(name).alias("feature"), F.col(name).alias("v"), "label")
        per_feature = cells if per_feature is None else per_feature.unionAll(cells)
    counts = per_feature.groupBy("feature", "v", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    child_w = Window.partitionBy("feature", "v")
    feat_w = Window.partitionBy("feature")
    p = F.col("c").cast("double") / F.sum("c").over(child_w).cast("double")
    # child Gini = 1 − Σ p²; accumulate Σ p² exactly via rounded terms
    term = F.round(p * p, 6).cast("decimal(18,6)")
    child = counts.select(
        "feature",
        "v",
        F.col("c"),
        term.alias("p2"),
    ).groupBy("feature", "v").agg(
        F.sum("c").alias("n_child"),
        F.sum("p2").cast("decimal(18,6)").cast("double").alias("sum_p2"),
    )
    tot = Window.partitionBy("feature")
    weighted = child.select(
        "feature",
        "n_child",
        (
            F.col("n_child").cast("double") / F.sum("n_child").over(tot).cast("double")
            * (1.0 - F.col("sum_p2"))
        ).alias("w_gini"),
    )
    wterm = F.round(F.col("w_gini"), 6).cast("decimal(18,6)")
    split = weighted.select("feature", wterm.alias("wg")).groupBy("feature").agg(
        F.sum("wg").cast("decimal(18,6)").cast("double").alias("child_gini")
    )
    parent_counts = base.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    pw = Window.partitionBy()
    pp = F.col("c").cast("double") / F.sum("c").over(pw).cast("double")
    parent = (
        parent_counts.select(F.round(pp * pp, 6).cast("decimal(18,6)").alias("p2"))
        .agg((1.0 - F.sum("p2").cast("decimal(18,6)").cast("double")).alias("parent_gini"))
    )
    return (
        split.crossJoin(F.broadcast(parent))
        .select(
            "feature",
            F.round("parent_gini", 6).alias("parent_gini"),
            F.round("child_gini", 6).alias("child_gini"),
            F.round(F.col("parent_gini") - F.col("child_gini"), 6).alias("gain"),
        )
        .orderBy("feature")
    )


_SPLIT_GAIN_SQL = """
WITH base AS (
    SELECT o_orderstatus AS label,
           o_orderpriority AS priority,
           CAST(CAST(FLOOR(o_totalprice / 100000) AS BIGINT) AS VARCHAR) AS value_band,
           CAST(YEAR(o_orderdate) AS VARCHAR) AS order_year
    FROM orders
),
per_feature AS (
    SELECT 'priority' AS feature, priority AS v, label FROM base
    UNION ALL
    SELECT 'value_band', value_band, label FROM base
    UNION ALL
    SELECT 'order_year', order_year, label FROM base
),
counts AS (
    SELECT feature, v, label, COUNT(*) AS c
    FROM per_feature GROUP BY 1, 2, 3
),
p2terms AS (
    SELECT feature, v, c,
           CAST(ROUND(
               (CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY feature, v) AS DOUBLE))
               * (CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY feature, v) AS DOUBLE)),
               6) AS DECIMAL(18,6)) AS p2
    FROM counts
),
child AS (
    SELECT feature, v, CAST(SUM(c) AS BIGINT) AS n_child,
           CAST(CAST(SUM(p2) AS DECIMAL(18,6)) AS DOUBLE) AS sum_p2
    FROM p2terms
    GROUP BY feature, v
),
wterms AS (
    SELECT feature,
           CAST(ROUND(
               CAST(n_child AS DOUBLE) / CAST(SUM(n_child) OVER (PARTITION BY feature) AS DOUBLE)
               * (1.0 - sum_p2), 6) AS DECIMAL(18,6)) AS wg
    FROM child
),
split AS (
    SELECT feature, CAST(CAST(SUM(wg) AS DECIMAL(18,6)) AS DOUBLE) AS child_gini
    FROM wterms
    GROUP BY feature
),
pterms AS (
    SELECT CAST(ROUND(
               (CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE))
               * (CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE)), 6) AS DECIMAL(18,6)) AS p2
    FROM (SELECT label, COUNT(*) AS c FROM base GROUP BY label)
),
parent AS (
    SELECT 1.0 - CAST(CAST(SUM(p2) AS DECIMAL(18,6)) AS DOUBLE) AS parent_gini
    FROM pterms
)
SELECT feature,
       ROUND(parent_gini, 6) AS parent_gini,
       ROUND(child_gini, 6) AS child_gini,
       ROUND(parent_gini - child_gini, 6) AS gain
FROM split, parent
ORDER BY feature
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


# ---------------------------------------------------------------------------
# window_bounce_rate — single-event sessions per day
# ---------------------------------------------------------------------------


def window_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly ONE
    event — the engagement-quality headline next to peak concurrency
    (``window_peak_concurrency`` reuses the same {PEAK_GAP_S}s gap
    sessionization, so the two dashboards agree on what a session is).

    Counts exact; rate is a 6dp integer ratio. A session belongs to
    the day of its first event.

    Scale: one user-partition sessionize window, session-grain
    reduce, day-grain rollup.
    """
    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    user_w = Window.partitionBy("user_id").orderBy("s", "event_id")
    marked = ev.select("user_id", "event_id", sec.alias("s")).withColumn(
        "new_sess",
        F.when((F.col("s") - F.lag("s").over(user_w)) > PEAK_GAP_S, 1).otherwise(0),
    )
    sess_w = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = (
        marked.withColumn("sess_id", F.sum("new_sess").over(sess_w))
        .groupBy("user_id", "sess_id")
        .agg(F.min("s").alias("s0"), F.count(F.lit(1)).alias("n_events"))
    )
    day = F.floor(F.col("s0") / 86400).cast("long")
    return (
        sessions.select(day.alias("day_idx"), (F.col("n_events") == 1).alias("b"))
        .groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("b"), 1).otherwise(0)).cast("long").alias("n_bounces"),
        )
        .select(
            "day_idx",
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces").cast("double") / F.col("n_sessions").cast("double"),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("day_idx")
    )


_BOUNCE_SQL = f"""
WITH marked AS (
    SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
           CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                     - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
                     > {PEAK_GAP_S} THEN 1 ELSE 0 END AS new_sess
    FROM events
),
sessions AS (
    SELECT user_id, sess_id, MIN(s) AS s0, COUNT(*) AS n_events
    FROM (
        SELECT user_id, s,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    )
    GROUP BY user_id, sess_id
),
daily AS (
    SELECT CAST(FLOOR(s0 / 86400) AS BIGINT) AS day_idx,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
    FROM sessions
    GROUP BY 1
)
SELECT day_idx, n_sessions, n_bounces,
       ROUND(CAST(n_bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE), 6) AS bounce_rate
FROM daily
ORDER BY day_idx
"""

# ---------------------------------------------------------------------------
# approx_hll_precision_sweep — sketch accuracy vs configured error
# ---------------------------------------------------------------------------

HLL_RSDS = (0.01, 0.02, 0.05, 0.10)


def approx_hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ precision/accuracy sweep: the distinct-customer estimate
    at four configured relative standard deviations against the exact
    count — the sizing table that picks a sketch precision for a
    100 TB rollup (memory scales ~1/rsd², so 1% costs 25× the
    registers of 5%).

    Oracle strategy (as ``approx_distinct_sketch``): sketch values
    are engine-specific, so the projection is the exact count plus a
    deterministic within-5σ bound check per precision — Spark's HLL++
    is deterministic for fixed data; oracle states TRUE.  ADVICE r7
    class sweep: the oracle-checked band was 3σ (≈0.3 % flip chance
    per cell per dataset regeneration × 4 cells); the TIGHT 3σ
    assertion lives in tests/test_stats_ops.py, where a legitimate
    failure belongs — the oracle band only certifies the sketch
    didn't blow up.
    """
    o = load(spark, sf_dir, "orders")
    aggs = [F.countDistinct("o_custkey").alias("exact_customers")]
    for rsd in HLL_RSDS:
        tag = str(rsd).replace(".", "_")
        aggs.append(F.approx_count_distinct("o_custkey", rsd).alias(f"est_{tag}"))
    m = o.agg(*aggs)
    cols = [F.col("exact_customers").cast("long").alias("exact_customers")]
    for rsd in HLL_RSDS:
        tag = str(rsd).replace(".", "_")
        rel_err = F.abs(
            F.col(f"est_{tag}").cast("double")
            / F.col("exact_customers").cast("double")
            - 1.0
        )
        cols.append((rel_err <= 5.0 * rsd).alias(f"within_5sigma_{tag}"))
    return m.select(*cols)


def _hll_sweep_sql() -> str:
    bools = ",\n       ".join(
        f"TRUE AS within_5sigma_{str(r).replace('.', '_')}" for r in HLL_RSDS
    )
    return f"""
SELECT COUNT(DISTINCT o_custkey) AS exact_customers,
       {bools}
FROM orders
"""


# ---------------------------------------------------------------------------
# quality_cross_field_consistency — cross-table temporal invariant audit
# ---------------------------------------------------------------------------


def quality_cross_field_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field invariant audit: line items that SHIP BEFORE their
    order date — a physically impossible sequence the generator of
    this synthetic dataset actually produces (discovered while
    building the latency histogram), which is precisely the class of
    violation a real pipeline must count, not silently absorb, before
    computing any latency metric.

    Output per priority: lines, violations, share, and the worst
    (most negative) lead in days — exact integers and 6dp ratios.

    Scale: one bounded-fanout key join, conditional counts.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    gap = F.datediff("sd", "od")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_orderpriority").alias("priority"), gap.alias("g"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("g") < 0, 1).otherwise(0)).cast("long").alias(
                "n_violations"
            ),
            F.min("g").cast("long").alias("worst_lead_days"),
        )
        .select(
            "priority",
            "n_lines",
            "n_violations",
            F.round(
                F.col("n_violations").cast("double") / F.col("n_lines").cast("double"),
                6,
            ).alias("violation_share"),
            "worst_lead_days",
        )
        .orderBy("priority")
    )


_CONSISTENCY_SQL = """
WITH gaps AS (
    SELECT o_orderpriority AS priority,
           date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS g
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT priority, COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN g < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       ROUND(CAST(SUM(CASE WHEN g < 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS violation_share,
       CAST(MIN(g) AS BIGINT) AS worst_lead_days
FROM gaps
GROUP BY priority
ORDER BY priority
"""

# ---------------------------------------------------------------------------
# ml_rule_eval_f1 — precision/recall/F1 of a threshold rule
# ---------------------------------------------------------------------------

RULE_THRESHOLD = 300_000  # predict URGENT when order value exceeds this


def ml_rule_eval_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation primitives from one conditional pass:
    the rule "order value > ${RULE_THRESHOLD} ⇒ urgent" scored
    against the actual priority label with exact confusion-matrix
    counts and 6dp precision / recall / F1 — the evaluation harness
    every model-vs-heuristic bake-off needs, with the confusion cells
    exposed so the ratios are auditable.

    (The rule is deliberately weak on this near-uniform synthetic
    data — the op pins the MECHANISM; a real feature would move F1.)

    Scale: map-only predicate + four conditional counts, no shuffle.
    """
    o = load(spark, sf_dir, "orders")
    pred = F.col("o_totalprice") > RULE_THRESHOLD
    actual = F.col("o_orderpriority") == "1-URGENT"
    m = o.select(pred.alias("p"), actual.alias("a")).agg(
        F.sum(F.when(F.col("p") & F.col("a"), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("p") & ~F.col("a"), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~F.col("p") & F.col("a"), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~F.col("p") & ~F.col("a"), 1).otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(2.0 * precision * recall / (precision + recall), 6).alias("f1"),
    )


_RULE_F1_SQL = f"""
WITH m AS (
    SELECT
        CAST(SUM(CASE WHEN o_totalprice > {RULE_THRESHOLD} AND o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN o_totalprice > {RULE_THRESHOLD} AND o_orderpriority <> '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN o_totalprice <= {RULE_THRESHOLD} AND o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN o_totalprice <= {RULE_THRESHOLD} AND o_orderpriority <> '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM orders
)
SELECT tp, fp, fn, tn,
       ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
       ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
       ROUND(2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
             / ((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) + (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))), 6) AS f1
FROM m
"""


# ---------------------------------------------------------------------------
# agg_lognormal_fit — distribution fitting by method of moments on logs
# ---------------------------------------------------------------------------


def agg_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of order value per priority by method of moments
    on logs: μ̂ and σ̂ of ln(value), plus the fitted median e^μ̂ and the
    fitted mean e^(μ̂+σ̂²/2) — the parametric summary a pricing or
    simulation model consumes instead of raw histograms (money-like
    quantities are the textbook log-normal case).

    Logs quantize to integer MILLI-units (same device as
    ``text_zipf_fit``), so both moment sums are exact int64; the
    parameter transforms run on identical doubles and round to 6dp.

    Scale: one map-side-combined moment reduce per group.
    """
    o = load(spark, sf_dir, "orders")
    lm = F.round(F.log(F.col("o_totalprice")) * 1000).cast("long")
    m = o.select(F.col("o_orderpriority").alias("priority"), lm.alias("x")).groupBy(
        "priority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).alias("s2"),
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    mu = s1 / n / 1000.0
    var = (s2 / n - (s1 / n) * (s1 / n)) / 1000000.0
    return m.select(
        "priority",
        F.col("n").cast("long").alias("n_orders"),
        F.round(mu, 6).alias("mu_log"),
        F.round(F.sqrt(var), 6).alias("sigma_log"),
        F.round(F.exp(mu), 6).alias("fitted_median"),
        F.round(F.exp(mu + var / 2.0), 6).alias("fitted_mean"),
    ).orderBy("priority")


_LOGNORMAL_SQL = """
WITH m AS (
    SELECT o_orderpriority AS priority, COUNT(*) AS n,
           SUM(x) AS s1, SUM(CAST(x AS HUGEINT) * x) AS s2
    FROM (
        SELECT o_orderpriority,
               CAST(ROUND(LN(o_totalprice) * 1000) AS BIGINT) AS x
        FROM orders
    )
    GROUP BY 1
)
SELECT priority, CAST(n AS BIGINT) AS n_orders,
       ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0, 6) AS mu_log,
       ROUND(SQRT((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / 1000000.0), 6) AS sigma_log,
       ROUND(EXP(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0), 6) AS fitted_median,
       ROUND(EXP(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0
                 + (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                   / 1000000.0 / 2.0), 6) AS fitted_mean
FROM m
ORDER BY priority
"""


# ---------------------------------------------------------------------------
# rollup_iso_week — ISO-week revenue rollup with year-boundary audit
# ---------------------------------------------------------------------------


def rollup_iso_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue rollup on the ISO calendar (ISO year + ISO week,
    via YEAROFWEEK/isoyear) — the grouping that gets year boundaries
    RIGHT: Jan 1 1995 belongs to ISO 1994-W52 and Dec 30 1996 to ISO
    1997-W01 (both engines verified to agree). Grouping by
    (YEAR, weekofyear) instead silently splits those weeks across two
    rows — the op also counts each week's cross-calendar-year orders
    so the off-by-one-week class of reporting bug is visible.

    Scale: one map-side-combined (iso_year, iso_week) reduce.
    """
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    iso_y = F.expr("extract(YEAROFWEEK FROM CAST(o_orderdate AS DATE))").cast("long")
    iso_w = F.weekofyear(d).cast("long")
    cross = (F.year(d) != iso_y).cast("int")
    return (
        o.select(
            iso_y.alias("iso_year"),
            iso_w.alias("iso_week"),
            F.floor("o_totalprice").cast("long").alias("yd"),
            cross.alias("x"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("yd").alias("revenue_usd"),
            F.sum("x").cast("long").alias("n_cross_year"),
        )
        .orderBy("iso_year", "iso_week")
    )


_ISO_WEEK_SQL = """
SELECT CAST(isoyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_year,
       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS revenue_usd,
       CAST(SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) <> isoyear(CAST(o_orderdate AS DATE)) THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_year
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# window_realized_volatility — monthly realized vol of daily revenue
# ---------------------------------------------------------------------------


def window_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly realized volatility of daily revenue: √Σ r², where r is
    the day-over-day milli-quantized log return — the model-free
    volatility estimate (the financial-ops sibling of Bollinger/RSI
    that owns the VARIANCE of the series, not its level or momentum).

    Log returns quantize to integer milli-units, so the per-month
    Σ r² is an exact int64; the square root runs on identical doubles
    and rounds to 6dp.

    Scale: day-grain reduce, one lag pass, month-grain rollup.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    rets = daily.select(
        "day",
        (
            F.round(F.log(F.col("x").cast("double")) * 1000).cast("long")
            - F.round(
                F.log(F.lag("x").over(seq).cast("double")) * 1000
            ).cast("long")
        ).alias("r"),
    ).where(F.col("r").isNotNull())
    month = (F.year("day") * 12 + F.month("day") - 1).cast("long")
    return (
        rets.select(month.alias("month_idx"), "r")
        .groupBy("month_idx")
        .agg(
            F.count(F.lit(1)).alias("n_returns"),
            F.sum(F.col("r") * F.col("r")).alias("ss"),
        )
        .select(
            "month_idx",
            "n_returns",
            F.round(F.sqrt(F.col("ss").cast("double")) / 1000.0, 6).alias(
                "realized_vol"
            ),
        )
        .orderBy("month_idx")
    )


_RVOL_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
rets AS (
    SELECT day,
           CAST(ROUND(LN(CAST(x AS DOUBLE)) * 1000) AS BIGINT)
           - CAST(ROUND(LN(CAST(LAG(x) OVER (ORDER BY day) AS DOUBLE)) * 1000) AS BIGINT) AS r
    FROM daily
)
SELECT CAST(YEAR(day) * 12 + MONTH(day) - 1 AS BIGINT) AS month_idx,
       COUNT(*) AS n_returns,
       ROUND(SQRT(CAST(SUM(r * r) AS DOUBLE)) / 1000.0, 6) AS realized_vol
FROM rets
WHERE r IS NOT NULL
GROUP BY 1
ORDER BY 1
"""

# ---------------------------------------------------------------------------
# agg_kendall_tau — rank correlation over a reduced dimension table
# ---------------------------------------------------------------------------


def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-a between nation revenue and nation customer count
    — the rank correlation that asks "do bigger markets also spend
    more, ORDINALLY", robust to any monotone transform of either
    measure. Pair counting runs over the NATION-reduced table (≤25
    rows → ≤625 ordered pairs), the only place an all-pairs join is
    legitimate — the reduction IS the scalability argument.

    Concordant/discordant/tied counts are exact integers; τ = (C −
    D)/(n(n−1)/2) rounds to 6dp.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor("o_totalprice").cast("long")).alias("rev")
    )
    nation = (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.coalesce("rev", F.lit(0))).alias("rev"),
        )
    )
    a = nation.select(
        F.col("c_nationkey").alias("ka"), F.col("n_cust").alias("xa"), F.col("rev").alias("ya")
    )
    b = nation.select(
        F.col("c_nationkey").alias("kb"), F.col("n_cust").alias("xb"), F.col("rev").alias("yb")
    )
    pairs = a.join(b, F.col("ka") < F.col("kb"))
    sx = F.signum(F.col("xa") - F.col("xb"))
    sy = F.signum(F.col("ya") - F.col("yb"))
    m = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(sx * sy > 0, 1).otherwise(0)).cast("long").alias("concordant"),
        F.sum(F.when(sx * sy < 0, 1).otherwise(0)).cast("long").alias("discordant"),
        F.sum(F.when((sx == 0) | (sy == 0), 1).otherwise(0)).cast("long").alias("tied"),
    )
    return m.select(
        "n_pairs",
        "concordant",
        "discordant",
        "tied",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.col("n_pairs").cast("double"),
            6,
        ).alias("kendall_tau"),
    )


_KENDALL_SQL = """
WITH per_cust AS (
    SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
nation AS (
    SELECT c_nationkey, COUNT(*) AS n_cust,
           CAST(SUM(COALESCE(rev, 0)) AS BIGINT) AS rev
    FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
    GROUP BY 1
),
pairs AS (
    SELECT SIGN(a.n_cust - b.n_cust) AS sx, SIGN(a.rev - b.rev) AS sy
    FROM nation a JOIN nation b ON a.c_nationkey < b.c_nationkey
)
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
       CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
       CAST(SUM(CASE WHEN sx = 0 OR sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tied,
       ROUND(CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
                  - SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS kendall_tau
FROM pairs
"""


# ---------------------------------------------------------------------------
# window_seasonal_decompose — additive trend/seasonal/residual split
# ---------------------------------------------------------------------------

DECOMP_MA = 29  # centered moving-average window (odd ⇒ symmetric)


def window_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily revenue — trend
    (centered {DECOMP_MA}-day moving average), day-of-week seasonal
    component (means of the detrended series), residual — reported as
    the VARIANCE ATTRIBUTION row every forecasting postmortem starts
    from: how much of the series is trend, how much weekly rhythm,
    how much noise.

    Determinism chain: daily totals are exact int64 → the centered MA
    is an exact-int ratio → the detrended series quantizes to integer
    MILLI-dollars (floor) BEFORE the day-of-week grouping, because
    group means of raw doubles would be partial-order-dependent →
    seasonal means floor back to milli-ints → residuals stay integer →
    all three variance sums are exact int64 moments.

    Scale: day-grain reduce; every window runs over the
    domain-bounded day series.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    half = DECOMP_MA // 2
    ma_w = Window.orderBy("day").rowsBetween(-half, half)
    seq = Window.orderBy("day")
    with_ma = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(ma_w).alias("nw"),
        F.sum("x").over(ma_w).alias("sw"),
        F.row_number().over(seq).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_days"),
    ).where((F.col("rn") > half) & (F.col("rn") <= F.col("n_days") - half))
    detr = with_ma.select(
        "day",
        "x",
        F.floor(
            (F.col("x").cast("double") - F.col("sw").cast("double") / F.col("nw").cast("double"))
            * 1000.0
        )
        .cast("long")
        .alias("d_milli"),
    )
    epoch_day = F.datediff("day", F.lit("1970-01-01").cast("date"))
    dow = ((epoch_day + 4) % 7).cast("long")
    keyed = detr.select("day", "x", "d_milli", dow.alias("dow"))
    dow_w = Window.partitionBy("dow")
    seasoned = keyed.select(
        "x",
        "d_milli",
        F.floor(
            F.sum("d_milli").over(dow_w).cast("double")
            / F.count(F.lit(1)).over(dow_w).cast("double")
        )
        .cast("long")
        .alias("s_milli"),
    )
    resid = seasoned.select(
        "x",
        "d_milli",
        "s_milli",
        (F.col("d_milli") - F.col("s_milli")).alias("r_milli"),
    )
    m = resid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        # daily totals square past 2^63 at ~100x scale (caught by the
        # 100x stress run) — exact decimal, HUGEINT on the oracle side
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).alias("sxx"),
        F.sum("d_milli").alias("sd"),
        # milli-squares can pass 2^63 at larger SFs — accumulate the
        # second moments in exact decimal (HUGEINT on the oracle side)
        F.sum(F.col("d_milli").cast("decimal(18,0)") * F.col("d_milli")).alias("sdd"),
        F.sum("r_milli").alias("sr"),
        F.sum(F.col("r_milli").cast("decimal(18,0)") * F.col("r_milli")).alias("srr"),
    )
    n = F.col("n").cast("double")
    var_total = (
        F.col("sxx").cast("double") / n
        - (F.col("sx").cast("double") / n) * (F.col("sx").cast("double") / n)
    )
    var_detr = (
        F.col("sdd").cast("double") / n
        - (F.col("sd").cast("double") / n) * (F.col("sd").cast("double") / n)
    ) / 1000000.0
    var_resid = (
        F.col("srr").cast("double") / n
        - (F.col("sr").cast("double") / n) * (F.col("sr").cast("double") / n)
    ) / 1000000.0
    return m.select(
        F.col("n").cast("long").alias("n_days_used"),
        F.round(1.0 - var_detr / var_total, 6).alias("trend_share"),
        F.round((var_detr - var_resid) / var_total, 6).alias("seasonal_share"),
        F.round(var_resid / var_total, 6).alias("residual_share"),
    )


_DECOMP_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
with_ma AS (
    SELECT day, x,
           COUNT(*) OVER w AS nw, SUM(x) OVER w AS sw,
           ROW_NUMBER() OVER (ORDER BY day) AS rn,
           COUNT(*) OVER () AS n_days
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {DECOMP_MA // 2} PRECEDING AND {DECOMP_MA // 2} FOLLOWING)
),
detr AS (
    SELECT day, x,
           CAST(FLOOR((CAST(x AS DOUBLE) - CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)) * 1000.0) AS BIGINT) AS d_milli
    FROM with_ma
    WHERE rn > {DECOMP_MA // 2} AND rn <= n_days - {DECOMP_MA // 2}
),
keyed AS (
    SELECT x, d_milli,
           CAST((date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS BIGINT) AS dow
    FROM detr
),
seasoned AS (
    SELECT x, d_milli,
           CAST(FLOOR(CAST(SUM(d_milli) OVER (PARTITION BY dow) AS DOUBLE)
                / CAST(COUNT(*) OVER (PARTITION BY dow) AS DOUBLE)) AS BIGINT) AS s_milli
    FROM keyed
),
m AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(d_milli) AS sd,
           SUM(CAST(d_milli AS HUGEINT) * d_milli) AS sdd,
           SUM(d_milli - s_milli) AS sr,
           SUM(CAST(d_milli - s_milli AS HUGEINT) * (d_milli - s_milli)) AS srr
    FROM seasoned
)
SELECT CAST(n AS BIGINT) AS n_days_used,
       ROUND(1.0 - (CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000.0
             / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS trend_share,
       ROUND(((CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000.0
              - (CAST(srr AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000.0)
             / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS seasonal_share,
       ROUND((CAST(srr AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000.0
             / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS residual_share
FROM m
"""


# ---------------------------------------------------------------------------
# agg_spearman_rho — rank correlation via Pearson on dense ranks
# ---------------------------------------------------------------------------


def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's ρ between nation revenue and customer count —
    Kendall's τ's sibling (``agg_kendall_tau``): Pearson correlation
    computed on AVERAGE ranks of each measure over the nation-reduced
    table. Ranks double to stay integral under ties (the Mann–Whitney
    device), so every moment sum is exact int64 and the closed form
    is engine-identical.

    Scale: rank windows run over the ≤25-row reduced dim — the
    reduction is the scalability argument, as with τ.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor("o_totalprice").cast("long")).alias("rev")
    )
    nation = (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.coalesce("rev", F.lit(0))).alias("rev"),
        )
    )
    # doubled average rank: 2·avg_rank = 2·(count below) + (ties + 1)
    def dr(col):
        below = Window.orderBy(col).rangeBetween(Window.unboundedPreceding, -1)
        ties = Window.partitionBy(col)
        return (
            2 * F.coalesce(F.count(F.lit(1)).over(below), F.lit(0))
            + F.count(F.lit(1)).over(ties)
            + 1
        ).cast("long")

    ranked = nation.select(
        dr(F.col("n_cust")).alias("rx"),
        dr(F.col("rev")).alias("ry"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    rho = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(
        F.col("n").cast("long").alias("n_nations"),
        F.round(rho, 6).alias("spearman_rho"),
    )


_SPEARMAN_SQL = """
WITH per_cust AS (
    SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
nation AS (
    SELECT c_nationkey, COUNT(*) AS n_cust,
           CAST(SUM(COALESCE(rev, 0)) AS BIGINT) AS rev
    FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
    GROUP BY 1
),
ranked AS (
    SELECT
        CAST(2 * COALESCE(COUNT(*) OVER (ORDER BY n_cust RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + COUNT(*) OVER (PARTITION BY n_cust) + 1 AS BIGINT) AS rx,
        CAST(2 * COALESCE(COUNT(*) OVER (ORDER BY rev RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + COUNT(*) OVER (PARTITION BY rev) + 1 AS BIGINT) AS ry
    FROM nation
),
m AS (
    SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
           SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_nations,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS spearman_rho
FROM m
"""


# ------------------------------------------------- Cohen's kappa


def agg_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ agreement between two INDEPENDENT classifiers over
    the same documents — here the marker-heuristic langid
    (``text_langid``'s predictor) vs the true label, per-and-beyond
    raw accuracy: κ corrects agreement for chance (two raters that
    both say 'en' 90% of the time agree 81% by luck alone), which is
    why model-eval and annotation QA report κ, not accuracy.

    Exact rational arithmetic: with N docs, observed agreement
    a = Σ diag counts and expected agreement e·N² = Σ_k row_k·col_k,
    κ = (N·a − Σrc)/(N² − Σrc) — emitted in exact integer micro-units
    as (1e6·(N·a − Σrc)) div (N² − Σrc), plus both marginals'
    accuracy.  One corpus pass to the confusion counts (the
    label×prediction domain bounds the table), then scalar algebra."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    pred = marker_langid(tokens_col("text")).pred
    # The checkpoint is load-bearing, not just a lineage cut: without
    # it InferFiltersFromConstraints turns the agree branch's ``y = p``
    # into ``lang = <classifier>`` and pushes it below fan_out's
    # exchange, so the plan splits each document 5 times over 3 scans
    conf = (
        d.select(F.col("lang").alias("y"), pred.alias("p"))
        .groupBy("y", "p")
        .agg(F.count(F.lit(1)).alias("c"))
    ).localCheckpoint(eager=False)
    n = conf.agg(F.sum("c")).collect()[0][0]
    agree = conf.filter(F.col("y") == F.col("p")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("a")
    )
    rows_m = conf.groupBy("y").agg(F.sum("c").alias("r"))
    cols_m = conf.groupBy("p").agg(F.sum("c").alias("k"))
    # marginal products are N^2-scale: multiply/sum in decimal
    # (oracle: HUGEINT) so the chance-agreement term can't wrap int64
    # at corpus scale.  The raw sum_rc DIAGNOSTIC column stays long,
    # clamped to int64-max on BOTH engines past N ~ 3e9 docs (ADVICE
    # r7: a bare cast silently NULLs in non-ANSI Spark but ERRORS in
    # DuckDB — LEAST makes the saturation mode match); the statistics
    # are decimal-exact.
    rc = (
        rows_m.join(cols_m, rows_m.y == cols_m.p)
        .agg(
            F.coalesce(
                F.sum(F.col("r").cast("decimal(19,0)") * F.col("k")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("src")
        )
    )
    return (
        agree.crossJoin(rc)
        .select(
            F.lit(int(n)).cast("long").alias("n"),
            F.col("a").cast("long").alias("n_agree"),
            F.least(
                F.col("src"),
                F.lit("9223372036854775807").cast("decimal(38,0)"),
            ).cast("long").alias("sum_rc"),
            F.expr(
                f"cast((1000000 * cast(a as decimal(19,0)))"
                f" div {int(n)} as bigint)"
            ).alias("accuracy_micro"),
            F.expr(
                f"cast((1000000 * ({int(n)} * cast(a as decimal(19,0))"
                f" - src))"
                f" div (cast({int(n)} as decimal(19,0)) * {int(n)} - src)"
                f" as bigint)"
            ).alias("kappa_micro"),
        )
    )


_KAPPA_SQL = f"""
WITH scored AS (
    SELECT lang AS y,
        CASE
            WHEN {{en}} >= GREATEST({{es}}, {{fr}}, {{de}}) AND {{en}} > 0 THEN 'en'
            WHEN {{es}} >= GREATEST({{fr}}, {{de}}) AND {{es}} > 0 THEN 'es'
            WHEN {{fr}} >= {{de}} AND {{fr}} > 0 THEN 'fr'
            WHEN {{de}} > 0 THEN 'de'
            ELSE 'unknown'
        END AS p
    FROM (SELECT lang, {sql_tokens("text")} AS toks FROM documents)
),
conf AS (SELECT y, p, COUNT(*) AS c FROM scored GROUP BY y, p),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM conf),
agree AS (
    SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS a FROM conf WHERE y = p
),
rc AS (
    SELECT CAST(COALESCE(SUM(CAST(r.r AS HUGEINT) * k.k), 0) AS HUGEINT)
        AS src
    FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS r FROM conf GROUP BY y) r
    JOIN (SELECT p, CAST(SUM(c) AS BIGINT) AS k FROM conf GROUP BY p) k
      ON r.y = k.p
)
SELECT n.n, agree.a AS n_agree,
    CAST(LEAST(rc.src, CAST(9223372036854775807 AS HUGEINT)) AS BIGINT)
        AS sum_rc,
    CAST((1000000 * CAST(agree.a AS HUGEINT)) // n.n AS BIGINT)
        AS accuracy_micro,
    CAST((1000000 * (n.n * CAST(agree.a AS HUGEINT) - rc.src))
        // (CAST(n.n AS HUGEINT) * n.n - rc.src) AS BIGINT)
        AS kappa_micro
FROM n CROSS JOIN agree CROSS JOIN rc
"""


def _kappa_sql() -> str:
    def sc(lang: str, markers: list[str]) -> str:
        m = ", ".join(f"'{x}'" for x in markers)
        return (
            f"CAST(len(list_filter(toks, t -> list_contains([{m}], t)))"
            f" AS BIGINT)"
        )

    markers = {
        "en": ["the", "a", "of", "and", "to"],
        "es": ["el", "la", "de", "que", "y"],
        "fr": ["le", "la", "les", "et", "une"],
        "de": ["der", "die", "das", "und", "ein"],
    }
    return _KAPPA_SQL.format(**{k: sc(k, v) for k, v in markers.items()})


# ------------------------------------------------- McNemar's test


def agg_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: is classifier A actually BETTER than
    classifier B, or do their accuracies differ by luck?  Accuracy
    deltas on the same data are correlated, so the unpaired tests are
    invalid — McNemar uses only the DISCORDANT pairs (A right/B wrong
    = b, A wrong/B right = c): χ² = (|b−c|−1)²/(b+c) with continuity
    correction.  Completes the classifier-comparison suite: κ
    measures agreement, this measures significance of the
    difference.  A = the marker langid, B = predicting the majority
    class ('en') — the baseline every classifier must beat.

    Exact integers end-to-end: b, c are counts, the χ² numerator is
    integer, and the statistic is one micro-division.  One corpus
    pass to four paired-outcome counts."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    pred = marker_langid(tokens_col("text")).pred
    paired = d.select(
        (pred == F.col("lang")).alias("a_ok"),
        (F.lit("en") == F.col("lang")).alias("b_ok"),
    )
    agg = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a_ok") & ~F.col("b_ok"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("a_ok") & F.col("b_ok"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("a_ok") & F.col("b_ok"), 1).otherwise(0))
        .cast("long")
        .alias("both_ok"),
    )
    return agg.select(
        "n",
        "b",
        "c",
        "both_ok",
        F.expr(
            "cast((1000000 * cast(abs(b - c) - 1 as decimal(19,0)) * (abs(b - c) - 1)) div (b + c) as bigint)"
        ).alias("chi2_micro"),
        (
            F.expr(
                "cast((1000000 * cast(abs(b - c) - 1 as decimal(19,0)) * (abs(b - c) - 1)) div (b + c) as bigint)"
            )
            > 3_841_000  # χ²(1df, 0.05) = 3.841
        ).alias("significant"),
    )


def _mcnemar_sql() -> str:
    def sc(markers: list[str]) -> str:
        m = ", ".join(f"'{x}'" for x in markers)
        return (
            f"CAST(len(list_filter(toks, t -> list_contains([{m}], t)))"
            f" AS BIGINT)"
        )

    mk = {
        "en": ["the", "a", "of", "and", "to"],
        "es": ["el", "la", "de", "que", "y"],
        "fr": ["le", "la", "les", "et", "une"],
        "de": ["der", "die", "das", "und", "ein"],
    }
    en, es, fr, de = (sc(mk[k]) for k in ("en", "es", "fr", "de"))
    return f"""
WITH scored AS (
    SELECT lang,
        CASE
            WHEN {en} >= GREATEST({es}, {fr}, {de}) AND {en} > 0 THEN 'en'
            WHEN {es} >= GREATEST({fr}, {de}) AND {es} > 0 THEN 'es'
            WHEN {fr} >= {de} AND {fr} > 0 THEN 'fr'
            WHEN {de} > 0 THEN 'de'
            ELSE 'unknown'
        END AS p
    FROM (SELECT lang, {sql_tokens("text")} AS toks FROM documents)
),
paired AS (
    SELECT p = lang AS a_ok, lang = 'en' AS b_ok FROM scored
),
agg AS (
    SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT)
            AS both_ok
    FROM paired
)
SELECT n, b, c, both_ok,
    CAST((1000000 * CAST(ABS(b - c) - 1 AS HUGEINT) * (ABS(b - c) - 1)) // (b + c) AS BIGINT) AS chi2_micro,
    CAST((1000000 * CAST(ABS(b - c) - 1 AS HUGEINT) * (ABS(b - c) - 1)) // (b + c) AS BIGINT) > 3841000
        AS significant
FROM agg
"""


# ------------------------------------------------- lift curve


def ml_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table — the marketing-facing view of
    the same score the ECE op calibrates and AUC discriminates: sort
    the population by model score, and per decile report what share
    of all positives the top-k% captures vs the random baseline
    (lift = capture ÷ share).  This is THE table that prices a
    targeting model ("top 20% of the list finds 45% of buyers").

    Deciles come from the ECE bucket boundaries (no global sort —
    bucket counts reduce first, cumulative sums run over the
    ≤10-row reduced table); capture and lift are exact integer
    micro-units."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    conf = F.least(
        F.lit(1_000_000),
        F.expr("(1000000 * n_chars) div 3000"),
    )
    label = F.array_contains(tokens_col("text"), "data")
    staged = d.select(
        conf.alias("conf_micro"),
        F.when(label, 1).otherwise(0).alias("y"),
    ).select(
        F.least(F.lit(9), F.expr("conf_micro div 100000")).alias("bucket"),
        "y",
    )
    g = staged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w = W.orderBy(F.desc("bucket")).rowsBetween(W.unboundedPreceding, 0)
    tot = g.agg(
        F.sum("n").alias("n_total"), F.sum("n_pos").alias("pos_total")
    )
    return (
        g.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n",
            "n_pos",
            F.col("cum_n").cast("long").alias("cum_n"),
            F.col("cum_pos").cast("long").alias("cum_pos"),
            F.expr("(1000000 * cum_pos) div pos_total").alias(
                "capture_micro"
            ),
            # cum_pos*n_total is N^2-scale: BIGINT wraps at N ~ 3e6
            # with the 1e6 factor — route through decimal/HUGEINT
            # (denominator likewise at N ~ 3e9).
            F.expr(
                "cast((1000000 * cast(cum_pos as decimal(19,0)) * n_total)"
                " div (cast(pos_total as decimal(19,0)) * cum_n) as bigint)"
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("bucket"))
    )


_LIFT_SQL = f"""
WITH staged AS (
    SELECT LEAST(9, LEAST(1000000, (1000000 * n_chars) // 3000) // 100000)
        AS bucket,
        CASE WHEN list_contains({sql_tokens("text")}, 'data')
             THEN 1 ELSE 0 END AS y
    FROM documents
),
g AS (
    SELECT bucket, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
    FROM staged GROUP BY bucket
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        CAST(SUM(n_pos) AS BIGINT) AS pos_total
    FROM g
),
cums AS (
    SELECT bucket, n, n_pos,
        CAST(SUM(n) OVER (ORDER BY bucket DESC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
        CAST(SUM(n_pos) OVER (ORDER BY bucket DESC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
    FROM g
)
SELECT c.bucket, c.n, c.n_pos, c.cum_n, c.cum_pos,
    (1000000 * c.cum_pos) // t.pos_total AS capture_micro,
    CAST((1000000 * CAST(c.cum_pos AS HUGEINT) * t.n_total)
        // (CAST(t.pos_total AS HUGEINT) * c.cum_n) AS BIGINT)
        AS lift_micro
FROM cums c CROSS JOIN tot t
ORDER BY c.bucket DESC
"""


# ------------------------------------------------- exact AUC-ROC


def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC-ROC of the length-score classifier (same score/label
    pair ``agg_expected_calibration_error`` audits for calibration —
    AUC audits DISCRIMINATION, the other half of classifier QA): AUC
    = P(score⁺ > score⁻) + ½P(tie) = (U statistic)/(n₁·n₀), computed
    from rank sums over the score-DISTINCT reduced table so ties are
    handled exactly and no corpus-size sort ever runs.

    Everything is integers ×2 (the ½-tie credit stays integral):
    2·U = 2·ΣR₁ − n₁(n₁+1), AUC2_micro = (1e6·2U) div (2n₁n₀).
    One reduction to (score, label-count) rows — bounded by the score
    domain — then a cumulative window over that reduced table and a
    scalar readout."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    conf = F.least(
        F.lit(1_000_000),
        F.expr("(1000000 * n_chars) div 3000"),
    )
    label = F.array_contains(tokens_col("text"), "data")
    staged = d.select(
        conf.alias("s"), F.when(label, 1).otherwise(0).alias("y")
    )
    grid = staged.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n1"),
    )
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    # average rank of the tied block at score s (doubled to stay int):
    # 2·r̄ = 2·(below) + n + 1
    ranked = grid.withColumn(
        "below", F.coalesce(F.sum("n").over(w), F.lit(0))
    ).select(
        "s",
        "n",
        "n1",
        # rank sums are N^2-scale: the per-cell product and its SUM
        # wrap int64 at N ~ 2e9 in Spark while DuckDB SUM(BIGINT)
        # auto-widens to HUGEINT — a silent cross-engine divergence.
        # Multiply and sum in decimal (mirrors the oracle's HUGEINT).
        (F.col("n1").cast("decimal(19,0)")
         * (2 * F.col("below") + F.col("n") + 1)).alias("two_r1"),
    )
    tot = ranked.agg(
        F.sum("n").alias("n_total"),
        F.sum("n1").alias("n_pos"),
        F.sum("two_r1").alias("two_sum_r1"),
    )
    return tot.select(
        F.col("n_total").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.col("n_total") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.expr(
            "cast((1000000 * (two_sum_r1"
            " - cast(n_pos as decimal(19,0)) * (n_pos + 1)))"
            " div (2 * cast(n_pos as decimal(19,0)) * (n_total - n_pos))"
            " as bigint)"
        ).alias("auc_micro"),
    )


_AUC_SQL = r"""
WITH staged AS (
    SELECT LEAST(1000000, (1000000 * n_chars) // 3000) AS s,
        CASE WHEN list_contains(string_split_regex(trim(text), '\s+'), 'data')
             THEN 1 ELSE 0 END AS y
    FROM documents
),
grid AS (
    SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n1
    FROM staged GROUP BY s
),
ranked AS (
    SELECT s, n, n1,
        CAST(n1 AS HUGEINT)
            * (2 * CAST(COALESCE(SUM(n) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              + n + 1) AS two_r1
    FROM grid
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        CAST(SUM(n1) AS BIGINT) AS n_pos,
        CAST(SUM(two_r1) AS HUGEINT) AS two_sum_r1
    FROM ranked
)
SELECT n_total AS n, n_pos, n_total - n_pos AS n_neg,
    CAST((1000000 * (two_sum_r1 - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
        // (2 * CAST(n_pos AS HUGEINT) * (n_total - n_pos)) AS BIGINT)
        AS auc_micro
FROM tot
"""


# ------------------------------------------------- Bradley-Terry

BT_ROUNDS = 3
BT_SCALE = 1_000_000_000_000  # 1e12 working scale for the MM terms


def ml_bradley_terry_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry pairwise-preference ranking — the model behind
    LLM arena leaderboards and match-making: from win/loss counts
    between players, estimate strengths p with P(i beats j) =
    p_i/(p_i+p_j).  Players are order priorities; a "match" is each
    customer's consecutive order pair (higher total wins, earlier
    order breaks ties) — at 100 TB the same op ranks models from
    human-preference battles.

    {BT_ROUNDS} rounds of Hunter's MM update p_i ← W_i / Σ_j
    n_ij/(p_i+p_j), with EVERY division floored to integers at a
    fixed working scale and a renormalization to Σp = |players|·1e6
    per round — so the sums that a float implementation would leave
    reduction-order-dependent are exact int64 and the whole iteration
    is bit-identical cross-engine (the quantized-EM discipline; the
    oracle unrolls the rounds as MATERIALIZED CTEs).

    Scale: matches reduce to the |players|² count matrix via one
    lead() window per customer + a partial-agg count; every MM round
    is arithmetic on that tiny matrix — corpus cost is ONE pass.  The
    rounds fold in ONE ``aggregate()`` higher-order-function expression
    over the collected matrix (domain-bounded: |players| is the
    priority domain, ≤ 5·5 entries — the global-collect whitelist
    rule), so the whole fixpoint is a single task with zero per-round
    exchanges.  (The r6–r9 implementation unrolled the rounds as ~300
    DataFrame Exchanges of ≤|players|² rows — a fixed ~2.7 s
    scheduling floor, VERDICT r9 #7; the fold computes the identical
    integer trajectory: sums over the matrix are exact int64, so
    array-order vs group-order addition is bit-identical.)"""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    m = (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_orderpriority").alias("pa"),
            F.col("o_totalprice").alias("va"),
        )
        .withColumn("pb", F.lead("pa").over(w))
        .withColumn("vb", F.lead("va").over(w))
        .filter(F.col("pb").isNotNull() & (F.col("pa") != F.col("pb")))
    )
    winner_is_a = (F.col("va") > F.col("vb")) | (
        (F.col("va") == F.col("vb"))
    )
    matches = m.select(
        F.when(winner_is_a, F.col("pa")).otherwise(F.col("pb")).alias("wi"),
        F.when(winner_is_a, F.col("pb")).otherwise(F.col("pa")).alias("lo"),
    )
    wins = matches.groupBy(F.col("wi").alias("i"), F.col("lo").alias("j")).agg(
        F.count(F.lit(1)).alias("w")
    )
    rev = wins.select(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("w").alias("w2")
    )
    n_ij = (
        wins.join(rev, ["i", "j"], "full")
        # USING-key full outer already coalesces i/j — select them as-is
        .select(
            "i",
            "j",
            (F.coalesce("w", F.lit(0)) + F.coalesce("w2", F.lit(0))).alias(
                "n"
            ),
            F.coalesce("w", F.lit(0)).alias("wins_ij"),
        )
    )
    # collect the domain-bounded matrix into ONE row and fold the MM
    # rounds in a single expression — no per-round exchanges
    mat_row = n_ij.agg(
        F.sort_array(F.collect_list(F.struct("i", "j", "n", "wins_ij"))).alias(
            "mat"
        )
    ).filter(F.size("mat") > 0)
    zero = "CAST(0 AS BIGINT)"
    pos = "CAST(array_position(ps, {v}) AS INT)"
    d_i = (
        f"aggregate(filter(mat, e -> e.i = x), {zero}, (a, e) -> a + "
        f"({BT_SCALE} * e.n) div (element_at(p, {pos.format(v='e.i')}) "
        f"+ element_at(p, {pos.format(v='e.j')})))"
    )
    folded = (
        mat_row.withColumn(
            "ps", F.expr("array_sort(array_distinct(transform(mat, e -> e.i)))")
        )
        .withColumn(
            "ws",
            F.expr(
                f"transform(ps, x -> aggregate(filter(mat, e -> e.i = x), "
                f"{zero}, (a, e) -> a + e.wins_ij))"
            ),
        )
        .withColumn(
            "nm",
            F.expr(
                f"transform(ps, x -> aggregate(filter(mat, e -> e.i = x), "
                f"{zero}, (a, e) -> a + e.n))"
            ),
        )
        .withColumn(
            "pfin",
            # transform(array(praw), pr -> ...)[0] binds the per-round
            # praw vector once so tot and the renorm both read it
            F.expr(
                f"""
                aggregate(
                    sequence(1, {BT_ROUNDS}),
                    transform(ps, x -> CAST(1000000 AS BIGINT)),
                    (p, r) -> transform(array(
                        transform(ps, x ->
                            ({BT_SCALE} * element_at(ws, {pos.format(v='x')}))
                            div ({d_i}))
                    ), pr -> transform(pr, v ->
                        (size(ps) * 1000000 * v)
                        div aggregate(pr, {zero}, (a, x2) -> a + x2)))[0]
                )
                """
            ),
        )
    )
    return (
        folded.select(F.explode(F.expr("arrays_zip(ps, ws, nm, pfin)")).alias("r"))
        .select(
            F.col("r.ps").alias("player"),
            F.col("r.ws").cast("long").alias("wins"),
            F.col("r.nm").cast("long").alias("n_matches"),
            F.col("r.pfin").alias("strength_micro"),
        )
        .orderBy("player")
    )


def _bt_sql() -> str:
    rounds = []
    for k in range(1, BT_ROUNDS + 1):
        rounds.append(f"""
t{k} AS (
    SELECT n.i, ({BT_SCALE} * n.n) // (pi.p + pj.p) AS t
    FROM n_ij n
    JOIN p{k - 1} pi ON pi.i = n.i
    JOIN p{k - 1} pj ON pj.i = n.j
),
d{k} AS (
    SELECT i, CAST(SUM(t) AS BIGINT) AS d FROM t{k} GROUP BY i
),
praw{k} AS (
    SELECT w.i, ({BT_SCALE} * w.big_w) // d.d AS praw
    FROM w_i w JOIN d{k} d ON w.i = d.i
),
p{k} AS MATERIALIZED (
    SELECT i, (np.np * 1000000 * praw)
        // (SELECT CAST(SUM(praw) AS BIGINT) FROM praw{k}) AS p
    FROM praw{k} CROSS JOIN np
)""")
    return f"""
WITH m AS (
    SELECT o_orderpriority AS pa, o_totalprice AS va,
        LEAD(o_orderpriority) OVER w AS pb,
        LEAD(o_totalprice) OVER w AS vb
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
matches AS (
    SELECT CASE WHEN va >= vb THEN pa ELSE pb END AS wi,
        CASE WHEN va >= vb THEN pb ELSE pa END AS lo
    FROM m WHERE pb IS NOT NULL AND pa <> pb
),
wins AS (
    SELECT wi AS i, lo AS j, COUNT(*) AS w FROM matches GROUP BY wi, lo
),
n_ij AS MATERIALIZED (
    SELECT COALESCE(a.i, b.j) AS i, COALESCE(a.j, b.i) AS j,
        COALESCE(a.w, 0) + COALESCE(b.w, 0) AS n,
        COALESCE(a.w, 0) AS wins_ij
    FROM wins a
    FULL JOIN wins b ON a.i = b.j AND a.j = b.i
),
w_i AS MATERIALIZED (
    SELECT i, CAST(SUM(wins_ij) AS BIGINT) AS big_w FROM n_ij GROUP BY i
),
np AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS np FROM n_ij),
p0 AS MATERIALIZED (
    SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS p FROM n_ij
),{",".join(rounds)}
SELECT p.i AS player,
    w.big_w AS wins,
    (SELECT CAST(SUM(n) AS BIGINT) FROM n_ij x WHERE x.i = p.i) AS n_matches,
    p.p AS strength_micro
FROM p{BT_ROUNDS} p JOIN w_i w ON p.i = w.i
ORDER BY player
"""


# ------------------------------------------------- Mann-Kendall trend


def agg_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per order priority — the nonparametric
    "is this series trending?" answer (no normality, no linearity
    assumption) that monitoring standardizes on; complements
    ``window_runs_test`` (randomness) and ``agg_regression_per_group``
    (parametric slope).  S = Σ_{i<j} sign(x_j − x_i) over the monthly
    order-count series; the variance uses the exact tie-corrected
    formula.  Everything except the final z is exact integers: S from
    the pair sum, 18·Var as an integer (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)),
    and z = (S ∓ 1)/sqrt(var) as one fixed-shape double expression
    rounded to 6 dp.

    Scale: the corpus reduces to ≤|months| rows per group BEFORE the
    pair stage, so the self-join is domain-bounded (84² pairs), the
    reduce-first discipline every pairwise statistic here follows."""
    o = load(spark, sf_dir, "orders")
    series = (
        o.groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    b = series.select(
        F.col("grp").alias("grp2"), F.col("m").alias("m2"), F.col("c").alias("c2")
    )
    s_stat = (
        series.join(
            b, (F.col("grp") == F.col("grp2")) & (F.col("m") < F.col("m2"))
        )
        .groupBy("grp")
        .agg(
            F.sum(F.signum(F.col("c2") - F.col("c")).cast("long")).alias("s")
        )
    )
    base = series.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        series.groupBy("grp", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("grp")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_corr")
        )
    )
    joined = s_stat.join(base, "grp").join(ties, "grp").select(
        "grp",
        "n",
        "s",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_corr")
        ).alias("var18"),
    )
    z = F.round(
        (
            F.col("s").cast("double")
            - F.signum(F.col("s").cast("double"))
        )
        / F.sqrt(F.col("var18").cast("double") / F.lit(18.0)),
        6,
    )
    return joined.select(
        "grp", "n", "s", "var18", z.alias("z"),
        (F.abs(z) > 1.96).alias("trending"),
    ).orderBy("grp")


_MK_SQL = """
WITH series AS (
    SELECT o_orderpriority AS grp, strftime(o_orderdate, '%Y-%m') AS m,
        COUNT(*) AS c
    FROM orders GROUP BY 1, 2
),
s_stat AS (
    SELECT a.grp,
        CAST(SUM(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
                 ELSE 0 END) AS BIGINT) AS s
    FROM series a JOIN series b ON a.grp = b.grp AND a.m < b.m
    GROUP BY a.grp
),
base AS (
    SELECT grp, COUNT(*) AS n FROM series GROUP BY grp
),
ties AS (
    SELECT grp, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
    FROM (SELECT grp, c, COUNT(*) AS t FROM series GROUP BY grp, c)
    GROUP BY grp
),
joined AS (
    SELECT s.grp, b.n, s.s,
        b.n * (b.n - 1) * (2 * b.n + 5) - t.tie_corr AS var18
    FROM s_stat s JOIN base b ON s.grp = b.grp JOIN ties t ON s.grp = t.grp
)
SELECT grp, n, s, var18,
    ROUND((CAST(s AS DOUBLE) - SIGN(CAST(s AS DOUBLE)))
          / SQRT(CAST(var18 AS DOUBLE) / 18.0), 6) AS z,
    ABS(ROUND((CAST(s AS DOUBLE) - SIGN(CAST(s AS DOUBLE)))
          / SQRT(CAST(var18 AS DOUBLE) / 18.0), 6)) > 1.96 AS trending
FROM joined
ORDER BY grp
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


# ------------------------------------------------- SAX symbolization

SAX_SLOTS = 24  # hour-of-day profile length
SAX_SEG = 4  # hours per PAA segment → 6 symbols
SAX_BP = 0.6745  # N(0,1) quartile breakpoints for a 4-symbol alphabet


def rollup_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin/Keogh) of each
    user's hour-of-day activity profile: PAA-average the 24-slot
    series into {SAX_SLOTS // SAX_SEG} segments, z-normalize against
    the user's own profile, and map each segment to a 4-letter
    alphabet at the published N(0,1) quartile breakpoints (±{SAX_BP},
    0).  The resulting 6-character word is the classic
    similarity-searchable time-series signature (two users with the
    same word have provably close profiles under the SAX lower bound)
    — the symbolic layer motif mining and anomaly grouping build on.

    Variant note: PAA-then-normalize (segment means normalized by the
    profile's own μ/σ) — algebraically equal to classic
    normalize-then-PAA up to the σ scale, chosen because every input
    to the one double expression (μ_s − μ in exact milli-ints,
    σ via one sqrt of an exact int64 variance numerator) is integer,
    so both engines evaluate the identical IEEE comparison against
    bp·σ.  Zero-variance profiles emit the middle symbol.

    Scale: two partial-aggregated reductions (user×hour, then user —
    the segment sums are FILTER-style conditional aggregates, no
    window, no pivot), map-only symbol assembly; one row per user."""
    ev = load(spark, sf_dir, "events")
    hour = F.expr("unix_micros(cast(ts as timestamp)) div 3600000000 % 24")
    slots = (
        ev.select(
            "user_id",
            hour.alias("h"),
            F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
        )
        .groupBy("user_id", "h")
        .agg(F.sum("v_milli").alias("s"))
    )
    n_segs = SAX_SLOTS // SAX_SEG
    seg_aggs = [
        F.sum(
            F.when(F.col("h").between(i * SAX_SEG, (i + 1) * SAX_SEG - 1), F.col("s")).otherwise(0)
        ).alias(f"seg{i}")
        for i in range(n_segs)
    ]
    per_user = slots.groupBy("user_id").agg(
        F.sum("s").alias("sx"),
        F.sum(F.col("s") * F.col("s")).alias("sxx"),
        *seg_aggs,
    )
    varnum = F.lit(SAX_SLOTS) * F.col("sxx") - F.col("sx") * F.col("sx")
    staged = per_user.withColumn("varnum", varnum).withColumn(
        "mu", F.expr(f"sx div {SAX_SLOTS}")
    )
    thr = F.lit(SAX_BP) * F.sqrt(F.col("varnum").cast("double"))

    def sym(i: int):
        diff = (
            (F.expr(f"seg{i} div {SAX_SEG}") - F.col("mu")).cast("double")
            * F.lit(float(SAX_SLOTS))
        )
        return (
            F.when(F.col("varnum") == 0, "b")
            .when(diff < -thr, "a")
            .when(diff < 0, "b")
            .when(diff < thr, "c")
            .otherwise("d")
        )

    return staged.select(
        "user_id",
        F.col("sx").alias("total_milli"),
        F.concat(*[sym(i) for i in range(n_segs)]).alias("sax"),
    ).orderBy("user_id")


def _sax_sql() -> str:
    n_segs = SAX_SLOTS // SAX_SEG
    segs = ",\n        ".join(
        f"CAST(SUM(CASE WHEN h BETWEEN {i * SAX_SEG} AND {(i + 1) * SAX_SEG - 1}"
        f" THEN s ELSE 0 END) AS BIGINT) AS seg{i}"
        for i in range(n_segs)
    )
    syms = []
    for i in range(n_segs):
        diff = f"CAST(seg{i} // {SAX_SEG} - mu AS DOUBLE) * {float(SAX_SLOTS)}"
        syms.append(
            f"CASE WHEN varnum = 0 THEN 'b' "
            f"WHEN {diff} < -thr THEN 'a' "
            f"WHEN {diff} < 0 THEN 'b' "
            f"WHEN {diff} < thr THEN 'c' ELSE 'd' END"
        )
    return f"""
WITH slots AS (
    SELECT user_id,
        epoch_us(ts) // 3600000000 % 24 AS h,
        CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS s
    FROM events GROUP BY user_id, epoch_us(ts) // 3600000000 % 24
),
per_user AS (
    SELECT user_id,
        CAST(SUM(s) AS BIGINT) AS sx,
        CAST(SUM(s * s) AS BIGINT) AS sxx,
        {segs}
    FROM slots GROUP BY user_id
),
staged AS (
    SELECT *, {SAX_SLOTS} * sxx - sx * sx AS varnum,
        sx // {SAX_SLOTS} AS mu,
        {SAX_BP} * SQRT(CAST({SAX_SLOTS} * sxx - sx * sx AS DOUBLE)) AS thr
    FROM per_user
)
SELECT user_id, sx AS total_milli,
    {" || ".join(syms)} AS sax
FROM staged
ORDER BY user_id
"""


# ------------------------------------------------- Shapley attribution

SHAP_CHANNELS = ("click", "error", "signup", "view")  # bit i = channel i
# w(|S|) = |S|!·(k−|S|−1)!  for k=4; φ denominators carry k! = 24
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}


def _shap_pairs() -> list[tuple[str, int, int, int]]:
    """(channel, S_mask, S∪{c}_mask, w) for every channel and every
    coalition S not containing it — the 32-row literal Shapley map."""
    out = []
    for ci, ch in enumerate(SHAP_CHANNELS):
        bit = 1 << ci
        for s in range(1 << len(SHAP_CHANNELS)):
            if s & bit:
                continue
            out.append((ch, s, s | bit, _SHAP_W[bin(s).count("1")]))
    return out


def agg_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution — the game-theoretic
    credit split (Google Ads' data-driven attribution) that first/
    last-touch heuristics (``agg_touch_attribution``) approximate:
    with k={len(SHAP_CHANNELS)} channels there are only 2^k observable
    coalition types, so the characteristic function v(S) = conversion
    rate of users whose touched-channel set is exactly S reduces the
    CORPUS to a 16-row table, and φ_c = Σ_S |S|!(k−|S|−1)!/k! ·
    (v(S∪c) − v(S)) is an exact 32-term integer sum over it.
    Unobserved coalitions take v = 0 (the standard practical
    fallback, stated here because it IS a modeling choice).

    Everything is integer micro-units: v in micro via BIGINT division,
    weights the exact factorial products, φ emitted both ×k! (pure
    integer) and divided down.  Scale: one user-grain bitmask
    reduction (bit_or partial-agg), one 16-row aggregate, then joins
    against the 32-row literal map — corpus cost is ONE pass."""
    ev = load(spark, sf_dir, "events")
    bit = F.lit(0)
    for i, ch in enumerate(SHAP_CHANNELS):
        bit = bit + F.when(F.col("event_type") == ch, 1 << i).otherwise(0)
    users = (
        ev.select(
            "user_id",
            bit.alias("b"),
            (F.col("event_type") == "purchase").cast("int").alias("p"),
        )
        .groupBy("user_id")
        .agg(
            F.bit_or("b").alias("mask"),
            F.max("p").alias("converted"),
        )
    )
    subsets = users.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    ).withColumn("v_micro", F.expr("(1000000 * n_conv) div n_users"))
    pairs = spark.createDataFrame(
        _shap_pairs(), "channel string, s_mask int, u_mask int, w int"
    )
    vs = subsets.select(
        F.col("mask").alias("s_mask"), F.col("v_micro").alias("v_s")
    )
    vu = subsets.select(
        F.col("mask").alias("u_mask"), F.col("v_micro").alias("v_u")
    )
    terms = (
        pairs.join(F.broadcast(vs), "s_mask", "left")
        .join(F.broadcast(vu), "u_mask", "left")
        .select(
            "channel",
            (
                F.col("w")
                * (
                    F.coalesce(F.col("v_u"), F.lit(0))
                    - F.coalesce(F.col("v_s"), F.lit(0))
                )
            ).alias("t"),
        )
    )
    # NB: only the x24-scaled value is emitted — keeping phi integral
    # avoids signed division entirely.  (Measured semantics, for the
    # record: Spark `div` AND DuckDB `//` both truncate toward zero on
    # integers — they agree; it is PYTHON's // that floors, which bit
    # ml_kmeans_lloyd's driver-side centroid mirror.)
    return (
        terms.groupBy("channel")
        .agg(F.sum("t").cast("long").alias("phi_scaled_micro"))
        .orderBy("channel")
    )


def _shap_sql() -> str:
    vals = ", ".join(
        f"('{c}', {s}, {u}, {w})" for c, s, u, w in _shap_pairs()
    )
    bits = " + ".join(
        f"CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END"
        for i, ch in enumerate(SHAP_CHANNELS)
    )
    return f"""
WITH users AS (
    SELECT user_id, bit_or({bits}) AS mask,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY user_id
),
subsets AS (
    SELECT mask, COUNT(*) AS n_users,
        CAST(SUM(converted) AS BIGINT) AS n_conv
    FROM users GROUP BY mask
),
v AS (
    SELECT mask, (1000000 * n_conv) // n_users AS v_micro FROM subsets
),
pairs(channel, s_mask, u_mask, w) AS (VALUES {vals}),
terms AS (
    SELECT p.channel,
        p.w * (COALESCE(vu.v_micro, 0) - COALESCE(vs.v_micro, 0)) AS t
    FROM pairs p
    LEFT JOIN v vs ON vs.mask = p.s_mask
    LEFT JOIN v vu ON vu.mask = p.u_mask
)
SELECT channel,
    CAST(SUM(t) AS BIGINT) AS phi_scaled_micro
FROM terms
GROUP BY channel
ORDER BY channel
"""


# ------------------------------------------------- delta-method ratio CI


def agg_ratio_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (revenue
    per unit = Σ extendedprice / Σ quantity per return flag) — ratio
    metrics are the norm in experiments (revenue/user, CTR) and their
    variance is NOT the numerator's: Var(X̄/Ȳ) ≈ (σx² − 2rσxy +
    r²σy²)/(nȲ²), the first-order Taylor expansion every A/B platform
    implements.  Complements ``agg_conversion_wilson_ci`` (binomial
    proportions) and ``agg_welch_ttest`` (mean differences).

    The five moment sums (Σx, Σy, Σx², Σy², Σxy) accumulate as exact
    integers on cent-quantized values (decimal(38,0) absorbs any
    corpus size), so reduction order cannot move them; the CI itself
    is one fixed-shape double expression (divides, one sqrt, ±1.96)
    rounded to 6 dp — the identical op sequence in both engines.
    One scan, partial-aggregated, |flags| rows out."""
    li = load(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_extendedprice") * 100).cast("long")  # cents
    y = F.col("l_quantity").cast("long")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = (
        li.select(F.col("l_returnflag").alias("flag"), x.alias("x"), y.alias("y"))
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d38(F.col("x"))).alias("sx"),
            F.sum(d38(F.col("y"))).alias("sy"),
            F.sum(d38(F.col("x") * F.col("x"))).alias("sxx"),
            F.sum(d38(F.col("y") * F.col("y"))).alias("syy"),
            F.sum(d38(F.col("x") * F.col("y"))).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    cxy = F.col("sxy").cast("double") / nd - mx * my
    r = F.col("sx").cast("double") / F.col("sy").cast("double")
    var_r = (vx - F.lit(2.0) * r * cxy + r * r * vy) / (nd * my * my)
    se = F.sqrt(var_r)
    return m.select(
        "flag",
        "n",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(r + F.lit(1.96) * se, 6).alias("ci_hi"),
    ).orderBy("flag")


_RATIO_CI_SQL = """
WITH m AS (
    SELECT l_returnflag AS flag, COUNT(*) AS n,
        SUM(CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sx,
        SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sy,
        SUM(CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                 * CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                 AS DECIMAL(38,0))) AS syy,
        SUM(CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sxy
    FROM lineitem GROUP BY l_returnflag
)
SELECT flag, n,
    ROUND(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE), 6) AS ratio,
    ROUND(SQRT((
        (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
    ) / (CAST(n AS DOUBLE)
         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS se,
    ROUND(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)
          - 1.96 * SQRT((
        (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
    ) / (CAST(n AS DOUBLE)
         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS ci_lo,
    ROUND(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)
          + 1.96 * SQRT((
        (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
          * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
    ) / (CAST(n AS DOUBLE)
         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS ci_hi
FROM m
ORDER BY flag
"""


# ------------------------------------------------- naive Bayes lang ID


def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier trained ON the
    corpus and evaluated in the same query — the learned counterpart
    to ``text_langid``'s hand-written marker heuristic (and the
    supervised sibling of its confusion-matrix audit): per-class
    token likelihoods with add-1 smoothing, per-doc surprisal
    scoring, argmin class, labeled-vs-predicted confusion matrix out.

    Engine-exactness: every log2 is the integer bit-length surrogate
    (``bitlen(T_l + V) − bitlen(c(w,l)+1)`` — the text_rarity_score /
    bigram_surprisal discipline: no transcendentals, no floats), so
    training counts, scores and the argmin are all int64 and
    bit-identical cross-engine.  Ties break by language order.

    Scale: training is ONE (word, lang) count reduction (vocab-
    bounded); scoring joins each doc's reduced (doc, word, tf) table
    against the broadcast-sized model; the per-doc argmin is a window
    over {4} candidate rows per doc.  No iteration — NB's closed-form
    training is why it remains the 100 TB baseline classifier."""
    from pyspark.sql import Window as W

    d = fan_out(load(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.explode(tokens_col("text")).alias("w"),
    )
    # r13 (guide §2.4): tf is checkpointed and the MODEL now reduces
    # FROM it (c(w,l) = Σ_docs tf — the same integer counts the direct
    # toks groupBy produced), and the vocab-bounded model is
    # checkpointed for its three consumers (totals, vocab, cand join).
    # Before, toks fed tf and model and model re-derived per consumer:
    # FOUR corpus tokenize+explode passes in one plan; now ONE.
    tf = (
        toks.groupBy("doc_id", "lang_true", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    model = (
        tf.groupBy("w", F.col("lang_true").alias("l"))
        .agg(F.sum("tf").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = model.groupBy("l").agg(F.sum("c").alias("t_l"))
    vocab = model.select("w").distinct().agg(F.count(F.lit(1)).alias("v"))
    langs = totals.select("l")
    bitlen = lambda c: F.length(F.bin(c))  # noqa: E731
    cand = (
        tf.crossJoin(F.broadcast(langs))
        .join(F.broadcast(model), ["w", "l"], "left")
        .join(F.broadcast(totals), "l")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang_true",
            "l",
            (
                F.col("tf")
                * (
                    bitlen(F.col("t_l") + F.col("v"))
                    - bitlen(F.coalesce(F.col("c"), F.lit(0)) + 1)
                )
            ).alias("bits"),
        )
    )
    scores = cand.groupBy("doc_id", "lang_true", "l").agg(
        F.sum("bits").cast("long").alias("score_bits")
    )
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.asc("score_bits"), F.asc("l"))
    )
    pred = (
        scores.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang_true", F.col("l").alias("lang_pred"))
    )
    return (
        pred.groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


_NB_LANGID_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang AS lang_true, UNNEST({sql_tokens("text")}) AS w
    FROM documents
),
tf AS (
    SELECT doc_id, lang_true, w, COUNT(*) AS tf
    FROM toks GROUP BY doc_id, lang_true, w
),
model AS (
    SELECT w, lang_true AS l, COUNT(*) AS c FROM toks GROUP BY w, lang_true
),
totals AS (
    SELECT l, CAST(SUM(c) AS BIGINT) AS t_l FROM model GROUP BY l
),
vocab AS (
    SELECT COUNT(DISTINCT w) AS v FROM model
),
cand AS (
    SELECT tf.doc_id, tf.lang_true, t.l,
        tf.tf * (length(bin(t.t_l + vocab.v))
                 - length(bin(COALESCE(m.c, 0) + 1))) AS bits
    FROM tf
    CROSS JOIN totals t
    LEFT JOIN model m ON m.w = tf.w AND m.l = t.l
    CROSS JOIN vocab
),
scores AS (
    SELECT doc_id, lang_true, l, CAST(SUM(bits) AS BIGINT) AS score_bits
    FROM cand GROUP BY doc_id, lang_true, l
),
pred AS (
    SELECT doc_id, lang_true, l AS lang_pred
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score_bits ASC, l ASC) AS rn
        FROM scores
    ) WHERE rn = 1
)
SELECT lang_true, lang_pred, COUNT(*) AS n_docs
FROM pred
GROUP BY lang_true, lang_pred
ORDER BY lang_true, lang_pred
"""


# ------------------------------------------------- calibration (ECE)

ECE_BUCKETS = 10
ECE_SCALE_CHARS = 3000  # score saturates at this doc length


def agg_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + per-bucket calibration gaps — the
    Expected-Calibration-Error decomposition every score-based
    curation filter needs audited before its threshold is trusted:
    bucket predictions by confidence decile, compare mean confidence
    to empirical accuracy per bucket; ECE is the n-weighted mean
    |gap| (emitted per bucket; the scalar is the trivial rollup).
    The audited "model" is a deterministic stand-in (confidence =
    saturating length score, label = doc mentions 'data'): at 100 TB
    the score column comes from a real classifier — the audit plan is
    identical and model-free.

    All exact integers: confidence in micro-units via BIGINT division,
    bucket = conf div 100000 (capped to the top bucket), per-bucket
    sums/counts, accuracy micro by integer division.  One map-only
    pass + a {ECE_BUCKETS}-row aggregate."""
    d = load(spark, sf_dir, "documents")
    conf = F.least(
        F.lit(1_000_000),
        F.expr(f"(1000000 * n_chars) div {ECE_SCALE_CHARS}"),
    )
    label = F.array_contains(tokens_col("text"), "data")
    staged = d.select(
        conf.alias("conf_micro"),
        F.when(label, 1).otherwise(0).alias("y"),
    ).select(
        F.least(
            F.lit(ECE_BUCKETS - 1), F.expr("conf_micro div 100000")
        ).alias("bucket"),
        "conf_micro",
        "y",
    )
    return (
        staged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("conf_micro").alias("sum_conf"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .select(
            "bucket",
            "n",
            F.expr("sum_conf div n").alias("mean_conf_micro"),
            F.expr("(1000000 * n_pos) div n").alias("acc_micro"),
            F.abs(
                F.expr("sum_conf div n") - F.expr("(1000000 * n_pos) div n")
            ).alias("gap_micro"),
        )
        .orderBy("bucket")
    )


_ECE_SQL = f"""
WITH staged AS (
    SELECT LEAST({ECE_BUCKETS - 1},
                 LEAST(1000000, (1000000 * n_chars) // {ECE_SCALE_CHARS})
                 // 100000) AS bucket,
        LEAST(1000000, (1000000 * n_chars) // {ECE_SCALE_CHARS}) AS conf_micro,
        CASE WHEN list_contains({sql_tokens("text")}, 'data')
             THEN 1 ELSE 0 END AS y
    FROM documents
)
SELECT bucket, COUNT(*) AS n,
    CAST(SUM(conf_micro) AS BIGINT) // COUNT(*) AS mean_conf_micro,
    (1000000 * CAST(SUM(y) AS BIGINT)) // COUNT(*) AS acc_micro,
    ABS(CAST(SUM(conf_micro) AS BIGINT) // COUNT(*)
        - (1000000 * CAST(SUM(y) AS BIGINT)) // COUNT(*)) AS gap_micro
FROM staged
GROUP BY bucket
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# agg_expected_shortfall — tail mean beyond VaR (CVaR)
# ---------------------------------------------------------------------------

ES_PCT = 95  # VaR/ES level


def agg_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Expected Shortfall (CVaR) of daily order-
    value DROPS at the {ES_PCT}% level — the coherent tail measure
    that replaced VaR in Basel III precisely because VaR ignores HOW
    BAD the tail is once crossed; ``window_peak_over_threshold`` fits
    the tail's shape, ES prices its mean. Losses = negative
    day-over-day deltas.

    EXACT tail mean with boundary splitting: the worst ⌈5%·n⌉ losses
    define the tail; the loss value straddling the cutoff contributes
    only its partial count (the Lorenz interval-overlap recipe), so
    ES is an integer ratio — no sort of the raw series, just
    cumulative counts over the loss-distinct grid.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    losses = daily.select(
        (F.lag("x").over(seq) - F.col("x")).alias("loss")
    ).where(F.col("loss").isNotNull())
    grid = losses.groupBy("loss").agg(F.count(F.lit(1)).alias("cnt"))
    cum = Window.orderBy(F.desc("loss")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = grid.select(
        "loss",
        "cnt",
        F.sum("cnt").over(cum).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    # tail size k = ceil((100-ES_PCT)% of n); the straddling grid row
    # contributes only the overlap
    k = F.expr(f"(n * {100 - ES_PCT} + 99) div 100")
    take = F.greatest(
        F.lit(0),
        F.least(F.col("cnt"), k - (F.col("cum") - F.col("cnt"))),
    )
    m = stepped.select(
        "loss",
        "n",
        k.alias("k"),
        take.alias("take"),
    ).agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.min(F.when(F.col("take") > 0, F.col("loss"))).alias("var_loss"),
        F.sum(F.col("take").cast("decimal(38,0)") * F.col("loss")).alias(
            "tail_sum"
        ),
    )
    return m.select(
        F.col("n").cast("long").alias("n_deltas"),
        F.col("k").cast("long").alias("n_tail"),
        F.col("var_loss").cast("long").alias("var_loss"),
        F.expr("CAST(tail_sum div k AS BIGINT)").alias(
            "expected_shortfall"
        ),
    )


_ES_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
losses AS (
    SELECT LAG(x) OVER (ORDER BY day) - x AS loss FROM daily
),
grid AS (
    SELECT loss, COUNT(*) AS cnt FROM losses WHERE loss IS NOT NULL
    GROUP BY loss
),
stepped AS (
    SELECT loss, cnt,
        SUM(cnt) OVER (ORDER BY loss DESC ROWS UNBOUNDED PRECEDING) AS cum,
        SUM(cnt) OVER () AS n
    FROM grid
),
taken AS (
    SELECT loss, n,
        (n * {100 - ES_PCT} + 99) // 100 AS k,
        GREATEST(0, LEAST(cnt,
            (n * {100 - ES_PCT} + 99) // 100 - (cum - cnt))) AS take
    FROM stepped
),
m AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(k) AS BIGINT) AS k,
        CAST(MIN(CASE WHEN take > 0 THEN loss END) AS BIGINT) AS var_loss,
        SUM(CAST(take AS HUGEINT) * loss) AS tail_sum
    FROM taken
)
SELECT n AS n_deltas, k AS n_tail, var_loss,
    CAST(tail_sum // k AS BIGINT) AS expected_shortfall
FROM m
"""


# ---------------------------------------------------------------------------
# sample_sprt_monitor — Wald sequential probability ratio test
# ---------------------------------------------------------------------------

SPRT_P0_PCT = 12  # H0: purchase share of events = 12%
SPRT_P1_PCT = 14  # H1: = 14%
SPRT_ALPHA = 0.05
SPRT_BETA = 0.20


def _sprt_consts() -> dict:
    """Literal log-likelihood increments and Wald boundaries, in
    micro-nats — computed ONCE in Python, embedded identically in
    both engines (the BH/Gumbel no-query-time-transcendental
    recipe)."""
    import math

    p0, p1 = SPRT_P0_PCT / 100.0, SPRT_P1_PCT / 100.0
    return {
        "w_hit": round(1e6 * math.log(p1 / p0)),
        "w_miss": round(1e6 * math.log((1 - p1) / (1 - p0))),
        "upper": round(1e6 * math.log((1 - SPRT_BETA) / SPRT_ALPHA)),
        "lower": round(1e6 * math.log(SPRT_BETA / (1 - SPRT_ALPHA))),
    }


def sample_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT over the daily purchase share of events — the
    sequential monitor that stops an experiment THE DAY the evidence
    suffices instead of waiting for a fixed horizon (the math under
    every "early stopping" feature an experimentation platform
    sells, and the reason peeking at fixed-horizon tests inflates
    false positives — SPRT's boundaries price the peeking in).

    Fully exact: per-day hit/miss counts are integers, the log-
    likelihood increments and the Wald A/B boundaries are micro-nat
    LITERALS (python-computed — no query-time transcendentals), so
    the cumulative LLR path is an exact integer cumulative sum over
    the day-grain series; the decision day is its first boundary
    crossing.
    """
    k = _sprt_consts()
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            (F.col("event_type") == "purchase").alias("hit"),
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("hits"),
            F.sum(F.when(F.col("hit"), 0).otherwise(1))
            .cast("long")
            .alias("misses"),
        )
    )
    seq = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    path = daily.select(
        "day",
        F.sum(
            F.col("hits") * F.lit(k["w_hit"])
            + F.col("misses") * F.lit(k["w_miss"])
        )
        .over(seq)
        .alias("llr_micro"),
    )
    crossed = path.select(
        "day",
        "llr_micro",
        F.when(F.col("llr_micro") >= k["upper"], "accept_H1")
        .when(F.col("llr_micro") <= k["lower"], "accept_H0")
        .alias("verdict"),
    )
    first = (
        crossed.where(F.col("verdict").isNotNull())
        .orderBy("day")
        .limit(1)
        .select(
            F.col("day").alias("decision_day"),
            F.col("llr_micro").alias("llr_at_decision_micro"),
            "verdict",
        )
    )
    totals = crossed.agg(F.count(F.lit(1)).alias("n_days"))
    return totals.crossJoin(first).select(
        "n_days",
        "decision_day",
        "verdict",
        "llr_at_decision_micro",
        F.lit(k["upper"]).cast("long").alias("upper_micro"),
        F.lit(k["lower"]).cast("long").alias("lower_micro"),
    )


def _sprt_sql() -> str:
    k = _sprt_consts()
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS hits,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
             AS BIGINT) AS misses
    FROM events GROUP BY 1
),
path AS (
    SELECT day,
        SUM(hits * {k["w_hit"]} + misses * ({k["w_miss"]}))
            OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS llr_micro
    FROM daily
),
crossed AS (
    SELECT day, llr_micro,
        CASE WHEN llr_micro >= {k["upper"]} THEN 'accept_H1'
             WHEN llr_micro <= {k["lower"]} THEN 'accept_H0'
        END AS verdict
    FROM path
),
first AS (
    SELECT day AS decision_day,
           CAST(llr_micro AS BIGINT) AS llr_at_decision_micro, verdict
    FROM crossed WHERE verdict IS NOT NULL
    ORDER BY day LIMIT 1
),
totals AS (
    SELECT COUNT(*) AS n_days FROM crossed
)
SELECT CAST(t.n_days AS BIGINT) AS n_days, f.decision_day, f.verdict,
    f.llr_at_decision_micro,
    CAST({k["upper"]} AS BIGINT) AS upper_micro,
    CAST({k["lower"]} AS BIGINT) AS lower_micro
FROM totals t CROSS JOIN first f
"""


# ---------------------------------------------------------------------------
# window_sortino_ratio — downside-only risk adjustment
# ---------------------------------------------------------------------------


def window_sortino_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortino ratio of day-over-day revenue changes — the downside
    counterpart of ``window_realized_volatility``'s symmetric σ:
    penalize only BELOW-target moves (target = 0 change), because
    upside variance is not risk; Sortino > Sharpe on the same series
    means the volatility is mostly good news. Completes the
    drawdown/volatility/RSI finance-window family with the
    asymmetric-risk view.

    Day deltas are exact integers; mean and downside semi-deviation
    derive from exact int64/decimal conditional moments; the ratio
    rounds to 6dp.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    deltas = daily.select(
        (F.col("x") - F.lag("x").over(seq)).alias("r")
    ).where(F.col("r").isNotNull())
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = deltas.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("sr"),
        F.sum(F.when(F.col("r") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        F.sum(
            F.when(F.col("r") < 0, dec38(F.col("r")) * F.col("r")).otherwise(
                0
            )
        ).alias("qdown"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sr").cast("double") / n
    ddev = F.sqrt(F.col("qdown").cast("double") / n)
    return m.select(
        F.col("n").cast("long").alias("n_deltas"),
        F.col("n_down").alias("n_down_days"),
        F.round(mean, 6).alias("mean_delta"),
        F.round(ddev, 6).alias("downside_dev"),
        F.round(mean / ddev, 6).alias("sortino"),
    )


_SORTINO_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
deltas AS (
    SELECT x - LAG(x) OVER (ORDER BY day) AS r FROM daily
),
m AS (
    SELECT COUNT(*) AS n, SUM(r) AS sr,
        CAST(SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
        SUM(CASE WHEN r < 0 THEN CAST(r AS HUGEINT) * r ELSE 0 END)
            AS qdown
    FROM deltas WHERE r IS NOT NULL
)
SELECT CAST(n AS BIGINT) AS n_deltas, n_down AS n_down_days,
    ROUND(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_delta,
    ROUND(SQRT(CAST(qdown AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS downside_dev,
    ROUND((CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
          / SQRT(CAST(qdown AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS sortino
FROM m
"""


# ---------------------------------------------------------------------------
# agg_indirect_standardization — SMR-style observed/expected ratios
# ---------------------------------------------------------------------------


def agg_indirect_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indirect standardization (the epidemiologists' SMR, repurposed
    for ops): is a nation's FULFILLED-order rate high because of its
    own behavior, or because of its SEGMENT MIX? Expected counts
    apply the GLOBAL per-segment rates to each nation's segment
    composition; the O/E ratio > 1 flags genuinely-above-expected
    nations after mix adjustment — the same confound logic as
    ``sample_ipw_ate``, in the standardization idiom every public-
    health/claims shop uses.

    Exact integers: O and the segment cells are counts; E is a sum of
    cell·rate products computed as (cell·global_f·10⁶) div global_n
    per segment — micro-quantized before the nation sum, so order-
    insensitive. χ²-free by design: the ladder of O/E ratios IS the
    report.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment", "c_nationkey"
    )
    n_t = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    base = (
        o.select(
            "o_custkey", (F.col("o_orderstatus") == "F").alias("f")
        )
        .join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(n_t), "c_nationkey")
    )
    cells = base.groupBy("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cell"),
        F.sum(F.when(F.col("f"), 1).otherwise(0)).cast("long").alias("o_cell"),
    )
    sw = Window.partitionBy("c_mktsegment")
    staged = cells.select(
        "n_name",
        "n_cell",
        "o_cell",
        F.sum("n_cell").over(sw).alias("seg_n"),
        F.sum("o_cell").over(sw).alias("seg_f"),
    )
    e_micro = F.expr(
        "(1000000 * CAST(n_cell AS DECIMAL(38,0)) * seg_f) div seg_n"
    )
    out = staged.groupBy("n_name").agg(
        F.sum("n_cell").cast("long").alias("n_orders"),
        F.sum("o_cell").cast("long").alias("observed"),
        F.sum(e_micro).alias("expected_micro"),
    )
    return out.select(
        "n_name",
        "n_orders",
        "observed",
        F.expr("CAST(expected_micro div 1000000 AS BIGINT)").alias(
            "expected"
        ),
        F.expr(
            "(1000000 * CAST(observed AS DECIMAL(38,0)) * 1000000)"
            " div expected_micro"
        ).cast("long").alias("smr_micro"),
    ).orderBy("n_name")


_SMR_SQL = """
WITH base AS (
    SELECT n.n_name, c.c_mktsegment,
           o.o_orderstatus = 'F' AS f
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
),
cells AS (
    SELECT n_name, c_mktsegment, COUNT(*) AS n_cell,
        CAST(SUM(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS o_cell
    FROM base GROUP BY 1, 2
),
staged AS (
    SELECT n_name, n_cell, o_cell,
        SUM(n_cell) OVER (PARTITION BY c_mktsegment) AS seg_n,
        SUM(o_cell) OVER (PARTITION BY c_mktsegment) AS seg_f
    FROM cells
),
agg AS (
    SELECT n_name,
        CAST(SUM(n_cell) AS BIGINT) AS n_orders,
        CAST(SUM(o_cell) AS BIGINT) AS observed,
        SUM((1000000 * CAST(n_cell AS HUGEINT) * seg_f) // seg_n)
            AS expected_micro
    FROM staged GROUP BY n_name
)
SELECT n_name, n_orders, observed,
    CAST(expected_micro // 1000000 AS BIGINT) AS expected,
    CAST((1000000 * CAST(observed AS HUGEINT) * 1000000)
         // expected_micro AS BIGINT) AS smr_micro
FROM agg
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# window_peak_over_threshold — POT/GPD tail fit
# ---------------------------------------------------------------------------

POT_PCT = 95  # exceedance threshold percentile


def window_peak_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail analysis of daily revenue — the
    SECOND pillar of extreme-value theory next to
    ``agg_gumbel_extreme_value``'s block maxima (POT uses every
    exceedance, not one point per block, so it sees more tail data):
    exceedances over the {POT_PCT}th-percentile day, with the
    method-of-moments GPD fit ξ̂ = ½(1 − μ̄²/s²), β̂ = ½μ̄(μ̄²/s² + 1)
    — ξ > 0 flags a heavy (Pareto-like) tail where provisioning by
    σ-multiples fails.

    The threshold is the exact LOWER {POT_PCT}th percentile via
    cumulative counts over the value-distinct grid (no interpolation
    — pinned convention); excesses are exact integers; the GPD fit
    derives from exact moments in double.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    grid = daily.groupBy("x").agg(F.count(F.lit(1)).alias("cnt"))
    cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    thr = (
        grid.select(
            "x",
            F.sum("cnt").over(cum).alias("c"),
            F.sum("cnt").over(tot).alias("n"),
        )
        .where(100 * F.col("c") >= POT_PCT * F.col("n"))
        .agg(F.min("x").alias("u"), F.max("n").alias("n_days"))
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    exc = (
        daily.crossJoin(F.broadcast(thr))
        .where(F.col("x") > F.col("u"))
        .select((F.col("x") - F.col("u")).alias("e"), "u", "n_days")
    )
    m = exc.groupBy("u", "n_days").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("e").alias("se"),
        F.sum(dec38(F.col("e")) * F.col("e")).alias("qe"),
    )
    k = F.col("k").cast("double")
    mu = F.col("se").cast("double") / k
    s2 = F.col("qe").cast("double") / k - mu * mu
    ratio = mu * mu / s2
    xi = F.lit(0.5) * (F.lit(1.0) - ratio)
    beta = F.lit(0.5) * mu * (ratio + F.lit(1.0))
    return m.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("u").cast("long").alias("threshold"),
        F.col("k").cast("long").alias("n_exceedances"),
        F.round(mu, 6).alias("mean_excess"),
        F.round(xi, 6).alias("gpd_xi"),
        F.round(beta, 6).alias("gpd_beta"),
        (xi > 0).alias("heavy_tail"),
    )


_POT_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
grid AS (
    SELECT x, COUNT(*) AS cnt FROM daily GROUP BY x
),
thr AS (
    SELECT MIN(x) AS u, MAX(n) AS n_days FROM (
        SELECT x,
            SUM(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c,
            SUM(cnt) OVER () AS n
        FROM grid
    ) WHERE 100 * c >= {POT_PCT} * n
),
m AS (
    SELECT t.u, t.n_days, COUNT(*) AS k,
        SUM(d.x - t.u) AS se,
        SUM(CAST(d.x - t.u AS HUGEINT) * (d.x - t.u)) AS qe
    FROM daily d CROSS JOIN thr t
    WHERE d.x > t.u
    GROUP BY t.u, t.n_days
),
d2 AS (
    SELECT CAST(n_days AS BIGINT) AS n_days, CAST(u AS BIGINT) AS u,
        CAST(k AS BIGINT) AS k_int, CAST(k AS DOUBLE) AS k,
        CAST(se AS DOUBLE) AS se, CAST(qe AS DOUBLE) AS qe
    FROM m
)
SELECT n_days, u AS threshold, k_int AS n_exceedances,
    ROUND(se / k, 6) AS mean_excess,
    ROUND(0.5 * (1.0 - (se / k) * (se / k)
                 / (qe / k - (se / k) * (se / k))), 6) AS gpd_xi,
    ROUND(0.5 * (se / k) * ((se / k) * (se / k)
                            / (qe / k - (se / k) * (se / k)) + 1.0), 6)
        AS gpd_beta,
    0.5 * (1.0 - (se / k) * (se / k)
           / (qe / k - (se / k) * (se / k))) > 0 AS heavy_tail
FROM d2
"""


# ---------------------------------------------------------------------------
# window_interarrival_burstiness — Goh–Barabási B per event type
# ---------------------------------------------------------------------------


def window_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of per-user
    inter-event times, by event type — the human-dynamics constant
    that separates Poisson traffic (B≈0), clockwork bots (B→−1) and
    bursty humans (B→1); ``text_word_burstiness`` is the lexical
    analogue, this is the TEMPORAL one, and it feeds the same bot/
    anomaly screens as ``seq_transition_matrix``.

    Gaps are exact integer seconds from consecutive same-user events
    (lag over (user, type)); σ/μ derive from exact int64/decimal
    moments per type and B rounds to 6dp.

    Scale: one user-partitioned lag pass, then a type-grain moment
    aggregate — no global window, no second scan.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = (
        ev.select(
            "event_type",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(
                    F.lag(F.col("ts").cast("timestamp")).over(w)
                )
            ).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
        .select("event_type", F.expr("gap_us div 1000000").alias("g"))
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("sg"),
        F.sum(dec38(F.col("g")) * F.col("g")).alias("qg"),
    )
    n = F.col("n").cast("double")
    mu = F.col("sg").cast("double") / n
    sigma = F.sqrt(F.col("qg").cast("double") / n - mu * mu)
    b = (sigma - mu) / (sigma + mu)
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("std_gap_s"),
        F.round(b, 6).alias("burstiness"),
        (F.round(b, 6) > 0).alias("bursty"),
    ).orderBy("event_type")


_BURSTINESS_TIME_SQL = """
WITH gaps AS (
    SELECT event_type,
        (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id))
            // 1000000 AS g
    FROM events
),
m AS (
    SELECT event_type, COUNT(*) AS n, SUM(g) AS sg,
           SUM(CAST(g AS HUGEINT) * g) AS qg
    FROM gaps WHERE g IS NOT NULL
    GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
    ROUND(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_gap_s,
    ROUND(SQRT(CAST(qg AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))), 6)
        AS std_gap_s,
    ROUND((SQRT(CAST(qg AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)))
           - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
          / (SQRT(CAST(qg AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)))
             + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS burstiness,
    ROUND((SQRT(CAST(qg AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)))
           - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
          / (SQRT(CAST(qg AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)))
             + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 6) > 0 AS bursty
FROM m
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# seq_markov_predictive_accuracy — how predictable is the next event?
# ---------------------------------------------------------------------------


def seq_markov_predictive_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predictive ceiling of the first-order chain: if you always
    guess the MODAL next event type, how often are you right — per
    from-type and overall? This is the model-eval view of
    ``seq_transition_matrix`` (its entropy cousin is the chain's
    predictability bound) and the baseline any sequence model must
    beat before it earns GPU time.

    Exact integers: accuracy = Σ_f max_t c(f,t) over Σ c, computed
    with one max-by window over the (types × types)-bounded count
    table; micro-units by truncating division.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fw = Window.partitionBy("from_type")
    ranked = counts.select(
        "from_type",
        "to_type",
        "c",
        F.sum("c").over(fw).alias("row_total"),
        F.row_number()
        .over(fw.orderBy(F.desc("c"), F.asc("to_type")))
        .alias("rn"),
    ).where(F.col("rn") == 1)
    return ranked.select(
        "from_type",
        F.col("to_type").alias("modal_next"),
        F.col("c").cast("long").alias("n_correct"),
        F.col("row_total").cast("long").alias("n_total"),
        F.expr("(1000000 * c) div row_total").alias("accuracy_micro"),
    ).orderBy("from_type")


_MARKOV_PRED_SQL = """
WITH counts AS (
    SELECT from_type, to_type, COUNT(*) AS c
    FROM (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
        FROM events
    )
    WHERE to_type IS NOT NULL
    GROUP BY 1, 2
),
ranked AS (
    SELECT from_type, to_type, c,
        SUM(c) OVER (PARTITION BY from_type) AS row_total,
        ROW_NUMBER() OVER (PARTITION BY from_type
                           ORDER BY c DESC, to_type ASC) AS rn
    FROM counts
)
SELECT from_type, to_type AS modal_next,
    CAST(c AS BIGINT) AS n_correct,
    CAST(row_total AS BIGINT) AS n_total,
    (1000000 * CAST(c AS BIGINT)) // CAST(row_total AS BIGINT)
        AS accuracy_micro
FROM ranked WHERE rn = 1
ORDER BY from_type
"""


# ---------------------------------------------------------------------------
# agg_partial_correlation — confound-adjusted correlation
# ---------------------------------------------------------------------------


def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of customer SPEND vs ORDER COUNT given
    TENURE (days between first and last order): raw spend/count
    correlation is inflated by the shared driver "has been around
    longer"; partialling tenure out answers whether heavier ordering
    itself carries higher spend — the algebraic cousin of
    ``sample_ipw_ate``'s reweighting, for continuous confounders:
    r_xy·z = (r_xy − r_xz·r_yz)/√((1−r²_xz)(1−r²_yz)).

    Customer-grain reduce → nine exact decimal(38,0) cross moments in
    ONE aggregate; all three pairwise correlations and the partial
    derive in double and round to 6dp.
    """
    o = load(spark, sf_dir, "orders")
    cust = (
        o.select(
            F.col("o_custkey").alias("c"),
            F.floor("o_totalprice").cast("long").alias("y"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .groupBy("c")
        .agg(
            F.sum("y").alias("x"),
            F.count(F.lit(1)).alias("yy"),
            F.datediff(F.max("d"), F.min("d")).cast("long").alias("z"),
        )
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yy").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("yy")) * F.col("yy")).alias("syy"),
        F.sum(dec38(F.col("z")) * F.col("z")).alias("szz"),
        F.sum(dec38(F.col("x")) * F.col("yy")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("z")).alias("sxz"),
        F.sum(dec38(F.col("yy")) * F.col("z")).alias("syz"),
    )
    n = F.col("n").cast("double")

    def r(sab, sa, sb, saa, sbb):
        num = n * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb).cast("double")
        da = F.sqrt(
            n * F.col(saa).cast("double")
            - F.col(sa).cast("double") * F.col(sa).cast("double")
        )
        db = F.sqrt(
            n * F.col(sbb).cast("double")
            - F.col(sb).cast("double") * F.col(sb).cast("double")
        )
        return num / (da * db)

    rxy = r("sxy", "sx", "sy", "sxx", "syy")
    rxz = r("sxz", "sx", "sz", "sxx", "szz")
    ryz = r("syz", "sy", "sz", "syy", "szz")
    partial = (rxy - rxz * ryz) / F.sqrt(
        (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(rxy, 6).alias("r_spend_orders"),
        F.round(rxz, 6).alias("r_spend_tenure"),
        F.round(ryz, 6).alias("r_orders_tenure"),
        F.round(partial, 6).alias("partial_r_given_tenure"),
        F.round(rxy - partial, 6).alias("confound_inflation"),
    )


_PARTIAL_CORR_SQL = """
WITH cust AS (
    SELECT o_custkey AS c,
        SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x,
        COUNT(*) AS yy,
        date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                  MAX(CAST(o_orderdate AS DATE))) AS z
    FROM orders GROUP BY 1
),
m AS (
    SELECT COUNT(*) AS n,
        SUM(x) AS sx, SUM(yy) AS sy, SUM(z) AS sz,
        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        SUM(CAST(yy AS HUGEINT) * yy) AS syy,
        SUM(CAST(z AS HUGEINT) * z) AS szz,
        SUM(CAST(x AS HUGEINT) * yy) AS sxy,
        SUM(CAST(x AS HUGEINT) * z) AS sxz,
        SUM(CAST(yy AS HUGEINT) * z) AS syz
    FROM cust
),
d AS (
    SELECT CAST(n AS BIGINT) AS n_int, CAST(n AS DOUBLE) AS n,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rxy,
        (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * SQRT(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                  - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS rxz,
        (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
         - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
        / (SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           * SQRT(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                  - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS ryz
    FROM m
)
SELECT n_int AS n_customers,
    ROUND(rxy, 6) AS r_spend_orders,
    ROUND(rxz, 6) AS r_spend_tenure,
    ROUND(ryz, 6) AS r_orders_tenure,
    ROUND((rxy - rxz * ryz) / SQRT((1.0 - rxz * rxz)
                                   * (1.0 - ryz * ryz)), 6)
        AS partial_r_given_tenure,
    ROUND(rxy - (rxy - rxz * ryz) / SQRT((1.0 - rxz * rxz)
                                         * (1.0 - ryz * ryz)), 6)
        AS confound_inflation
FROM d
"""


# ---------------------------------------------------------------------------
# quality_digit_preference — last-digit bias audit
# ---------------------------------------------------------------------------


def quality_digit_preference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-digit preference audit of account balances — the fraud/
    hand-entry screen Benford's law does NOT cover (Benford governs
    FIRST digits of multiplicative processes; LAST digits of organic
    amounts should be UNIFORM, and spikes at 0/5/9 are the signature
    of rounding, price anchoring, or fabricated figures). Per last
    cent digit: count, share, and the uniformity χ² with its 9-df
    verdict.

    Exact integers: the digit histogram is one conditional reduce;
    χ² = Σ(o−e)²·100/N·… is exactified as Σ(100·o − N)² div (100·N)
    in micro-units (e = N/10 cleared of fractions by scaling through
    by 100).
    """
    c = load(spark, sf_dir, "customer")
    digit = (
        F.floor(F.abs(F.lit(100.0) * F.col("c_acctbal"))).cast("long") % 10
    )
    hist = c.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_d")
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = hist.select(
        "digit",
        "n_d",
        F.sum("n_d").over(tot).alias("n"),
    )
    # χ² = Σ (o − N/10)² / (N/10) = Σ (10·o − N)² / (10·N), exact in
    # micro-units via decimal division
    chi2_micro = F.expr(
        "CAST(sum(CAST((10 * n_d - n) AS DECIMAL(38,0))"
        " * (10 * n_d - n) * 1000000 div (10 * CAST(n AS DECIMAL(38,0))))"
        " OVER () AS BIGINT)"
    )
    return (
        staged.select(
            "digit",
            "n_d",
            F.expr("(1000000 * n_d) div n").alias("share_micro"),
            chi2_micro.alias("chi2_micro"),
            (chi2_micro > 16_919_000).alias("biased"),  # χ²(9, .05)
        )
        .orderBy("digit")
    )


_DIGIT_PREF_SQL = """
WITH hist AS (
    SELECT CAST(FLOOR(ABS(100.0 * c_acctbal)) AS BIGINT) % 10 AS digit,
           COUNT(*) AS n_d
    FROM customer GROUP BY 1
),
staged AS (
    SELECT digit, n_d, SUM(n_d) OVER () AS n FROM hist
)
SELECT digit, CAST(n_d AS BIGINT) AS n_d,
    (1000000 * CAST(n_d AS BIGINT)) // CAST(n AS BIGINT) AS share_micro,
    CAST(SUM(CAST((10 * n_d - n) AS HUGEINT) * (10 * n_d - n) * 1000000
             // (10 * CAST(n AS HUGEINT))) OVER () AS BIGINT)
        AS chi2_micro,
    CAST(SUM(CAST((10 * n_d - n) AS HUGEINT) * (10 * n_d - n) * 1000000
             // (10 * CAST(n AS HUGEINT))) OVER () AS BIGINT) > 16919000
        AS biased
FROM staged
ORDER BY digit
"""


# ---------------------------------------------------------------------------
# agg_mutual_information — categorical MI in exact micro-nats
# ---------------------------------------------------------------------------


def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order status and priority — the
    information-theoretic size of the association ``agg_chi_square_
    independence`` tests the significance of (χ² says "not
    independent"; MI says how many nats of one label the other
    reveals — comparable across tables, the feature-selection
    currency). Normalized MI (÷ min entropy) lands in [0,1].

    Per-cell terms n_sp·ln(N·n_sp/(n_s·n_p)) are micro-quantized
    BEFORE summation (the Theil x·ln x policy) so the cell sum is an
    exact integer regardless of aggregation order; marginals come
    from windows over the ≤15-cell reduced table.
    """
    o = load(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).alias("n_sp"))
    row_w = Window.partitionBy("s")
    col_w = Window.partitionBy("p")
    tot_w = Window.partitionBy()
    staged = cells.select(
        "s",
        "p",
        "n_sp",
        F.sum("n_sp").over(row_w).alias("n_s"),
        F.sum("n_sp").over(col_w).alias("n_p"),
        F.sum("n_sp").over(tot_w).alias("n"),
        # first-cell markers so each marginal entropy term is summed
        # exactly once (windows must live OUTSIDE the aggregate)
        F.row_number().over(row_w.orderBy("p")).alias("rn_s"),
        F.row_number().over(col_w.orderBy("s")).alias("rn_p"),
    )
    term_micro = F.floor(
        F.lit(1e6)
        * F.col("n_sp").cast("double")
        * F.log(
            F.col("n").cast("double")
            * F.col("n_sp").cast("double")
            / (F.col("n_s").cast("double") * F.col("n_p").cast("double"))
        )
    ).cast("long")
    hs_term = F.floor(
        F.lit(1e6)
        * F.col("n_s").cast("double")
        * F.log(F.col("n").cast("double") / F.col("n_s").cast("double"))
    ).cast("long")
    hp_term = F.floor(
        F.lit(1e6)
        * F.col("n_p").cast("double")
        * F.log(F.col("n").cast("double") / F.col("n_p").cast("double"))
    ).cast("long")
    m = staged.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(term_micro).alias("mi_num"),
        F.sum(F.when(F.col("rn_s") == 1, hs_term).otherwise(0)).alias(
            "hs_num"
        ),
        F.sum(F.when(F.col("rn_p") == 1, hp_term).otherwise(0)).alias(
            "hp_num"
        ),
    )
    mi = F.col("mi_num").cast("double") / F.lit(1e6) / F.col("n").cast("double")
    hs = F.col("hs_num").cast("double") / F.lit(1e6) / F.col("n").cast("double")
    hp = F.col("hp_num").cast("double") / F.lit(1e6) / F.col("n").cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.round(mi, 6).alias("mi_nats"),
        F.round(hs, 6).alias("h_status"),
        F.round(hp, 6).alias("h_priority"),
        F.round(mi / F.least(hs, hp), 6).alias("nmi"),
    )


_MI_SQL = """
WITH cells AS (
    SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS n_sp
    FROM orders GROUP BY 1, 2
),
staged AS (
    SELECT s, p, n_sp,
        SUM(n_sp) OVER (PARTITION BY s) AS n_s,
        SUM(n_sp) OVER (PARTITION BY p) AS n_p,
        SUM(n_sp) OVER () AS n,
        ROW_NUMBER() OVER (PARTITION BY s ORDER BY p) AS rn_s,
        ROW_NUMBER() OVER (PARTITION BY p ORDER BY s) AS rn_p
    FROM cells
),
m AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n, COUNT(*) AS n_cells,
        CAST(SUM(CAST(FLOOR(1000000.0 * CAST(n_sp AS DOUBLE)
            * LN(CAST(n AS DOUBLE) * CAST(n_sp AS DOUBLE)
                 / (CAST(n_s AS DOUBLE) * CAST(n_p AS DOUBLE))))
            AS BIGINT)) AS BIGINT) AS mi_num,
        CAST(SUM(CASE WHEN rn_s = 1 THEN CAST(FLOOR(1000000.0
            * CAST(n_s AS DOUBLE)
            * LN(CAST(n AS DOUBLE) / CAST(n_s AS DOUBLE))) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS hs_num,
        CAST(SUM(CASE WHEN rn_p = 1 THEN CAST(FLOOR(1000000.0
            * CAST(n_p AS DOUBLE)
            * LN(CAST(n AS DOUBLE) / CAST(n_p AS DOUBLE))) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS hp_num
    FROM staged
)
SELECT n AS n_rows, CAST(n_cells AS BIGINT) AS n_cells,
    ROUND(CAST(mi_num AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        AS mi_nats,
    ROUND(CAST(hs_num AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        AS h_status,
    ROUND(CAST(hp_num AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        AS h_priority,
    ROUND((CAST(mi_num AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
          / LEAST(CAST(hs_num AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE),
                  CAST(hp_num AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)),
          6) AS nmi
FROM m
"""


# ---------------------------------------------------------------------------
# sample_ipw_ate — inverse-propensity-weighted treatment effect
# ---------------------------------------------------------------------------

# Literal propensity map: exposure probability by market segment (the
# confounder) — richer segments see the "treatment" more often.
IPW_PROPENSITY_PCT = {
    "AUTOMOBILE": 30,
    "BUILDING": 50,
    "FURNITURE": 40,
    "HOUSEHOLD": 60,
    "MACHINERY": 70,
}


def sample_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE (Hájek estimator) — completes
    the causal toolkit (``agg_diff_in_diff`` uses time, ``agg_cuped_
    variance_reduction`` uses a pre-period covariate; IPW reweights a
    CONFOUNDED cross-section): treatment assignment is a portable-
    hash draw whose probability depends on market segment (a literal
    propensity map — the confounder), outcome is customer spend, and
    weighting by 1/p (treated) and 1/(1−p) (control) recovers a
    balanced comparison the naive difference gets wrong.

    Everything exact until the last division: weights are literal
    rationals (×100), weighted sums accumulate in decimal(38,0); the
    naive and IPW estimates emit side by side so the CONFOUNDING BIAS
    the weighting removes is part of the output.
    """
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.floor("o_totalprice").cast("long").alias("y"),
    )
    spend = o.groupBy("c_custkey").agg(F.sum("y").alias("y"))
    p_pct = F.lit(None).cast("int")
    for seg, pct in IPW_PROPENSITY_PCT.items():
        p_pct = F.when(F.col("c_mktsegment") == seg, pct).otherwise(p_pct)
    draw = hash32(F.concat(F.col("c_custkey").cast("string"), F.lit("|ipw")))
    base = (
        c.join(spend, "c_custkey")
        .select(
            "c_custkey",
            "y",
            p_pct.alias("p_pct"),
            (draw % 100).alias("u"),
        )
        .select(
            "y",
            "p_pct",
            (F.col("u") < F.col("p_pct")).alias("t"),
        )
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("t"), 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("t"), F.col("y")).otherwise(0)).alias("syt"),
        F.sum(F.when(~F.col("t"), F.col("y")).otherwise(0)).alias("syc"),
        # IPW sums with INTEGER weights: 4200 = LCM of every p and
        # 100−p in the literal map, so w = 4200 div p is exact and the
        # weighted sums are decimal integers (no float folds)
        F.sum(
            F.when(
                F.col("t"),
                dec38(F.col("y")) * F.expr("4200 div p_pct"),
            ).otherwise(0)
        ).alias("wyt"),
        F.sum(
            F.when(F.col("t"), F.expr("4200 div p_pct")).otherwise(0)
        ).cast("long").alias("wt"),
        F.sum(
            F.when(
                ~F.col("t"),
                dec38(F.col("y")) * F.expr("4200 div (100 - p_pct)"),
            ).otherwise(0)
        ).alias("wyc"),
        F.sum(
            F.when(~F.col("t"), F.expr("4200 div (100 - p_pct)")).otherwise(0)
        ).cast("long").alias("wc"),
    )
    naive = F.col("syt").cast("double") / F.col("nt").cast("double") - F.col(
        "syc"
    ).cast("double") / (F.col("n") - F.col("nt")).cast("double")
    ipw = F.col("wyt").cast("double") / F.col("wt").cast("double") - F.col(
        "wyc"
    ).cast("double") / F.col("wc").cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("nt").alias("n_treated"),
        F.round(naive, 4).alias("naive_diff"),
        F.round(ipw, 4).alias("ipw_ate"),
        F.round(naive - ipw, 4).alias("confounding_bias"),
    )


def _ipw_sql() -> str:
    pmap = " ".join(
        f"WHEN c_mktsegment = '{seg}' THEN {pct}"
        for seg, pct in IPW_PROPENSITY_PCT.items()
    )
    h = sql_hash32("CAST(c.c_custkey AS VARCHAR) || '|ipw'")
    return f"""
WITH spend AS (
    SELECT o_custkey AS c_custkey,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS y
    FROM orders GROUP BY 1
),
base AS (
    SELECT s.y,
        CASE {pmap} END AS p_pct,
        ({h} % 100) < CASE {pmap} END AS t
    FROM customer c JOIN spend s ON s.c_custkey = c.c_custkey
),
m AS (
    SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        SUM(CASE WHEN t THEN y ELSE 0 END) AS syt,
        SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS syc,
        SUM(CASE WHEN t THEN CAST(y AS HUGEINT) * (4200 // p_pct)
                 ELSE 0 END) AS wyt,
        CAST(SUM(CASE WHEN t THEN 4200 // p_pct ELSE 0 END) AS BIGINT)
            AS wt,
        SUM(CASE WHEN NOT t
                 THEN CAST(y AS HUGEINT) * (4200 // (100 - p_pct))
                 ELSE 0 END) AS wyc,
        CAST(SUM(CASE WHEN NOT t THEN 4200 // (100 - p_pct) ELSE 0 END)
             AS BIGINT) AS wc
    FROM base
)
SELECT CAST(n AS BIGINT) AS n_customers, nt AS n_treated,
    ROUND(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
          - CAST(syc AS DOUBLE) / CAST(n - nt AS DOUBLE), 4) AS naive_diff,
    ROUND(CAST(wyt AS DOUBLE) / CAST(wt AS DOUBLE)
          - CAST(wyc AS DOUBLE) / CAST(wc AS DOUBLE), 4) AS ipw_ate,
    ROUND((CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
           - CAST(syc AS DOUBLE) / CAST(n - nt AS DOUBLE))
          - (CAST(wyt AS DOUBLE) / CAST(wt AS DOUBLE)
             - CAST(wyc AS DOUBLE) / CAST(wc AS DOUBLE)), 4)
        AS confounding_bias
FROM m
"""


# ---------------------------------------------------------------------------
# window_ljung_box — portmanteau whiteness test
# ---------------------------------------------------------------------------

LB_LAGS = 10
LB_CHI2_CRIT = 18.307  # χ²(10 df, 0.05), fixed literal


def window_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test over the first {LB_LAGS} daily-
    revenue autocorrelations: Q = n(n+2)·Σ ρ²_k/(n−k) — the ONE
    number that says "this series is not white noise" where
    ``window_acf_lags`` shows 7 separate correlations and leaves the
    joint call to the reader; it is the residual-whiteness gate every
    fitted forecast model must pass.

    Each ρ_k derives from the same exact integer moments as the ACF
    op; the Σ over lags is written FIXED-ORDER over the literal lag
    domain (per-lag rows pivot to columns first — the float-over-
    groups gotcha), and Q rounds to 6dp against the pinned χ²
    critical value.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
        # localCheckpoint (r12): daily feeds the global moments AND
        # every lag branch — without materialization the order-corpus
        # day reduce re-runs per branch (the checkpointed table is
        # day-grain, a few thousand rows)
        .localCheckpoint(eager=False)
    )
    seq = Window.orderBy("day")
    glob = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).alias("sxx"),
    )
    # r12: ALL lags from ONE window pass + ONE aggregate — lag(x, k)
    # for every k shares the same sort, and the per-lag moment sums
    # become null-skipping conditional sums over the lagged columns
    # (identical addends to the former per-lag WHERE branches, so the
    # values are bit-equal; was LB_LAGS window passes union'd then
    # re-pivoted).
    lagged = daily.select(
        "x",
        *[F.lag("x", k).over(seq).alias(f"xl{k}") for k in range(1, LB_LAGS + 1)],
    )

    def _lag_aggs(k: int):
        xl = F.col(f"xl{k}")
        return [
            F.count(xl).alias(f"np{k}"),
            F.sum(F.col("x").cast("decimal(18,0)") * xl).alias(f"sxy{k}"),
            F.sum(F.when(xl.isNotNull(), F.col("x"))).alias(f"sa{k}"),
            F.sum(xl).alias(f"sb{k}"),
        ]

    wide = lagged.agg(
        *[a for k in range(1, LB_LAGS + 1) for a in _lag_aggs(k)]
    ).crossJoin(F.broadcast(glob))
    n = F.col("n").cast("double")
    mean = F.col("sx").cast("double") / n
    denom = F.col("sxx").cast("double") - n * mean * mean

    def rho(k: int):
        return (
            F.col(f"sxy{k}").cast("double")
            - mean
            * (F.col(f"sa{k}").cast("double") + F.col(f"sb{k}").cast("double"))
            + F.col(f"np{k}").cast("double") * mean * mean
        ) / denom

    q = (
        n
        * (n + 2.0)
        * sum(
            (rho(k) * rho(k) / (n - float(k)) for k in range(1, LB_LAGS + 1)),
            F.lit(0.0),
        )
    )
    return wide.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(LB_LAGS).cast("long").alias("n_lags"),
        F.round(q, 6).alias("q_stat"),
        (q > F.lit(LB_CHI2_CRIT)).alias("reject_whiteness"),
    )


def _ljung_box_sql() -> str:
    lag_ctes = ",\n".join(
        f"""l{k} AS (
    SELECT COUNT(*) AS np{k},
           SUM(CAST(x AS HUGEINT) * xl) AS sxy{k},
           SUM(x) AS sa{k}, SUM(xl) AS sb{k}
    FROM (SELECT x, LAG(x, {k}) OVER (ORDER BY day) AS xl FROM daily)
    WHERE xl IS NOT NULL
)"""
        for k in range(1, LB_LAGS + 1)
    )
    mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    denom = f"(CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * {mean} * {mean})"
    rho = lambda k: (  # noqa: E731
        f"((CAST(sxy{k} AS DOUBLE) - {mean} * (CAST(sa{k} AS DOUBLE)"
        f" + CAST(sb{k} AS DOUBLE))"
        f" + CAST(np{k} AS DOUBLE) * {mean} * {mean}) / {denom})"
    )
    q = (
        "CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ("
        + " + ".join(
            f"{rho(k)} * {rho(k)} / (CAST(n AS DOUBLE) - {k}.0)"
            for k in range(1, LB_LAGS + 1)
        )
        + ")"
    )
    crossed = ", ".join(f"l{k}" for k in range(1, LB_LAGS + 1))
    return f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
overall AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx,
           SUM(CAST(x AS HUGEINT) * x) AS sxx
    FROM daily
),
{lag_ctes}
SELECT CAST(n AS BIGINT) AS n_days, CAST({LB_LAGS} AS BIGINT) AS n_lags,
       ROUND({q}, 6) AS q_stat,
       {q} > {LB_CHI2_CRIT} AS reject_whiteness
FROM overall, {crossed}
"""


# ---------------------------------------------------------------------------
# ml_cost_sensitive_threshold — cost-matrix-optimal decision cut
# ---------------------------------------------------------------------------

COST_FP = 1
COST_FN = 5


def ml_cost_sensitive_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive decision threshold: with a business cost matrix
    (FP={COST_FP}, FN={COST_FN} — missing a positive costs 5× a false
    alarm, the shape of most screening problems), pick the score cut
    minimizing TOTAL COST — which sits well below the Youden/KS cut
    (``ml_score_separation_report``) because expensive misses push
    the threshold toward recall. Also reports the do-nothing baseline
    (reject-all = {COST_FN}·P) and the saving — the number that
    justifies deploying the model at all.

    Pure integers over the ≤1001-row score grid: cost(s) =
    {COST_FP}·FP(s) + {COST_FN}·FN(s); smallest-threshold tie-break
    pinned.
    """
    d = load(spark, sf_dir, "documents")
    conf = F.least(
        F.lit(1_000_000),
        F.expr(f"(1000000 * n_chars) div {ECE_SCALE_CHARS}"),
    )
    label = F.array_contains(tokens_col("text"), "data")
    grid = (
        d.select(conf.alias("s"), F.when(label, 1).otherwise(0).alias("y"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_k"),
            F.sum("y").cast("long").alias("p_k"),
        )
    )
    cum = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = grid.select(
        "s",
        (F.sum("n_k").over(cum) - F.sum("p_k").over(cum)).alias("fp"),
        (F.sum("p_k").over(tot) - F.sum("p_k").over(cum)).alias("fn"),
        F.sum("p_k").over(tot).alias("pos"),
    ).select(
        "s",
        "fp",
        "fn",
        "pos",
        (F.lit(COST_FP) * F.col("fp") + F.lit(COST_FN) * F.col("fn")).alias(
            "cost"
        ),
    )
    return (
        stepped.orderBy(F.asc("cost"), F.asc("s"))
        .limit(1)
        .select(
            F.col("s").alias("threshold_micro"),
            F.col("fp").cast("long").alias("fp"),
            F.col("fn").cast("long").alias("fn"),
            F.col("cost").cast("long").alias("total_cost"),
            (F.lit(COST_FN) * F.col("pos")).cast("long").alias(
                "baseline_cost"
            ),
            F.expr(
                f"(1000000 * ({COST_FN} * pos - cost))"
                f" div ({COST_FN} * pos)"
            ).alias("saving_micro"),
        )
    )


_COST_THRESHOLD_SQL = f"""
WITH grid AS (
    SELECT LEAST(1000000, (1000000 * n_chars) // {ECE_SCALE_CHARS}) AS s,
        COUNT(*) AS n_k,
        CAST(SUM(CASE WHEN list_contains({sql_tokens("text")}, 'data')
                      THEN 1 ELSE 0 END) AS BIGINT) AS p_k
    FROM documents
    GROUP BY 1
),
stepped AS (
    SELECT s,
        CAST(SUM(n_k) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
             - SUM(p_k) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS fp,
        CAST(SUM(p_k) OVER ()
             - SUM(p_k) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS fn,
        CAST(SUM(p_k) OVER () AS BIGINT) AS pos
    FROM grid
),
scored AS (
    SELECT s, fp, fn, pos,
        {COST_FP} * fp + {COST_FN} * fn AS cost
    FROM stepped
)
SELECT s AS threshold_micro, fp, fn,
    CAST(cost AS BIGINT) AS total_cost,
    CAST({COST_FN} * pos AS BIGINT) AS baseline_cost,
    (1000000 * ({COST_FN} * pos - cost)) // ({COST_FN} * pos)
        AS saving_micro
FROM scored
ORDER BY cost ASC, s ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# window_spc_control_limits — Shewhart XmR individuals chart
# ---------------------------------------------------------------------------

SPC_D2_INV_MICRO = 886_525  # 1/1.128 in micro units (d2 for n=2), exact lit
SPC_SIGMA_MULT = 3


def window_spc_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart XmR (individuals + moving range) control chart over
    daily revenue — the process-control view that asks a different
    question than anomaly z-scores: not "is today odd vs its recent
    window" (``window_anomaly_zscore``) but "is the PROCESS stable" —
    limits derive from the average MOVING RANGE (short-term noise),
    so a drifting mean shows up as out-of-control points instead of
    silently inflating the σ it is judged against (the classic
    Shewhart insight).

    Exact integers: daily totals and moving ranges are int64; the
    center line and the ±3σ̂ limits (σ̂ = MR̄/d₂, d₂=1.128 pinned as a
    micro literal) derive in integer micro-units by truncating
    division. Output: chart constants + violation census (count +
    first/last out-of-control day).
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    mr = F.abs(F.col("x") - F.lag("x").over(seq))
    staged = daily.select("day", "x", mr.alias("mr"))
    m = staged.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("mr").alias("smr"),
        F.sum(F.when(F.col("mr").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_mr"),
    )
    center = F.expr("sx div n_days")
    sigma_hat = F.expr(
        f"(((smr div n_mr) * {SPC_D2_INV_MICRO}) div 1000000)"
    )
    consts = m.select(
        "n_days",
        center.alias("center"),
        F.expr("smr div n_mr").alias("mr_bar"),
        sigma_hat.alias("sigma_hat"),
        (center + F.lit(SPC_SIGMA_MULT) * sigma_hat).alias("ucl"),
        (center - F.lit(SPC_SIGMA_MULT) * sigma_hat).alias("lcl"),
    )
    flagged = staged.crossJoin(F.broadcast(consts)).select(
        "day",
        "x",
        "n_days",
        "center",
        "mr_bar",
        "sigma_hat",
        "ucl",
        "lcl",
        ((F.col("x") > F.col("ucl")) | (F.col("x") < F.col("lcl"))).alias(
            "ooc"
        ),
    )
    return flagged.groupBy(
        "n_days", "center", "mr_bar", "sigma_hat", "ucl", "lcl"
    ).agg(
        F.sum(F.when(F.col("ooc"), 1).otherwise(0))
        .cast("long")
        .alias("n_out_of_control"),
        F.min(F.when(F.col("ooc"), F.col("day"))).alias("first_ooc_day"),
        F.max(F.when(F.col("ooc"), F.col("day"))).alias("last_ooc_day"),
    )


_SPC_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
staged AS (
    SELECT day, x,
           ABS(x - LAG(x) OVER (ORDER BY day)) AS mr
    FROM daily
),
m AS (
    SELECT COUNT(*) AS n_days, SUM(x) AS sx, SUM(mr) AS smr,
           CAST(SUM(CASE WHEN mr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mr
    FROM staged
),
consts AS (
    SELECT CAST(n_days AS BIGINT) AS n_days,
        sx // n_days AS center,
        smr // n_mr AS mr_bar,
        ((smr // n_mr) * {SPC_D2_INV_MICRO}) // 1000000 AS sigma_hat,
        sx // n_days
            + {SPC_SIGMA_MULT} * (((smr // n_mr) * {SPC_D2_INV_MICRO})
                                  // 1000000) AS ucl,
        sx // n_days
            - {SPC_SIGMA_MULT} * (((smr // n_mr) * {SPC_D2_INV_MICRO})
                                  // 1000000) AS lcl
    FROM m
)
SELECT c.n_days, CAST(c.center AS BIGINT) AS center,
    CAST(c.mr_bar AS BIGINT) AS mr_bar,
    CAST(c.sigma_hat AS BIGINT) AS sigma_hat,
    CAST(c.ucl AS BIGINT) AS ucl, CAST(c.lcl AS BIGINT) AS lcl,
    CAST(SUM(CASE WHEN s.x > c.ucl OR s.x < c.lcl THEN 1 ELSE 0 END)
         AS BIGINT) AS n_out_of_control,
    MIN(CASE WHEN s.x > c.ucl OR s.x < c.lcl THEN s.day END)
        AS first_ooc_day,
    MAX(CASE WHEN s.x > c.ucl OR s.x < c.lcl THEN s.day END)
        AS last_ooc_day
FROM staged s CROSS JOIN consts c
GROUP BY 1, 2, 3, 4, 5, 6
"""


# ---------------------------------------------------------------------------
# agg_price_index_laspeyres — fixed-basket price indices
# ---------------------------------------------------------------------------

PI_BASE_YEAR = 1996
PI_CURR_YEAR = 1998


def agg_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indices between
    {PI_BASE_YEAR} and {PI_CURR_YEAR} over the common-parts basket —
    the economics-grade answer to "did OUR prices rise or did the MIX
    shift", which a raw average-price delta conflates (Laspeyres
    weights by base-period quantities, Paasche by current, Fisher is
    their geometric mean; the gap between L and P IS the
    substitution/mix effect).

    Per (part, year): cent-exact unit value (Σ cents div Σ qty) and
    quantity from lineitem; indices are ratios of decimal-exact
    basket sums over parts traded in BOTH periods. The only
    transcendental is Fisher's one sqrt, rounded to 6dp.

    Scale: part-grain reduce per period (partial-aggregated), one
    co-partitioned equi-join on partkey, 4 scalar sums.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.year("o_orderdate").alias("yr"),
    )
    base = (
        li.select(
            "l_orderkey",
            "l_partkey",
            F.col("l_quantity").cast("long").alias("q"),
            F.floor(F.lit(100.0) * F.col("l_extendedprice"))
            .cast("long")
            .alias("cents"),
        )
        .join(o, "l_orderkey")
        .where(F.col("yr").isin(PI_BASE_YEAR, PI_CURR_YEAR))
        .groupBy("l_partkey", "yr")
        .agg(F.sum("q").alias("q"), F.sum("cents").alias("cents"))
        .select(
            "l_partkey",
            "yr",
            "q",
            F.expr("cents div q").alias("unit_cents"),
        )
    )
    p0 = base.where(F.col("yr") == PI_BASE_YEAR).select(
        "l_partkey",
        F.col("q").alias("q0"),
        F.col("unit_cents").alias("p0"),
    )
    p1 = base.where(F.col("yr") == PI_CURR_YEAR).select(
        "l_partkey",
        F.col("q").alias("q1"),
        F.col("unit_cents").alias("p1"),
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    j = p0.join(p1, "l_partkey")
    m = j.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(dec38(F.col("p1")) * F.col("q0")).alias("p1q0"),
        F.sum(dec38(F.col("p0")) * F.col("q0")).alias("p0q0"),
        F.sum(dec38(F.col("p1")) * F.col("q1")).alias("p1q1"),
        F.sum(dec38(F.col("p0")) * F.col("q1")).alias("p0q1"),
    )
    lasp = F.col("p1q0").cast("double") / F.col("p0q0").cast("double")
    paas = F.col("p1q1").cast("double") / F.col("p0q1").cast("double")
    return m.select(
        F.col("n_parts").cast("long").alias("n_common_parts"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        F.round(lasp - paas, 6).alias("substitution_gap"),
    )


_PRICE_INDEX_SQL = f"""
WITH base AS (
    SELECT l.l_partkey, year(o.o_orderdate) AS yr,
        CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
        CAST(SUM(CAST(FLOOR(100.0 * l.l_extendedprice) AS BIGINT))
             AS BIGINT) AS cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE year(o.o_orderdate) IN ({PI_BASE_YEAR}, {PI_CURR_YEAR})
    GROUP BY 1, 2
),
uv AS (
    SELECT l_partkey, yr, q, cents // q AS unit_cents FROM base
),
j AS (
    SELECT b0.l_partkey, b0.q AS q0, b0.unit_cents AS p0,
           b1.q AS q1, b1.unit_cents AS p1
    FROM (SELECT * FROM uv WHERE yr = {PI_BASE_YEAR}) b0
    JOIN (SELECT * FROM uv WHERE yr = {PI_CURR_YEAR}) b1
         ON b1.l_partkey = b0.l_partkey
),
m AS (
    SELECT COUNT(*) AS n_parts,
        SUM(CAST(p1 AS HUGEINT) * q0) AS p1q0,
        SUM(CAST(p0 AS HUGEINT) * q0) AS p0q0,
        SUM(CAST(p1 AS HUGEINT) * q1) AS p1q1,
        SUM(CAST(p0 AS HUGEINT) * q1) AS p0q1
    FROM j
)
SELECT CAST(n_parts AS BIGINT) AS n_common_parts,
    ROUND(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE), 6) AS laspeyres,
    ROUND(CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE), 6) AS paasche,
    ROUND(SQRT((CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE))
               * (CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE))), 6)
        AS fisher,
    ROUND(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE)
          - CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE), 6)
        AS substitution_gap
FROM m
"""


# ---------------------------------------------------------------------------
# agg_energy_distance — exact two-sample energy statistic
# ---------------------------------------------------------------------------


def agg_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample energy distance between '{TT_GROUP_A}' and
    '{TT_GROUP_B}' order values — the distribution-difference test
    that sees EVERYTHING (location, scale, shape: E = 0 iff the
    distributions are identical), where the t-test sees means, MW
    sees ranks, and binned KS sees the bin grid. Székely's statistic
    E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| normally costs O(n²); over the
    whole-dollar value-DISTINCT grid every pairwise-|difference| sum
    collapses to cumulative count/sum arithmetic — EXACT integers in
    one grid pass (the same reduction that makes Kruskal and MW
    scale), decimal(38,0) accumulators since ΣΣ|x−y| reaches n²·v.

    Output: the energy distance and the test statistic
    nm/(n+m)·E (asymptotically distribution-free under H₀).
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    vals = (
        o.where(F.col("o_orderpriority").isin(TT_GROUP_A, TT_GROUP_B))
        .select(
            y.alias("v"),
            (F.col("o_orderpriority") == TT_GROUP_A).alias("a"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("a"), 1).otherwise(0)).cast("long").alias("na_v"),
            F.sum(F.when(F.col("a"), 0).otherwise(1)).cast("long").alias("nb_v"),
        )
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    before = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    thru = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = vals.select(
        "v",
        "na_v",
        "nb_v",
        F.coalesce(F.sum("na_v").over(before), F.lit(0)).alias("ca_lt"),
        F.coalesce(F.sum(dec38(F.col("na_v")) * F.col("v")).over(before),
                   F.lit(0).cast("decimal(38,0)")).alias("sa_lt"),
        F.sum("na_v").over(thru).alias("ca_le"),
        F.sum(dec38(F.col("na_v")) * F.col("v")).over(thru).alias("sa_le"),
        F.coalesce(F.sum("nb_v").over(before), F.lit(0)).alias("cb_lt"),
        F.coalesce(F.sum(dec38(F.col("nb_v")) * F.col("v")).over(before),
                   F.lit(0).cast("decimal(38,0)")).alias("sb_lt"),
        F.sum("nb_v").over(thru).alias("cb_le"),
        F.sum(dec38(F.col("nb_v")) * F.col("v")).over(thru).alias("sb_le"),
        F.sum("na_v").over(tot).alias("na"),
        F.sum(dec38(F.col("na_v")) * F.col("v")).over(tot).alias("sa"),
        F.sum("nb_v").over(tot).alias("nb"),
        F.sum(dec38(F.col("nb_v")) * F.col("v")).over(tot).alias("sb"),
    )

    def cross(side_cnt: str, other: str):
        """Σ_j cnt_j · Σ_i |x_i − v_j| for the OTHER group's values."""
        less = dec38(F.col("v")) * F.col(f"c{other}_lt") - F.col(
            f"s{other}_lt"
        )
        greater = (
            F.col(f"s{other}") - F.col(f"s{other}_le")
        ) - dec38(F.col("v")) * (
            F.col(f"n{other}") - F.col(f"c{other}_le")
        )
        return F.sum(dec38(F.col(side_cnt)) * (less + greater))

    m = stepped.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        cross("nb_v", "a").alias("sxy"),
        cross("na_v", "a").alias("sxx"),
        cross("nb_v", "b").alias("syy"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    e = (
        F.lit(2.0) * F.col("sxy").cast("double") / (na * nb)
        - F.col("sxx").cast("double") / (na * na)
        - F.col("syy").cast("double") / (nb * nb)
    )
    return m.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(e, 6).alias("energy_distance"),
        F.round(na * nb / (na + nb) * e, 6).alias("e_stat"),
    )


_ENERGY_SQL = f"""
WITH vals AS (
    SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
        CAST(SUM(CASE WHEN o_orderpriority = '{TT_GROUP_A}'
                 THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
        CAST(SUM(CASE WHEN o_orderpriority = '{TT_GROUP_B}'
                 THEN 1 ELSE 0 END) AS BIGINT) AS nb_v
    FROM orders
    WHERE o_orderpriority IN ('{TT_GROUP_A}', '{TT_GROUP_B}')
    GROUP BY 1
),
stepped AS (
    SELECT v, na_v, nb_v,
        COALESCE(SUM(na_v) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca_lt,
        COALESCE(SUM(CAST(na_v AS HUGEINT) * v) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sa_lt,
        SUM(na_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca_le,
        SUM(CAST(na_v AS HUGEINT) * v) OVER (ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS sa_le,
        COALESCE(SUM(nb_v) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb_lt,
        COALESCE(SUM(CAST(nb_v AS HUGEINT) * v) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sb_lt,
        SUM(nb_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb_le,
        SUM(CAST(nb_v AS HUGEINT) * v) OVER (ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS sb_le,
        SUM(na_v) OVER () AS na,
        SUM(CAST(na_v AS HUGEINT) * v) OVER () AS sa,
        SUM(nb_v) OVER () AS nb,
        SUM(CAST(nb_v AS HUGEINT) * v) OVER () AS sb
    FROM vals
),
m AS (
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
        SUM(CAST(nb_v AS HUGEINT)
            * ((CAST(v AS HUGEINT) * ca_lt - sa_lt)
               + ((sa - sa_le) - CAST(v AS HUGEINT) * (na - ca_le))))
            AS sxy,
        SUM(CAST(na_v AS HUGEINT)
            * ((CAST(v AS HUGEINT) * ca_lt - sa_lt)
               + ((sa - sa_le) - CAST(v AS HUGEINT) * (na - ca_le))))
            AS sxx,
        SUM(CAST(nb_v AS HUGEINT)
            * ((CAST(v AS HUGEINT) * cb_lt - sb_lt)
               + ((sb - sb_le) - CAST(v AS HUGEINT) * (nb - cb_le))))
            AS syy
    FROM stepped
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
    ROUND(2.0 * CAST(sxy AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
          - CAST(sxx AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
          - CAST(syy AS DOUBLE)
              / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        AS energy_distance,
    ROUND(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
          * (2.0 * CAST(sxy AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             - CAST(sxx AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
             - CAST(syy AS DOUBLE)
                 / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
        AS e_stat
FROM m
"""


# ---------------------------------------------------------------------------
# agg_gumbel_extreme_value — block-maxima EVT fit + return level
# ---------------------------------------------------------------------------

GUMBEL_GAMMA = 0.5772156649015329  # Euler–Mascheroni, fixed literal
GUMBEL_RETURN_T = 100


def _gumbel_c() -> float:
    import math

    return math.log(-math.log(1.0 - 1.0 / GUMBEL_RETURN_T))


def agg_gumbel_extreme_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on MONTHLY MAXIMA of daily revenue —
    the capacity-planning question none of the mean/variance ops
    answer: "what daily peak should we provision for once per
    {GUMBEL_RETURN_T} months?" Method-of-moments fit (β = s√6/π,
    μ = x̄ − γβ) on the block-maxima series, and the T-block return
    level z_T = μ − β·ln(−ln(1−1/T)) with the double-log constant
    computed ONCE in Python and embedded as the same literal in both
    engines (no query-time transcendental inversion — the BH-threshold
    recipe).

    Exact integer block maxima and moments (Σm in int64, Σm² in
    decimal); the fit is constant arithmetic on one row.

    Scale: day-grain reduce → month-grain max — two shuffles on
    calendar keys, block count independent of row count.
    """
    import math

    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    blocks = (
        daily.select(
            (
                (F.year("day") - F.lit(1970)) * 12 + F.month("day") - 1
            ).alias("m"),
            "x",
        )
        .groupBy("m")
        .agg(F.max("x").alias("mx"))
    )
    agg = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("q"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    q = F.col("q").cast("double")
    mean = s / n
    var = (q - n * mean * mean) / (n - 1.0)
    beta = F.sqrt(var * F.lit(6.0)) / F.lit(math.pi)
    mu = mean - F.lit(GUMBEL_GAMMA) * beta
    z = mu - beta * F.lit(_gumbel_c())
    return agg.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.round(mean, 6).alias("block_max_mean"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(z, 6).alias(f"return_level_{GUMBEL_RETURN_T}"),
    )


def _gumbel_sql() -> str:
    import math

    return f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
blocks AS (
    SELECT (year(day) - 1970) * 12 + month(day) - 1 AS m, MAX(x) AS mx
    FROM daily GROUP BY 1
),
agg AS (
    SELECT COUNT(*) AS n, SUM(mx) AS s,
           SUM(CAST(mx AS HUGEINT) * mx) AS q
    FROM blocks
),
d AS (
    SELECT CAST(n AS DOUBLE) AS n, CAST(s AS DOUBLE) AS s,
           CAST(q AS DOUBLE) AS q, CAST(n AS BIGINT) AS n_int
    FROM agg
)
SELECT n_int AS n_blocks,
    ROUND(s / n, 6) AS block_max_mean,
    ROUND(SQRT((q - n * (s / n) * (s / n)) / (n - 1.0) * 6.0)
          / {math.pi!r}, 6) AS gumbel_beta,
    ROUND(s / n - {GUMBEL_GAMMA!r}
          * (SQRT((q - n * (s / n) * (s / n)) / (n - 1.0) * 6.0)
             / {math.pi!r}), 6) AS gumbel_mu,
    ROUND(s / n - {GUMBEL_GAMMA!r}
          * (SQRT((q - n * (s / n) * (s / n)) / (n - 1.0) * 6.0)
             / {math.pi!r})
          - (SQRT((q - n * (s / n) * (s / n)) / (n - 1.0) * 6.0)
             / {math.pi!r}) * {_gumbel_c()!r}, 6)
        AS return_level_{GUMBEL_RETURN_T}
FROM d
"""


# ---------------------------------------------------------------------------
# agg_icc_design_effect — intra-cluster correlation + DEFF
# ---------------------------------------------------------------------------


def agg_icc_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-class correlation of order values within customers and
    the cluster-sampling DESIGN EFFECT — the number that tells a
    sampling plan how much information customer-clustered draws lose:
    DEFF = 1 + (m̄−1)·ICC means a DEFF of 1.5 needs 50% more sampled
    rows for the same variance as independent draws. The planning
    companion to ``sample_horvitz_thompson``'s estimation audit.

    ANOVA-estimator ICC from exact sums: MSB/MSW via the per-cluster
    (n_g, Σy, and global Σy²-in-decimal) moments — cluster grain is
    the only shuffle; Σ s_g²/n_g accumulates per-cluster as an exact
    micro-quantized integer (floor(10⁶·s²/n) per cluster — the same
    quantize-then-integer-sum policy as Theil's x·ln x, making the
    cluster-sum order-insensitive); m̄ uses the unequal-size
    correction m₀ = (N − Σn²/N)/(k−1).
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    cl = (
        o.select(F.col("o_custkey").alias("c"), y.alias("y"))
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("y").alias("s_g"),
            F.sum(F.col("y").cast("decimal(18,0)") * F.col("y")).alias(
                "q_g"
            ),
        )
    )
    m = cl.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(F.col("n_g").cast("decimal(38,0)") * F.col("n_g")).alias(
            "sn2"
        ),
        F.sum(
            F.expr(
                "CAST((1000000 * CAST(s_g AS DECIMAL(38,0)) * s_g)"
                " div n_g AS DECIMAL(38,0))"
            )
        ).alias("sg2n_micro"),
    )
    k = F.col("k").cast("double")
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    q = F.col("q").cast("double")
    sg = F.col("sg2n_micro").cast("double") / F.lit(1e6)
    ssb = sg - s * s / n
    ssw = q - sg
    msb = ssb / (k - 1.0)
    msw = ssw / (n - k)
    m0 = (n - F.col("sn2").cast("double") / n) / (k - 1.0)
    icc = (msb - msw) / (msb + (m0 - 1.0) * msw)
    deff = 1.0 + (m0 - 1.0) * icc
    return m.select(
        F.col("k").cast("long").alias("n_clusters"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(m0, 6).alias("m0_cluster_size"),
        F.round(icc, 6).alias("icc"),
        F.round(deff, 6).alias("design_effect"),
    )


_ICC_SQL = """
WITH cl AS (
    SELECT o_custkey AS c, COUNT(*) AS n_g,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS s_g,
           SUM(CAST(FLOOR(o_totalprice) AS HUGEINT)
               * CAST(FLOOR(o_totalprice) AS BIGINT)) AS q_g
    FROM orders GROUP BY 1
),
m AS (
    SELECT COUNT(*) AS k, SUM(n_g) AS n, SUM(s_g) AS s, SUM(q_g) AS q,
           SUM(CAST(n_g AS HUGEINT) * n_g) AS sn2,
           SUM((1000000 * CAST(s_g AS HUGEINT) * s_g) // n_g) AS sg2n_micro
    FROM cl
),
d AS (
    SELECT CAST(k AS DOUBLE) AS k, CAST(n AS DOUBLE) AS n,
           CAST(s AS DOUBLE) AS s, CAST(q AS DOUBLE) AS q,
           CAST(sg2n_micro AS DOUBLE) / 1000000.0 AS sg,
           CAST(sn2 AS DOUBLE) AS sn2,
           CAST(k AS BIGINT) AS k_int, CAST(n AS BIGINT) AS n_int
    FROM m
)
SELECT k_int AS n_clusters, n_int AS n_rows,
    ROUND((n - sn2 / n) / (k - 1.0), 6) AS m0_cluster_size,
    ROUND(((sg - s * s / n) / (k - 1.0) - (q - sg) / (n - k))
          / ((sg - s * s / n) / (k - 1.0)
             + ((n - sn2 / n) / (k - 1.0) - 1.0) * ((q - sg) / (n - k))),
          6) AS icc,
    ROUND(1.0 + ((n - sn2 / n) / (k - 1.0) - 1.0)
          * (((sg - s * s / n) / (k - 1.0) - (q - sg) / (n - k))
             / ((sg - s * s / n) / (k - 1.0)
                + ((n - sn2 / n) / (k - 1.0) - 1.0)
                  * ((q - sg) / (n - k)))),
          6) AS design_effect
FROM d
"""


# ---------------------------------------------------------------------------
# window_record_highs — running-record census vs the iid expectation
# ---------------------------------------------------------------------------


def window_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-high census of daily revenue: how many days set a new
    all-time high, when was the last record, and how does the count
    compare to the iid expectation H_n = Σ 1/i (≈ ln n + γ) — under
    exchangeability day i is a record with probability 1/i, so a
    record count far above H_n is direct evidence of TREND (growth
    keeps breaking highs), far below of early-peak decay. A two-line
    trend diagnostic that needs no model.

    Records are exact (strict running max over the day series);
    H_n is micro-quantized per day (10⁶ div i) then integer-summed —
    no float fold. Window over the day-grain reduced table.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    prev_max = F.max("x").over(seq.rowsBetween(Window.unboundedPreceding, -1))
    staged = daily.select(
        "day",
        "x",
        F.row_number().over(seq).alias("i"),
        (prev_max.isNull() | (F.col("x") > prev_max)).alias("is_record"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(F.col("is_record"), 1).otherwise(0))
        .cast("long")
        .alias("n_records"),
        F.max(F.when(F.col("is_record"), F.col("day"))).alias(
            "last_record_day"
        ),
        F.expr("sum(1000000 div i)").alias("expected_micro"),
    ).select(
        "n_days",
        "n_records",
        "last_record_day",
        "expected_micro",
        (
            F.col("n_records") * F.lit(1_000_000) > F.col("expected_micro")
        ).alias("trending"),
    )


_RECORD_HIGHS_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
staged AS (
    SELECT day, x,
        ROW_NUMBER() OVER (ORDER BY day) AS i,
        (MAX(x) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR x > MAX(x) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            AS is_record
    FROM daily
)
SELECT COUNT(*) AS n_days,
    CAST(SUM(CASE WHEN is_record THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
    MAX(CASE WHEN is_record THEN day END) AS last_record_day,
    CAST(SUM(1000000 // i) AS BIGINT) AS expected_micro,
    CAST(SUM(CASE WHEN is_record THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        > CAST(SUM(1000000 // i) AS BIGINT) AS trending
FROM staged
"""


# ---------------------------------------------------------------------------
# agg_lorenz_curve — decile cumulative-share table
# ---------------------------------------------------------------------------

LORENZ_DECILES = 10


def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend — the graphical companion to
    ``agg_theil_index``/``quality_source_gini``: per spend decile
    (customers ranked poorest→richest), the cumulative share of total
    spend; "the bottom 50% of customers hold 21% of revenue" is this
    table read aloud.

    Scale-safe decile assignment WITHOUT a corpus-grain sort: reduce
    to the whole-dollar spend-DISTINCT grid (domain-bounded), then
    split each grid row's customer count across the decile boundaries
    b_d = (d·N) div 10 by pure integer interval overlap — exact and
    shuffle-free beyond the grid window. Spend attribution within a
    grid row is exact because every customer on the row has the SAME
    value.
    """
    o = load(spark, sf_dir, "orders")
    cust = (
        o.select(
            F.col("o_custkey").alias("c"),
            F.floor("o_totalprice").cast("long").alias("y"),
        )
        .groupBy("c")
        .agg(F.sum("y").alias("v"))
    )
    grid = cust.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = grid.select(
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(cum), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(tot).alias("n"),
    )
    deciles = F.explode(
        F.array(*[F.lit(d) for d in range(LORENZ_DECILES)])
    ).alias("decile")
    exploded = stepped.select("v", "cnt", "cum_before", "n", deciles)
    lo = F.expr(f"(decile * n) div {LORENZ_DECILES}")
    hi = F.expr(f"((decile + 1) * n) div {LORENZ_DECILES}")
    overlap = F.greatest(
        F.lit(0),
        F.least(F.col("cum_before") + F.col("cnt"), hi)
        - F.greatest(F.col("cum_before"), lo),
    )
    per_decile = (
        exploded.select(
            "decile",
            overlap.alias("k"),
            (overlap.cast("decimal(38,0)") * F.col("v")).alias("spend"),
        )
        .groupBy("decile")
        .agg(
            F.sum("k").cast("long").alias("n_customers"),
            F.sum("spend").alias("spend"),
        )
    )
    cumw = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    totw = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_decile.select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            F.expr("CAST(spend AS BIGINT)").alias("decile_spend"),
            F.expr(
                "CAST((1000000 * CAST(sum(spend) OVER (ORDER BY decile"
                " ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)))"
                " div (sum(spend) OVER ()) AS BIGINT)"
            ).alias("cum_share_micro"),
        )
        .orderBy("decile")
    )


_LORENZ_SQL = f"""
WITH cust AS (
    SELECT o_custkey AS c,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS v
    FROM orders GROUP BY 1
),
grid AS (
    SELECT v, COUNT(*) AS cnt FROM cust GROUP BY v
),
stepped AS (
    SELECT v, cnt,
        COALESCE(SUM(cnt) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_before,
        SUM(cnt) OVER () AS n
    FROM grid
),
exploded AS (
    SELECT s.v, s.cnt, s.cum_before, s.n, d.decile
    FROM stepped s,
         (SELECT unnest(generate_series(0, {LORENZ_DECILES - 1}))
              AS decile) d
),
per_decile AS (
    SELECT decile,
        CAST(SUM(GREATEST(0, LEAST(cum_before + cnt,
                ((decile + 1) * n) // {LORENZ_DECILES})
            - GREATEST(cum_before, (decile * n) // {LORENZ_DECILES})))
            AS BIGINT) AS n_customers,
        SUM(CAST(GREATEST(0, LEAST(cum_before + cnt,
                ((decile + 1) * n) // {LORENZ_DECILES})
            - GREATEST(cum_before, (decile * n) // {LORENZ_DECILES}))
            AS HUGEINT) * v) AS spend
    FROM exploded
    GROUP BY decile
)
SELECT decile, n_customers,
    CAST(spend AS BIGINT) AS decile_spend,
    CAST((1000000 * CAST(SUM(spend) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) AS HUGEINT))
         // (SUM(spend) OVER ()) AS BIGINT) AS cum_share_micro
FROM per_decile
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# window_haar_wavelet_energy — multi-resolution energy decomposition
# ---------------------------------------------------------------------------

HAAR_LEVELS = 3


def window_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet decomposition of the daily-revenue
    series: per level ℓ ∈ 1..{HAAR_LEVELS}, the detail-coefficient
    energy Σd² at scale 2^ℓ days — the multi-resolution answer to
    "does revenue vary day-to-day, every few days, or weekly?" that a
    single variance or the ACF smears together. Dyadic truncation:
    each level pairs complete (even, odd) coefficient pairs and drops
    a trailing singleton (pinned convention).

    All integers: a = even+odd, d = even−odd, energies Σd² in
    decimal(38,0), emitted in 10⁶-unit buckets (div) so the output
    stays int64 at any plausible daily-total magnitude.

    Scale: day-grain reduce, then {HAAR_LEVELS} pair-reduce rounds on
    the geometrically SHRINKING coefficient table.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    cur = daily.select(
        (F.row_number().over(seq) - 1).alias("i"), F.col("x")
    )
    outs = []
    for lvl in range(1, HAAR_LEVELS + 1):
        paired = cur.select(
            F.expr("i div 2").alias("pi"),
            F.when(F.col("i") % 2 == 0, F.col("x")).alias("ev"),
            F.when(F.col("i") % 2 == 1, F.col("x")).alias("od"),
        ).groupBy("pi").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("ev").alias("ev"),
            F.max("od").alias("od"),
        ).where(F.col("cnt") == 2)
        # localCheckpoint (r12): each level's coefficients feed BOTH
        # the energy aggregate and the next level — without
        # materialization level ℓ's branch re-derives the entire chain
        # from the corpus (HAAR_LEVELS corpus reduces + a quadratic
        # replan); the table is day-grain and halves per level
        coeffs = paired.select(
            "pi",
            (F.col("ev") + F.col("od")).alias("a"),
            (F.col("ev") - F.col("od")).alias("d"),
        ).localCheckpoint(eager=False)
        outs.append(
            coeffs.agg(
                F.lit(lvl).cast("long").alias("level"),
                F.count(F.lit(1)).alias("n_coeffs"),
                F.expr(
                    "CAST(sum(CAST(d AS DECIMAL(38,0)) * d) div 1000000"
                    " AS BIGINT)"
                ).alias("detail_energy_1e6"),
            )
        )
        cur = coeffs.select(F.col("pi").alias("i"), F.col("a").alias("x"))
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out.orderBy("level")


def _haar_sql() -> str:
    ctes = ["""
daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
lvl0 AS (
    SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS i, x FROM daily
)"""]
    sels = []
    for lvl in range(1, HAAR_LEVELS + 1):
        ctes.append(f"""
pair{lvl} AS (
    SELECT i // 2 AS pi,
           MAX(CASE WHEN i % 2 = 0 THEN x END) AS ev,
           MAX(CASE WHEN i % 2 = 1 THEN x END) AS od,
           COUNT(*) AS cnt
    FROM lvl{lvl - 1} GROUP BY i // 2
),
coef{lvl} AS (
    SELECT pi, ev + od AS a, ev - od AS d FROM pair{lvl} WHERE cnt = 2
),
lvl{lvl} AS (
    SELECT pi AS i, a AS x FROM coef{lvl}
)""")
        sels.append(
            f"SELECT CAST({lvl} AS BIGINT) AS level,"
            f" COUNT(*) AS n_coeffs,"
            f" CAST(SUM(CAST(d AS HUGEINT) * d) // 1000000 AS BIGINT)"
            f" AS detail_energy_1e6 FROM coef{lvl}"
        )
    union = "\nUNION ALL\n".join(sels)
    return f"""
WITH {",".join(ctes)}
{union}
ORDER BY level
"""


# ---------------------------------------------------------------------------
# seq_markov_attribution — removal-effect channel attribution
# ---------------------------------------------------------------------------

MA_SCALE = 10**9
MA_ITERS = 16
MA_CHANNELS = ("click", "error", "signup", "view")


def _ma_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, c) journey-transition counts: per user,
    journeys split at each purchase; START→first touch, touch→touch,
    last touch→CONV (journey converted) or NULL (trailing touches),
    START→CONV for zero-touch conversions."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("j"),
    )
    touches = ordered.where(F.col("event_type") != "purchase")
    conv_j = (
        ordered.where(F.col("event_type") == "purchase")
        .select("user_id", "j")
        .distinct()
    )
    jw = Window.partitionBy("user_id", "j").orderBy("ts", "event_id")
    steps = touches.select(
        "user_id",
        "j",
        F.col("event_type").alias("from_t"),
        F.lead("event_type").over(jw).alias("next_t"),
        F.row_number().over(jw).alias("rn"),
    )
    start_edges = steps.where(F.col("rn") == 1).select(
        F.lit("START").alias("from_type"), F.col("from_t").alias("to_type")
    )
    mid_edges = steps.where(F.col("next_t").isNotNull()).select(
        F.col("from_t").alias("from_type"), F.col("next_t").alias("to_type")
    )
    last = steps.where(F.col("next_t").isNull())
    end_edges = last.join(conv_j, ["user_id", "j"], "left_semi").select(
        F.col("from_t").alias("from_type"), F.lit("CONV").alias("to_type")
    ).unionByName(
        last.join(conv_j, ["user_id", "j"], "left_anti").select(
            F.col("from_t").alias("from_type"),
            F.lit("NULL").alias("to_type"),
        )
    )
    zero_touch = conv_j.join(
        steps.select("user_id", "j").distinct(), ["user_id", "j"], "left_anti"
    ).select(
        F.lit("START").alias("from_type"), F.lit("CONV").alias("to_type")
    )
    return (
        start_edges.unionByName(mid_edges)
        .unionByName(end_edges)
        .unionByName(zero_touch)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _ma_absorb(edges: dict, removed: str | None) -> int:
    """K-step CONV-absorption probability from START (10⁹ fixed
    point) — the same integer recursion the oracle unrolls."""
    states = ["START", *MA_CHANNELS]
    v = {s: 0 for s in states}
    for _ in range(MA_ITERS):
        nv = {}
        for s in states:
            acc = 0
            for (f, t), p in edges.items():
                if f != s or t == removed:
                    continue
                if t == "CONV":
                    acc += p
                elif t in v:
                    acc += (p * v[t]) // MA_SCALE
            nv[s] = acc
        v = nv
    return v["START"]


def seq_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution — the DATA-DRIVEN channel
    attribution completing the trio (``agg_touch_attribution`` =
    positional rules, ``agg_shapley_attribution`` = cooperative game
    on coalitions): model journeys as a first-order chain, and credit
    each channel by how much the {MA_ITERS}-step conversion
    probability DROPS when that channel's edges are severed (the
    walker that would have entered it is lost, no renormalization —
    the standard removal-effect definition).

    The corpus pass (journey split + transition counts) is fully
    distributed; the chain itself is DOMAIN-BOUNDED (≤6×6), so the
    absorption recursion runs on the driver over the collected count
    table — the same bounded-collect pattern as ml_kmeans_lloyd's
    centroids — in exact 10⁹ fixed-point integers; the oracle unrolls
    the identical recursion as {MA_ITERS} chained CTEs per scenario.
    """
    counts = {
        (r["from_type"], r["to_type"]): r["c"]
        for r in _ma_transitions(spark, sf_dir).collect()
    }
    row_tot: dict[str, int] = {}
    for (f, _), c in counts.items():
        row_tot[f] = row_tot.get(f, 0) + c
    edges = {
        (f, t): (c * MA_SCALE) // row_tot[f] for (f, t), c in counts.items()
    }
    base = _ma_absorb(edges, None)
    rows = []
    effects = {}
    for ch in MA_CHANNELS:
        rem = _ma_absorb(edges, ch)
        effects[ch] = base - rem
    tot_eff = sum(effects.values())
    for ch in MA_CHANNELS:
        rem = base - effects[ch]
        rows.append(
            (
                ch,
                base,
                rem,
                (1_000_000 * effects[ch]) // base if base else 0,
                (1_000_000 * effects[ch]) // tot_eff if tot_eff else 0,
            )
        )
    out = spark.createDataFrame(
        rows,
        "channel string, base_conv_fp long, removed_conv_fp long,"
        " removal_effect_micro long, attribution_micro long",
    )
    return out.orderBy("channel")


def _markov_attribution_sql() -> str:
    states = ["START", *MA_CHANNELS]
    state_rows = " UNION ALL ".join(
        f"SELECT '{s}' AS state" for s in states
    )

    def scenario(tag: str, removed: str | None) -> str:
        rm = (
            f"AND e.to_type <> '{removed}'" if removed is not None else ""
        )
        ctes = [
            f"it_{tag}_0 AS (SELECT state, CAST(0 AS BIGINT) AS v"
            f" FROM states)"
        ]
        for k in range(1, MA_ITERS + 1):
            ctes.append(f"""
it_{tag}_{k} AS MATERIALIZED (
    SELECT s.state,
        CAST(COALESCE(SUM(CASE WHEN e.to_type = 'CONV' THEN e.p
                          ELSE COALESCE((e.p * v.v) // {MA_SCALE}, 0)
                     END), 0) AS BIGINT) AS v
    FROM states s
    LEFT JOIN edges e ON e.from_type = s.state {rm}
    LEFT JOIN it_{tag}_{k - 1} v ON v.state = e.to_type
    GROUP BY s.state
)""")
        return ",\n".join(ctes)

    scen_sql = [scenario("base", None)]
    for ch in MA_CHANNELS:
        scen_sql.append(scenario(ch, ch))
    scen_joined = ",\n".join(scen_sql)
    finals = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel,"
        f" (SELECT v FROM it_base_{MA_ITERS} WHERE state = 'START')"
        f" AS base_conv_fp,"
        f" (SELECT v FROM it_{ch}_{MA_ITERS} WHERE state = 'START')"
        f" AS removed_conv_fp"
        for ch in MA_CHANNELS
    )
    return f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
        COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS j
    FROM events
),
touches AS (
    SELECT user_id, j, event_type, ts, event_id
    FROM ordered WHERE event_type <> 'purchase'
),
conv_j AS (
    SELECT DISTINCT user_id, j FROM ordered WHERE event_type = 'purchase'
),
steps AS (
    SELECT user_id, j, event_type AS from_t,
        LEAD(event_type) OVER (PARTITION BY user_id, j
                               ORDER BY ts, event_id) AS next_t,
        ROW_NUMBER() OVER (PARTITION BY user_id, j
                           ORDER BY ts, event_id) AS rn
    FROM touches
),
trans AS (
    SELECT 'START' AS from_type, from_t AS to_type FROM steps WHERE rn = 1
    UNION ALL
    SELECT from_t, next_t FROM steps WHERE next_t IS NOT NULL
    UNION ALL
    SELECT s.from_t,
           CASE WHEN c.user_id IS NOT NULL THEN 'CONV' ELSE 'NULL' END
    FROM steps s
    LEFT JOIN conv_j c ON c.user_id = s.user_id AND c.j = s.j
    WHERE s.next_t IS NULL
    UNION ALL
    SELECT 'START', 'CONV'
    FROM conv_j c
    WHERE NOT EXISTS (SELECT 1 FROM steps s
                      WHERE s.user_id = c.user_id AND s.j = c.j)
),
counts AS (
    SELECT from_type, to_type, COUNT(*) AS c FROM trans GROUP BY 1, 2
),
edges AS (
    SELECT from_type, to_type,
        CAST((CAST(c AS HUGEINT) * {MA_SCALE})
             // SUM(c) OVER (PARTITION BY from_type) AS BIGINT) AS p
    FROM counts
),
states AS ({state_rows}),
{scen_joined},
finals AS ({finals})
SELECT channel, CAST(base_conv_fp AS BIGINT) AS base_conv_fp,
    CAST(removed_conv_fp AS BIGINT) AS removed_conv_fp,
    CAST(CASE WHEN base_conv_fp > 0
         THEN (1000000 * (base_conv_fp - removed_conv_fp)) // base_conv_fp
         ELSE 0 END AS BIGINT) AS removal_effect_micro,
    CAST(CASE
         WHEN (SELECT SUM(base_conv_fp - removed_conv_fp) FROM finals) > 0
         THEN (1000000 * (base_conv_fp - removed_conv_fp))
              // (SELECT SUM(f2.base_conv_fp - f2.removed_conv_fp)
                  FROM finals f2)
         ELSE 0 END AS BIGINT) AS attribution_micro
FROM finals
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# ml_score_separation_report — KS / Youden-J optimal threshold
# ---------------------------------------------------------------------------


def ml_score_separation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-separation report for the length-score classifier: the
    Kolmogorov–Smirnov separation between positive and negative score
    distributions and the Youden-J-optimal decision threshold (the
    two coincide for a score cutoff: KS = max over thresholds of
    TPR − FPR) plus the full confusion matrix AT that threshold — the
    missing piece after ``ml_auc_roc`` says "it ranks well": WHERE to
    actually cut. Credit-scoring KS and clinical Youden are the same
    computation; both come free from the cumulative grid.

    Integer micro-units throughout: TPR/FPR by truncating division
    over the ≤1001-row score-distinct grid; the optimum is the
    SMALLEST threshold attaining max J (pinned tie-break).
    """
    d = load(spark, sf_dir, "documents")
    conf = F.least(
        F.lit(1_000_000),
        F.expr(f"(1000000 * n_chars) div {ECE_SCALE_CHARS}"),
    )
    label = F.array_contains(tokens_col("text"), "data")
    grid = (
        d.select(conf.alias("s"), F.when(label, 1).otherwise(0).alias("y"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_k"),
            F.sum("y").cast("long").alias("p_k"),
        )
    )
    cum = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = grid.select(
        "s",
        F.sum("p_k").over(cum).alias("tp"),
        (F.sum("n_k").over(cum) - F.sum("p_k").over(cum)).alias("fp"),
        F.sum("p_k").over(tot).alias("pos"),
        (F.sum("n_k").over(tot) - F.sum("p_k").over(tot)).alias("neg"),
    ).select(
        "s",
        "tp",
        "fp",
        "pos",
        "neg",
        (
            F.expr("(1000000 * tp) div pos")
            - F.expr("(1000000 * fp) div neg")
        ).alias("j_micro"),
    )
    best = (
        stepped.orderBy(F.desc("j_micro"), F.asc("s"))
        .limit(1)
        .select(
            F.col("s").alias("threshold_micro"),
            F.col("j_micro").alias("ks_youden_micro"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("pos") - F.col("tp")).cast("long").alias("fn"),
            (F.col("neg") - F.col("fp")).cast("long").alias("tn"),
            F.expr(
                "(1000000 * (tp + (neg - fp))) div (pos + neg)"
            ).alias("acc_micro"),
        )
    )
    return best


_SCORE_SEP_SQL = f"""
WITH grid AS (
    SELECT LEAST(1000000, (1000000 * n_chars) // {ECE_SCALE_CHARS}) AS s,
        COUNT(*) AS n_k,
        CAST(SUM(CASE WHEN list_contains({sql_tokens("text")}, 'data')
                      THEN 1 ELSE 0 END) AS BIGINT) AS p_k
    FROM documents
    GROUP BY 1
),
stepped AS (
    SELECT s,
        CAST(SUM(p_k) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS tp,
        CAST(SUM(n_k) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
             - SUM(p_k) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS fp,
        CAST(SUM(p_k) OVER () AS BIGINT) AS pos,
        CAST(SUM(n_k) OVER () - SUM(p_k) OVER () AS BIGINT) AS neg
    FROM grid
),
scored AS (
    SELECT *,
        (1000000 * tp) // pos - (1000000 * fp) // neg AS j_micro
    FROM stepped
)
SELECT s AS threshold_micro, j_micro AS ks_youden_micro,
       tp, fp, pos - tp AS fn, neg - fp AS tn,
       (1000000 * (tp + (neg - fp))) // (pos + neg) AS acc_micro
FROM scored
ORDER BY j_micro DESC, s ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# agg_market_concentration — HHI + CR4 per region
# ---------------------------------------------------------------------------


def agg_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration report per region: the Herfindahl–
    Hirschman Index (Σ share², in the regulator's 0–10000 points
    scale — >2500 = "highly concentrated" under the DOJ merger
    guidelines) and the CR4 top-4 concentration ratio of order
    revenue across the region's nations. The concentration view that
    complements ``agg_theil_index``'s inequality view — and the
    standard corpus-governance readout when "nation" is a data
    source ("is this region's corpus dominated by 4 feeds?").

    Shares are basis points by truncating division, HHI an integer
    sum of their squares; CR4 is the cumulative share of the top-4
    rank window over the ≤25-row (region, nation) reduced table.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n_t = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey"
    )
    r_t = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.select("o_custkey", F.floor("o_totalprice").cast("long").alias("y"))
        .join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(n_t), "c_nationkey")
        .join(
            F.broadcast(r_t),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(F.sum("y").alias("x"))
    )
    rw = Window.partitionBy("r_name")
    share_bp = F.expr(
        "(10000 * x) div (sum(x) OVER (PARTITION BY r_name))"
    )
    rnk = F.row_number().over(
        rw.orderBy(F.desc("x"), F.asc("n_name"))
    )
    staged = rev.select(
        "r_name",
        share_bp.alias("bp"),
        rnk.alias("rnk"),
    )
    return (
        staged.groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum(F.col("bp") * F.col("bp")).alias("hhi_x10000"),
            F.sum(F.when(F.col("rnk") <= 4, F.col("bp")).otherwise(0))
            .cast("long")
            .alias("cr4_bp"),
        )
        .select(
            "r_name",
            "n_nations",
            F.expr("hhi_x10000 div 10000").alias("hhi_points"),
            "cr4_bp",
            (F.expr("hhi_x10000 div 10000") > 2500).alias(
                "highly_concentrated"
            ),
        )
        .orderBy("r_name")
    )


_MARKET_CONC_SQL = """
WITH rev AS (
    SELECT r.r_name, n.n_name,
           SUM(CAST(FLOOR(o.o_totalprice) AS BIGINT)) AS x
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
),
staged AS (
    SELECT r_name,
        (10000 * x) // CAST(SUM(x) OVER (PARTITION BY r_name) AS BIGINT)
            AS bp,
        ROW_NUMBER() OVER (PARTITION BY r_name
                           ORDER BY x DESC, n_name ASC) AS rnk
    FROM rev
)
SELECT r_name, COUNT(*) AS n_nations,
    CAST(SUM(bp * bp) AS BIGINT) // 10000 AS hhi_points,
    CAST(SUM(CASE WHEN rnk <= 4 THEN bp ELSE 0 END) AS BIGINT) AS cr4_bp,
    CAST(SUM(bp * bp) AS BIGINT) // 10000 > 2500 AS highly_concentrated
FROM staged
GROUP BY r_name
ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# ml_reciprocal_rank_fusion — hybrid-retrieval rank combiner
# ---------------------------------------------------------------------------

RRF_K = 60  # the published RRF damping constant
RRF_POOL = 50  # per-ranker candidate pool
RRF_TOPK = 10
RRF_QUERY = ("data", "query", "table")


def ml_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al.) — THE standard
    hybrid-search combiner: two retrievers rank documents for the
    same query (A: raw query-term hit count — a BM25-ish lexical
    signal; B: hit DENSITY per token — a length-normalized signal),
    and RRF merges them by Σ 1/(k + rank) with k={RRF_K}, which
    outperforms score-level fusion because it never has to calibrate
    incomparable score scales.

    1/(k+rank) is micro-quantized by truncating division (10⁶ div
    (k+r)) so the fused score is an exact integer sum; ranks break
    ties on doc_id; documents missing from a pool contribute 0 from
    that ranker (standard convention).

    Scale: each ranker is one corpus pass + TakeOrderedAndProject to
    its {RRF_POOL}-row pool; ranking windows run over the pooled
    rows only; the fusion join is pool-sized.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = tokens_col("text")
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*RRF_QUERY))
    ).cast("long")
    base = d.select(
        "doc_id",
        hits.alias("hits"),
        F.size(toks).cast("long").alias("n_toks"),
    ).where(F.col("hits") > 0)
    pool_a = base.orderBy(
        F.desc("hits"), F.asc("doc_id")
    ).limit(RRF_POOL)
    dens = F.expr("(1000000 * hits) div n_toks")
    pool_b = base.select(
        "doc_id", dens.alias("dens")
    ).orderBy(F.desc("dens"), F.asc("doc_id")).limit(RRF_POOL)
    ra = pool_a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("hits"), F.asc("doc_id")))
        .alias("rank_a"),
    )
    rb = pool_b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("dens"), F.asc("doc_id")))
        .alias("rank_b"),
    )
    fused = ra.join(rb, "doc_id", "full").select(
        "doc_id",
        "rank_a",
        "rank_b",
        (
            F.coalesce(
                F.expr(f"1000000 div ({RRF_K} + rank_a)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 div ({RRF_K} + rank_b)"), F.lit(0)
            )
        ).alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(
        RRF_TOPK
    )


def _rrf_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in RRF_QUERY)
    return f"""
WITH base AS (
    SELECT doc_id,
        CAST(len(list_filter(toks, t -> list_contains([{terms}], t)))
             AS BIGINT) AS hits,
        CAST(len(toks) AS BIGINT) AS n_toks
    FROM (SELECT doc_id, {sql_tokens("text")} AS toks FROM documents)
),
pos AS (SELECT * FROM base WHERE hits > 0),
ra AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY hits DESC, doc_id ASC)
                AS INTEGER) AS rank_a
    FROM pos
    QUALIFY rank_a <= {RRF_POOL}
),
rb AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY (1000000 * hits) // n_toks DESC, doc_id ASC)
                AS INTEGER) AS rank_b
    FROM pos
    QUALIFY rank_b <= {RRF_POOL}
)
SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, ra.rank_a, rb.rank_b,
       CAST(COALESCE(1000000 // ({RRF_K} + ra.rank_a), 0)
        + COALESCE(1000000 // ({RRF_K} + rb.rank_b), 0) AS BIGINT)
           AS rrf_micro
FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT {RRF_TOPK}
"""


# ---------------------------------------------------------------------------
# agg_capture_recapture — Lincoln–Petersen/Chapman universe estimate
# ---------------------------------------------------------------------------


def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture–recapture (Chapman-corrected Lincoln–Petersen): two
    independent hash-sampled "crawls" of the corpus estimate the
    TOTAL universe size from overlap alone — N̂ = (n₁+1)(n₂+1)/(m+1)−1
    — the estimator crawl teams use to answer "how many documents
    exist out there" and dedup teams use to size the undiscovered
    remainder. Both capture flags are per-row hash predicates, so the
    whole op is ONE conditional aggregate: no join, no shuffle beyond
    the single reduce; the truth column makes it a self-auditing
    demo of estimator bias at the tested scale.
    """
    d = load(spark, sf_dir, "documents")
    c1 = hash32(F.concat(F.col("doc_id").cast("string"), F.lit("|c1"))) % 2 == 0
    c2 = hash32(F.concat(F.col("doc_id").cast("string"), F.lit("|c2"))) % 2 == 0
    m = d.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.when(c1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(c2, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(c1 & c2, 1).otherwise(0)).cast("long").alias("m"),
    )
    # decimal product: (n1+1)(n2+1) crosses int64 past ~3e9 captures
    est = F.expr(
        "CAST((CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1)) div (m + 1) - 1"
        " AS BIGINT)"
    )
    return m.select(
        "n_true",
        "n1",
        "n2",
        "m",
        est.alias("n_estimated"),
        F.expr(
            "(1000000 * abs(CAST((CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1))"
            " div (m + 1) - 1 AS BIGINT) - n_true)) div n_true"
        ).alias("rel_err_micro"),
    )


def _capture_recapture_sql() -> str:
    c1 = sql_hash32("CAST(doc_id AS VARCHAR) || '|c1'")
    c2 = sql_hash32("CAST(doc_id AS VARCHAR) || '|c2'")
    return f"""
WITH m AS (
    SELECT COUNT(*) AS n_true,
        CAST(SUM(CASE WHEN {c1} % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN {c2} % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN {c1} % 2 = 0 AND {c2} % 2 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS m
    FROM documents
)
SELECT n_true, n1, n2, m,
    CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1 AS BIGINT)
        AS n_estimated,
    (1000000 * ABS(CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1
                        AS BIGINT) - n_true))
        // n_true AS rel_err_micro
FROM m
"""


# ---------------------------------------------------------------------------
# quality_krippendorff_alpha — multi-rater nominal agreement
# ---------------------------------------------------------------------------

KRIPP_LANGS = ("de", "en", "es", "fr", "unknown")


def quality_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's α (nominal) across THREE raters — the
    agreement coefficient that generalizes ``agg_cohen_kappa`` beyond
    two raters (the label-QA standard once annotation fans out):
    rater A = the 5-marker langid, rater B = the majority-class
    baseline, rater C = a strongest-single-marker variant. Low α here
    means the cheap classifiers disagree too much for any of them to
    serve as silver labels.

    Exact rational α: with m=3 raters and N = 3·units ratings,
    α = 1 − (N−1)·D₂ / (2·(N² − Σn_c²)) where D₂ counts disagreeing
    ORDERED pairs per unit (2·Σ pairwise ≠, an integer) and n_c are
    per-category rating counts over the LITERAL language domain —
    one conditional-aggregation corpus pass, α in integer micro-units
    by truncating division.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    single = {"en": ["the"], "es": ["el"], "fr": ["les"], "de": ["der"]}
    # both raters read the same tokens: split once, classify twice
    raters = bind(
        tokens_col("text"),
        lambda t: F.struct(
            marker_langid(t).pred.alias("ra"), marker_langid(t, single).pred.alias("rc")
        ),
    )
    rated = d.select(raters.alias("r")).select(
        "r.ra", F.lit("en").alias("rb"), "r.rc"
    )
    d2 = (
        2
        * (
            (F.col("ra") != F.col("rb")).cast("long")
            + (F.col("ra") != F.col("rc")).cast("long")
            + (F.col("rb") != F.col("rc")).cast("long")
        )
    )
    aggs = [F.count(F.lit(1)).alias("units"), F.sum(d2).alias("d2")]
    for c in KRIPP_LANGS:
        aggs.append(
            F.sum(
                (F.col("ra") == c).cast("long")
                + (F.col("rb") == c).cast("long")
                + (F.col("rc") == c).cast("long")
            ).alias(f"n_{c}")
        )
    m = rated.agg(*aggs)
    n_total = sum((F.col(f"n_{c}") for c in KRIPP_LANGS), F.lit(0))
    sum_nc2 = sum(
        (
            F.col(f"n_{c}").cast("decimal(38,0)") * F.col(f"n_{c}")
            for c in KRIPP_LANGS
        ),
        F.lit(0).cast("decimal(38,0)"),
    )
    staged = m.select(
        "units",
        "d2",
        n_total.alias("n"),
        sum_nc2.alias("nc2"),
    )
    alpha_micro = F.expr(
        "1000000 - CAST((1000000 * CAST(n - 1 AS DECIMAL(38,0)) * d2)"
        " div (2 * (CAST(n AS DECIMAL(38,0)) * n - nc2)) AS BIGINT)"
    )
    return staged.select(
        F.col("units").cast("long").alias("n_units"),
        F.col("n").cast("long").alias("n_ratings"),
        F.col("d2").cast("long").alias("d2_disagreements"),
        alpha_micro.alias("alpha_micro"),
        (alpha_micro >= 800_000).alias("reliable"),
    )


def _krippendorff_sql() -> str:
    def sc(markers: list[str]) -> str:
        m = ", ".join(f"'{x}'" for x in markers)
        return (
            f"CAST(len(list_filter(toks, t -> list_contains([{m}], t)))"
            f" AS BIGINT)"
        )

    multi = {
        "en": ["the", "a", "of", "and", "to"],
        "es": ["el", "la", "de", "que", "y"],
        "fr": ["le", "la", "les", "et", "une"],
        "de": ["der", "die", "das", "und", "ein"],
    }
    single = {"en": ["the"], "es": ["el"], "fr": ["les"], "de": ["der"]}

    def classify(markers: dict[str, list[str]]) -> str:
        en, es, fr, de = (sc(markers[k]) for k in ("en", "es", "fr", "de"))
        return f"""CASE
            WHEN {en} >= GREATEST({es}, {fr}, {de}) AND {en} > 0 THEN 'en'
            WHEN {es} >= GREATEST({fr}, {de}) AND {es} > 0 THEN 'es'
            WHEN {fr} >= {de} AND {fr} > 0 THEN 'fr'
            WHEN {de} > 0 THEN 'de'
            ELSE 'unknown'
        END"""

    ncols = ",\n        ".join(
        f"SUM((CASE WHEN ra = '{c}' THEN 1 ELSE 0 END)"
        f" + (CASE WHEN rb = '{c}' THEN 1 ELSE 0 END)"
        f" + (CASE WHEN rc = '{c}' THEN 1 ELSE 0 END)) AS n_{c}"
        for c in KRIPP_LANGS
    )
    n_total = " + ".join(f"n_{c}" for c in KRIPP_LANGS)
    nc2 = " + ".join(
        f"CAST(n_{c} AS HUGEINT) * n_{c}" for c in KRIPP_LANGS
    )
    return f"""
WITH rated AS (
    SELECT {classify(multi)} AS ra,
           'en' AS rb,
           {classify(single)} AS rc
    FROM (SELECT {sql_tokens("text")} AS toks FROM documents)
),
m AS (
    SELECT COUNT(*) AS units,
        CAST(SUM(2 * ((CASE WHEN ra <> rb THEN 1 ELSE 0 END)
                      + (CASE WHEN ra <> rc THEN 1 ELSE 0 END)
                      + (CASE WHEN rb <> rc THEN 1 ELSE 0 END)))
             AS BIGINT) AS d2,
        {ncols}
    FROM rated
),
staged AS (
    SELECT units, d2,
        CAST({n_total} AS BIGINT) AS n,
        ({nc2}) AS nc2
    FROM m
)
SELECT CAST(units AS BIGINT) AS n_units, n AS n_ratings,
    d2 AS d2_disagreements,
    1000000 - CAST((1000000 * CAST(n - 1 AS HUGEINT) * d2)
        // (2 * (CAST(n AS HUGEINT) * n - nc2)) AS BIGINT) AS alpha_micro,
    (1000000 - CAST((1000000 * CAST(n - 1 AS HUGEINT) * d2)
        // (2 * (CAST(n AS HUGEINT) * n - nc2)) AS BIGINT)) >= 800000
        AS reliable
FROM staged
"""


# ---------------------------------------------------------------------------
# agg_cochran_armitage — trend test for proportions over ordered groups
# ---------------------------------------------------------------------------


def agg_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the FULFILLED-order rate
    rise or fall MONOTONICALLY across the ordered priority classes
    (scores 1..5)? The χ² independence test (``agg_chi_square_
    independence``) answers "is there any association"; this one
    spends its single degree of freedom on the ordered alternative —
    far more power when the suspicion is a dose-response trend.

    T = Σ sᵢ(rᵢ − nᵢ·R/N) exactified as N·T = Σ sᵢ(N·rᵢ − nᵢ·R);
    Var(N·T) = R(N−R)·[N·Σ sᵢ²nᵢ − (Σ sᵢnᵢ)²] / N — every bracket an
    exact decimal integer; z derives in double from the exact
    operands and rounds to 6dp. One conditional-aggregation pass over
    the literal priority domain; no shuffle beyond the single agg.
    """
    o = load(spark, sf_dir, "orders")
    k = len(ANOVA_PRIORITIES)
    aggs = []
    for i, p in enumerate(ANOVA_PRIORITIES):
        is_p = F.col("o_orderpriority") == p
        aggs.append(F.sum(F.when(is_p, 1).otherwise(0)).alias(f"n{i}"))
        aggs.append(
            F.sum(
                F.when(is_p & (F.col("o_orderstatus") == "F"), 1).otherwise(0)
            ).alias(f"r{i}")
        )
    m = o.agg(*aggs)
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    n_tot = sum((F.col(f"n{i}") for i in range(k)), F.lit(0))
    r_tot = sum((F.col(f"r{i}") for i in range(k)), F.lit(0))
    s_n = sum(
        (F.lit(i + 1) * F.col(f"n{i}") for i in range(k)), F.lit(0)
    )
    s2_n = sum(
        (F.lit((i + 1) ** 2) * F.col(f"n{i}") for i in range(k)), F.lit(0)
    )
    s_r = sum(
        (F.lit(i + 1) * F.col(f"r{i}") for i in range(k)), F.lit(0)
    )
    staged = m.select(
        n_tot.alias("n"),
        r_tot.alias("r"),
        s_n.alias("sn"),
        s2_n.alias("s2n"),
        s_r.alias("sr"),
    )
    nt = dec38(F.col("n"))
    t_scaled = nt * F.col("sr") - dec38(F.col("sn")) * F.col("r")  # = N·T
    var_scaled = (
        dec38(F.col("r"))
        * (F.col("n") - F.col("r"))
        * (nt * F.col("s2n") - dec38(F.col("sn")) * F.col("sn"))
    )  # = N³·Var(T) = N·Var(N·T)·... (z uses the ratio below)
    # z = N·T / sqrt(N · [R(N−R)(N·Σs²n − (Σsn)²)] / N) — algebra:
    # z = T/√Var(T) with Var(T) = R(N−R)[NΣs²n−(Σsn)²]/N³
    z = t_scaled.cast("double") / F.sqrt(
        var_scaled.cast("double") / F.col("n").cast("double")
    )
    return staged.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("r").cast("long").alias("n_success"),
        F.round(z, 6).alias("z_trend"),
        (F.abs(F.round(z, 6)) > F.lit(1.959964)).alias("significant"),
    )


def _cochran_armitage_sql() -> str:
    k = len(ANOVA_PRIORITIES)
    cols = []
    for i, p in enumerate(ANOVA_PRIORITIES):
        cols.append(
            f"SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS n{i}"
        )
        cols.append(
            f"SUM(CASE WHEN o_orderpriority = '{p}'"
            f" AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS r{i}"
        )
    n_tot = " + ".join(f"n{i}" for i in range(k))
    r_tot = " + ".join(f"r{i}" for i in range(k))
    s_n = " + ".join(f"{i + 1} * n{i}" for i in range(k))
    s2_n = " + ".join(f"{(i + 1) ** 2} * n{i}" for i in range(k))
    s_r = " + ".join(f"{i + 1} * r{i}" for i in range(k))
    return f"""
WITH m AS (
    SELECT {", ".join(cols)} FROM orders
),
staged AS (
    SELECT CAST({n_tot} AS BIGINT) AS n, CAST({r_tot} AS BIGINT) AS r,
           CAST({s_n} AS BIGINT) AS sn, CAST({s2_n} AS BIGINT) AS s2n,
           CAST({s_r} AS BIGINT) AS sr
    FROM m
)
SELECT n AS n_rows, r AS n_success,
    ROUND(CAST(CAST(n AS HUGEINT) * sr - CAST(sn AS HUGEINT) * r AS DOUBLE)
          / SQRT(CAST(CAST(r AS HUGEINT) * (n - r)
                      * (CAST(n AS HUGEINT) * s2n
                         - CAST(sn AS HUGEINT) * sn) AS DOUBLE)
                 / CAST(n AS DOUBLE)), 6) AS z_trend,
    ABS(ROUND(CAST(CAST(n AS HUGEINT) * sr
                   - CAST(sn AS HUGEINT) * r AS DOUBLE)
          / SQRT(CAST(CAST(r AS HUGEINT) * (n - r)
                      * (CAST(n AS HUGEINT) * s2n
                         - CAST(sn AS HUGEINT) * sn) AS DOUBLE)
                 / CAST(n AS DOUBLE)), 6)) > 1.959964 AS significant
FROM staged
"""


# ---------------------------------------------------------------------------
# agg_levene_test — Brown–Forsythe variance-homogeneity test
# ---------------------------------------------------------------------------


def agg_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene's test with group MEDIANS): do the
    priority classes have equal VARIANCE — the homogeneity assumption
    ``agg_anova_oneway`` quietly makes, checked the robust way (median
    centers keep the test honest under the heavy right tail money data
    always has; mean-centered Levene inflates there).

    Group medians are exact over the per-group value-distinct grid
    (LOWER median: smallest v with 2·cum ≥ n — a pinned deterministic
    convention, no interpolation); |y − median_g| is then an exact
    integer per row, and the second pass is the standard ANOVA F on
    those deviations with the Σ over the literal priority domain
    written fixed-order (the float-over-groups gotcha).

    Scale: two passes — a value-grain reduce for the medians (the
    5-row result broadcast back), then one conditional-aggregation
    pass. No corpus-size window, no join wider than 5 rows.
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    base = o.select(F.col("o_orderpriority").alias("g"), y.alias("y"))
    grid = base.groupBy("g", "y").agg(F.count(F.lit(1)).alias("cnt"))
    cw = (
        Window.partitionBy("g")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gw = Window.partitionBy("g")
    meds = (
        grid.select(
            "g",
            "y",
            F.sum("cnt").over(cw).alias("cum"),
            F.sum("cnt").over(gw).alias("n_g"),
        )
        .where(2 * F.col("cum") >= F.col("n_g"))
        .groupBy("g")
        .agg(F.min("y").alias("med"))
    )
    dev = base.join(F.broadcast(meds), "g").select(
        "g", F.abs(F.col("y") - F.col("med")).alias("z")
    )
    k = len(ANOVA_PRIORITIES)
    aggs = []
    for i, p in enumerate(ANOVA_PRIORITIES):
        is_p = F.col("g") == p
        aggs.append(F.sum(F.when(is_p, 1).otherwise(0)).alias(f"n{i}"))
        aggs.append(F.sum(F.when(is_p, F.col("z")).otherwise(0)).alias(f"s{i}"))
    aggs.append(
        F.sum(F.col("z").cast("decimal(18,0)") * F.col("z")).alias("qq")
    )
    m = dev.agg(*aggs)
    nn = sum((F.col(f"n{i}").cast("double") for i in range(k)), F.lit(0.0))
    sg = sum(
        (
            F.col(f"s{i}").cast("double")
            * F.col(f"s{i}").cast("double")
            / F.col(f"n{i}").cast("double")
            for i in range(k)
        ),
        F.lit(0.0),
    )
    ss = sum((F.col(f"s{i}").cast("double") for i in range(k)), F.lit(0.0))
    qq = F.col("qq").cast("double")
    ssb = sg - ss * ss / nn
    ssw = qq - sg
    f_stat = (ssb / (k - 1.0)) / (ssw / (nn - k))
    return m.select(
        nn.cast("long").alias("n_rows"),
        F.lit(k - 1).cast("long").alias("df_between"),
        F.round(f_stat, 6).alias("bf_stat"),
        # F(4, inf) 5% critical value — fixed literal in both engines
        (f_stat > F.lit(2.372)).alias("heteroscedastic"),
    )


def _levene_sql() -> str:
    k = len(ANOVA_PRIORITIES)
    cols = []
    for i, p in enumerate(ANOVA_PRIORITIES):
        cols.append(f"SUM(CASE WHEN g = '{p}' THEN 1 ELSE 0 END) AS n{i}")
        cols.append(f"SUM(CASE WHEN g = '{p}' THEN z ELSE 0 END) AS s{i}")
    nn = " + ".join(f"CAST(n{i} AS DOUBLE)" for i in range(k))
    ss = " + ".join(f"CAST(s{i} AS DOUBLE)" for i in range(k))
    sg = " + ".join(
        f"CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        for i in range(k)
    )
    return f"""
WITH base AS (
    SELECT o_orderpriority AS g, CAST(FLOOR(o_totalprice) AS BIGINT) AS y
    FROM orders
),
grid AS (
    SELECT g, y, COUNT(*) AS cnt FROM base GROUP BY g, y
),
meds AS (
    SELECT g, MIN(y) AS med FROM (
        SELECT g, y,
               SUM(cnt) OVER (PARTITION BY g ORDER BY y
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY g) AS n_g
        FROM grid
    ) WHERE 2 * cum >= n_g
    GROUP BY g
),
dev AS (
    SELECT b.g, ABS(b.y - m.med) AS z
    FROM base b JOIN meds m ON m.g = b.g
),
m AS (
    SELECT {", ".join(cols)},
           SUM(CAST(z AS HUGEINT) * z) AS qq
    FROM dev
),
d AS (
    SELECT ({nn}) AS nn, ({ss}) AS ss, ({sg}) AS sg,
           CAST(qq AS DOUBLE) AS qq
    FROM m
)
SELECT CAST(nn AS BIGINT) AS n_rows, CAST({k - 1} AS BIGINT) AS df_between,
       ROUND(((sg - ss * ss / nn) / ({k}.0 - 1.0))
             / ((qq - sg) / (nn - {k}.0)), 6) AS bf_stat,
       ((sg - ss * ss / nn) / ({k}.0 - 1.0))
           / ((qq - sg) / (nn - {k}.0)) > 2.372 AS heteroscedastic
FROM d
"""


# ---------------------------------------------------------------------------
# agg_benjamini_hochberg — FDR-controlled multiple-testing screen
# ---------------------------------------------------------------------------

BH_ALPHA_MICRO = 50_000  # α = 0.05
BH_M = 25  # one test per nation


def _erfinv(y: float) -> float:
    """Inverse error function by Newton iteration on math.erf —
    build-time only: the per-rank z thresholds are embedded as the
    SAME literals in the Spark plan and the oracle SQL, so there is
    no cross-engine transcendental at query time."""
    import math

    x = 0.0 if y == 0 else math.copysign(
        math.sqrt(-math.log((1 - abs(y)) * (1 + abs(y)))), y
    )
    for _ in range(60):
        err = math.erf(x) - y
        x -= err * math.sqrt(math.pi) / 2 * math.exp(x * x)
    return x


def _bh_thresholds() -> list[float]:
    """z threshold per BH rank r: |z| >= Phi^-1(1 - (r·α/m)/2) is
    equivalent to the two-sided p-value ≤ r·α/m (the step-up line)."""
    import math

    out = []
    for r in range(1, BH_M + 1):
        t = r * (BH_ALPHA_MICRO / 1e6) / BH_M
        out.append(round(math.sqrt(2.0) * _erfinv(1.0 - t), 9))
    return out


def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR screen over 25 simultaneous per-nation
    Welch z-tests ("which nations' order values differ from the rest")
    — the multiple-testing control every metrics platform needs once
    it tests more than a handful of segments (25 uncorrected α=.05
    tests fire ~1.2 false positives per run; Bonferroni over-corrects;
    BH controls the false-DISCOVERY rate).

    No transcendental inversion at query time: the per-rank critical
    z values Φ⁻¹(1−rα/2m) are Newton-computed ONCE in Python and
    embedded as identical literals in both engines, so the step-up
    test |z|₍ᵣ₎ ≥ z_crit(r) is an exact float comparison on identical
    operands. Moments are exact decimal sums; ranks break ties on the
    nation name; the step-up "reject all ranks ≤ max passing r" is a
    cumulative max over the 25-row reduced table.

    Scale: one conditional-aggregation pass to 25×3 scalars (the
    nation domain is literal), windows only over 25 rows.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n_t = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    y = F.floor("o_totalprice").cast("long")
    base = (
        o.select("o_custkey", y.alias("y"))
        .join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(n_t), "c_nationkey")
        .select("n_name", "y")
    )
    dec18 = lambda col: col.cast("decimal(18,0)")  # noqa: E731
    g = base.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("y").alias("sg"),
        F.sum(dec18(F.col("y")) * F.col("y")).alias("qg"),
    )
    tot = g.agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ng = F.col("ng").cast("double")
    nr = (F.col("n") - F.col("ng")).cast("double")
    mg = F.col("sg").cast("double") / ng
    mr = (F.col("s") - F.col("sg")).cast("double") / nr
    varg = (F.col("qg").cast("double") - ng * mg * mg) / (ng - 1.0)
    varr = (
        (F.col("q") - F.col("qg")).cast("double") - nr * mr * mr
    ) / (nr - 1.0)
    z = (mg - mr) / F.sqrt(varg / ng + varr / nr)
    scored = j.select(
        "n_name",
        F.col("ng").cast("long").alias("n_orders"),
        F.round(z, 6).alias("z"),
        F.abs(F.round(z, 6)).alias("az"),
    )
    rw = Window.orderBy(F.desc("az"), F.asc("n_name"))
    thresholds = _bh_thresholds()
    crit = F.element_at(
        F.lit(thresholds), F.col("rank").cast("int")
    )
    ranked = scored.select(
        "n_name",
        "n_orders",
        "z",
        "az",
        F.row_number().over(rw).cast("long").alias("rank"),
    ).select(
        "n_name",
        "n_orders",
        "z",
        "rank",
        crit.alias("z_crit"),
        (F.col("az") >= crit).alias("raw_pass"),
    )
    # step-up: reject every rank <= the LARGEST passing rank
    su = Window.orderBy(F.desc("rank")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = ranked.select(
        "n_name",
        "n_orders",
        "z",
        "rank",
        "z_crit",
        "raw_pass",
        (
            F.max(F.when(F.col("raw_pass"), F.col("rank")).otherwise(0)).over(
                su
            )
            >= F.col("rank")
        ).alias("bh_reject"),
    )
    return out.orderBy("rank")


def _bh_sql() -> str:
    thresholds = _bh_thresholds()
    crit_list = "[" + ", ".join(repr(t) for t in thresholds) + "]"
    return f"""
WITH base AS (
    SELECT n.n_name, CAST(FLOOR(o.o_totalprice) AS BIGINT) AS y
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
),
g AS (
    SELECT n_name, COUNT(*) AS ng, SUM(y) AS sg,
           SUM(CAST(y AS HUGEINT) * y) AS qg
    FROM base GROUP BY 1
),
tot AS (
    SELECT SUM(ng) AS n, SUM(sg) AS s, SUM(qg) AS q FROM g
),
scored AS (
    SELECT n_name, CAST(ng AS BIGINT) AS n_orders,
        ROUND((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
               - CAST(s - sg AS DOUBLE) / CAST(n - ng AS DOUBLE))
              / SQRT(((CAST(qg AS DOUBLE)
                       - CAST(ng AS DOUBLE)
                         * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                         * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)))
                      / (CAST(ng AS DOUBLE) - 1.0)) / CAST(ng AS DOUBLE)
                     + ((CAST(q - qg AS DOUBLE)
                         - CAST(n - ng AS DOUBLE)
                           * (CAST(s - sg AS DOUBLE) / CAST(n - ng AS DOUBLE))
                           * (CAST(s - sg AS DOUBLE) / CAST(n - ng AS DOUBLE)))
                        / (CAST(n - ng AS DOUBLE) - 1.0))
                       / CAST(n - ng AS DOUBLE)), 6) AS z
    FROM g CROSS JOIN tot
),
ranked AS (
    SELECT n_name, n_orders, z, ABS(z) AS az,
           CAST(ROW_NUMBER() OVER (ORDER BY ABS(z) DESC, n_name ASC)
                AS BIGINT) AS rank
    FROM scored
),
flagged AS (
    SELECT n_name, n_orders, z, rank,
           CAST(({crit_list})[rank] AS DOUBLE) AS z_crit,
           az >= ({crit_list})[rank] AS raw_pass
    FROM ranked
)
SELECT n_name, n_orders, z, rank, z_crit, raw_pass,
       MAX(CASE WHEN raw_pass THEN rank ELSE 0 END)
           OVER (ORDER BY rank DESC ROWS UNBOUNDED PRECEDING) >= rank
           AS bh_reject
FROM flagged
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# window_theil_sen — robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------


def window_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator of the monthly-revenue trend: the MEDIAN
    of all pairwise slopes — the robust line ``agg_regression_per_
    group``'s OLS is not (one crazy month moves OLS, not the slope
    median; 29% breakdown point). The significance-test sibling of
    ``agg_mann_kendall_trend`` (same pair lattice, point estimate
    instead of test).

    Pairwise slopes are micro-quantized by truncating integer
    division ((10⁶·Δy) div Δmonths — both engines truncate toward
    zero); the median over the C(M,2) pair lattice is the pinned
    LOWER median via cumulative counts — no float anywhere.

    Scale: month-grain reduce first; the pair join is over the
    month-DOMAIN lattice (C(M,2) pairs for M months — independent of
    row count), then a cumulative window over the slope-distinct
    reduced table.
    """
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.select(
            (
                (F.year("o_orderdate") - F.lit(1970)) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("m"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("m")
        .agg(F.sum("yd").alias("y"))
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    slopes = (
        a.join(b, F.col("a.m") < F.col("b.m"))
        .select(
            F.expr(
                "CAST((1000000 * CAST(b.y - a.y AS DECIMAL(38,0)))"
                " div (b.m - a.m) AS BIGINT)"
            ).alias("s")
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cw = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        slopes.select(
            "s",
            F.sum("cnt").over(cw).alias("cum"),
            F.sum("cnt").over(tot).alias("n_pairs"),
        )
        .where(2 * F.col("cum") >= F.col("n_pairs"))
        .agg(
            F.min("s").alias("sen_slope_micro"),
            F.max("n_pairs").alias("n_pairs"),
        )
    )
    n_months = monthly.count()
    return med.select(
        F.lit(n_months).cast("long").alias("n_months"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "sen_slope_micro",
        F.round(
            F.col("sen_slope_micro").cast("double") / F.lit(1e6), 6
        ).alias("sen_slope"),
        (F.col("sen_slope_micro") > 0).alias("trending_up"),
    )


_THEIL_SEN_SQL = """
WITH monthly AS (
    SELECT (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS m,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS y
    FROM orders GROUP BY 1
),
slopes AS (
    SELECT CAST((1000000 * CAST(b.y - a.y AS HUGEINT)) // (b.m - a.m)
                AS BIGINT) AS s,
           COUNT(*) AS cnt
    FROM monthly a JOIN monthly b ON a.m < b.m
    GROUP BY 1
),
stepped AS (
    SELECT s,
           SUM(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER () AS n_pairs
    FROM slopes
),
med AS (
    SELECT MIN(s) AS sen_slope_micro, MAX(n_pairs) AS n_pairs
    FROM stepped WHERE 2 * cum >= n_pairs
)
SELECT (SELECT COUNT(*) FROM monthly) AS n_months,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       sen_slope_micro,
       ROUND(CAST(sen_slope_micro AS DOUBLE) / 1000000.0, 6) AS sen_slope,
       sen_slope_micro > 0 AS trending_up
FROM med
"""


# ---------------------------------------------------------------------------
# ml_brier_decomposition — Murphy reliability/resolution/uncertainty
# ---------------------------------------------------------------------------


def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the binned Brier score for the same
    score/label pair the ECE op audits: BRIER = RELIABILITY −
    RESOLUTION + UNCERTAINTY — the one-line answer to "is my score
    bad because it is miscalibrated (reliability) or because it
    cannot separate (low resolution)?", which ECE alone cannot say.

    Binned forecast: each document forecasts its decile's mean
    confidence c_k = sum_conf div n_k. With o_k = (10⁶·p_k) div n_k
    and ō = (10⁶·P) div N pinned as micro integers, every component
    is an exact integer sum over the ≤10-row bucket table (decimal
    accumulators) divided ONCE at the end — micro² units (10⁻¹²).
    The Murphy identity holds up to micro-truncation; the residual is
    emitted as identity_gap_micro2 and bounded in the invariant test.

    Scale: one corpus pass → 10-row reduce; constant arithmetic
    after.
    """
    d = load(spark, sf_dir, "documents")
    conf = F.least(
        F.lit(1_000_000),
        F.expr(f"(1000000 * n_chars) div {ECE_SCALE_CHARS}"),
    )
    label = F.array_contains(tokens_col("text"), "data")
    staged = d.select(
        F.least(
            F.lit(ECE_BUCKETS - 1), (conf / F.lit(100_000)).cast("long")
        ).alias("bucket"),
        conf.alias("conf_micro"),
        F.when(label, 1).otherwise(0).alias("y"),
    )
    g = staged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("y").cast("long").alias("p_k"),
        F.sum("conf_micro").alias("sum_conf"),
    )
    per = g.select(
        "n_k",
        "p_k",
        F.expr("(1000000 * p_k) div n_k").alias("o_k"),
        F.expr("sum_conf div n_k").alias("c_k"),
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = per.agg(
        F.sum("n_k").alias("n"),
        F.sum("p_k").alias("p"),
        F.sum(dec38(F.col("n_k")) * F.col("o_k") * F.col("o_k")).alias("s_no2"),
        F.sum(dec38(F.col("n_k")) * F.col("o_k")).alias("s_no"),
        F.sum(
            dec38(F.col("n_k"))
            * (F.col("c_k") - F.col("o_k"))
            * (F.col("c_k") - F.col("o_k"))
        ).alias("rel_num"),
        F.sum(
            dec38(F.col("n_k")) * F.col("c_k") * F.col("c_k")
            - 2 * dec38(F.col("c_k")) * 1_000_000 * F.col("p_k")
            + dec38(F.col("p_k")) * 1_000_000 * 1_000_000
        ).alias("brier_num"),
    )
    stage2 = m.select(
        "n",
        "p",
        "s_no2",
        "s_no",
        "rel_num",
        "brier_num",
        F.expr("(1000000 * p) div n").alias("obar"),
    )
    # `div` truncates in both engines; a decimal(38,0) CAST would
    # ROUND half-up in Spark while DuckDB's // truncates — gotcha.
    out = stage2.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("p").cast("long").alias("n_pos"),
        F.col("obar").cast("long").alias("base_rate_micro"),
        F.expr("CAST(brier_num div n AS BIGINT)").alias("brier_micro2"),
        F.expr("CAST(rel_num div n AS BIGINT)").alias("reliability_micro2"),
        F.expr(
            "CAST((s_no2 - 2 * CAST(obar AS DECIMAL(38,0)) * s_no"
            " + CAST(n AS DECIMAL(38,0)) * obar * obar) div n AS BIGINT)"
        ).alias("resolution_micro2"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * obar * (1000000 - obar))"
            " div n AS BIGINT)"
        ).alias("uncertainty_micro2"),
    )
    return out.select(
        "*",
        (
            F.col("brier_micro2")
            - (
                F.col("reliability_micro2")
                - F.col("resolution_micro2")
                + F.col("uncertainty_micro2")
            )
        ).alias("identity_gap_micro2"),
    )


_BRIER_DECOMP_SQL = f"""
WITH staged AS (
    SELECT LEAST({ECE_BUCKETS - 1},
                 LEAST(1000000, (1000000 * n_chars) // {ECE_SCALE_CHARS})
                 // 100000) AS bucket,
        LEAST(1000000, (1000000 * n_chars) // {ECE_SCALE_CHARS}) AS conf_micro,
        CASE WHEN list_contains({sql_tokens("text")}, 'data')
             THEN 1 ELSE 0 END AS y
    FROM documents
),
g AS (
    SELECT bucket, COUNT(*) AS n_k, CAST(SUM(y) AS BIGINT) AS p_k,
           CAST(SUM(conf_micro) AS BIGINT) AS sum_conf
    FROM staged GROUP BY bucket
),
per AS (
    SELECT n_k, p_k,
           (1000000 * p_k) // n_k AS o_k,
           sum_conf // n_k AS c_k
    FROM g
),
m AS (
    SELECT CAST(SUM(n_k) AS BIGINT) AS n, CAST(SUM(p_k) AS BIGINT) AS p,
           SUM(CAST(n_k AS HUGEINT) * o_k * o_k) AS s_no2,
           SUM(CAST(n_k AS HUGEINT) * o_k) AS s_no,
           SUM(CAST(n_k AS HUGEINT) * (c_k - o_k) * (c_k - o_k)) AS rel_num,
           SUM(CAST(n_k AS HUGEINT) * c_k * c_k
               - 2 * CAST(c_k AS HUGEINT) * 1000000 * p_k
               + CAST(p_k AS HUGEINT) * 1000000 * 1000000) AS brier_num
    FROM per
),
s2 AS (
    SELECT *, (1000000 * p) // n AS obar FROM m
)
SELECT n AS n_rows, p AS n_pos, obar AS base_rate_micro,
    CAST(brier_num // n AS BIGINT) AS brier_micro2,
    CAST(rel_num // n AS BIGINT) AS reliability_micro2,
    CAST((s_no2 - 2 * CAST(obar AS HUGEINT) * s_no
          + CAST(n AS HUGEINT) * obar * obar) // n AS BIGINT)
        AS resolution_micro2,
    CAST((CAST(n AS HUGEINT) * obar * (1000000 - obar)) // n AS BIGINT)
        AS uncertainty_micro2,
    CAST(brier_num // n AS BIGINT)
    - (CAST(rel_num // n AS BIGINT)
       - CAST((s_no2 - 2 * CAST(obar AS HUGEINT) * s_no
               + CAST(n AS HUGEINT) * obar * obar) // n AS BIGINT)
       + CAST((CAST(n AS HUGEINT) * obar * (1000000 - obar)) // n AS BIGINT))
        AS identity_gap_micro2
FROM s2
"""


# ---------------------------------------------------------------------------
# agg_theil_index — decomposable inequality (between/within groups)
# ---------------------------------------------------------------------------

THEIL_SEGMENTS = (
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
)


def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of positive customer balances, with
    the between/within-segment decomposition — the property Gini
    (``quality_source_gini``) famously LACKS: T = T_between + T_within
    splits corpus concentration into "segments differ" vs "spread
    inside segments", the first question a fairness or concentration
    review asks.

    The x·ln x corpus sum is a float trap (fold-order-dependent), so
    it is exactified the value-distinct way: reduce to (segment,
    whole-dollar value) counts, quantize t(v) = floor(10⁶·v·ln v)
    ONCE per distinct value — deterministic in both engines; a last-
    ulp libm disagreement shifts the micro-sum by ≤ count and washes
    out at 6dp — then Σ count·t is an exact decimal(38,0) integer.
    T_total = Σxlnx/X − ln(X/N); T_between runs over the FIXED literal
    segment domain as a fixed-order expression. Non-positive balances
    are excluded (ln undefined), reported as n_excluded.

    Scale: one value-grain reduce (domain-bounded), conditional
    aggregation to 5×2+3 scalars, constant arithmetic after.
    """
    c = load(spark, sf_dir, "customer")
    v = F.floor("c_acctbal").cast("long")
    base = c.select(F.col("c_mktsegment").alias("seg"), v.alias("v"))
    n_excluded = base.where(F.col("v") < 1).count()
    vals = (
        base.where(F.col("v") >= 1)
        .groupBy("seg", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "t",
            F.floor(
                F.lit(1e6) * F.col("v").cast("double") * F.log(F.col("v").cast("double"))
            ).cast("long"),
        )
    )
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    aggs = [
        F.sum("cnt").alias("n"),
        F.sum(dec38(F.col("cnt")) * F.col("v")).alias("sx"),
        F.sum(dec38(F.col("cnt")) * F.col("t")).alias("sxlnx"),
    ]
    for i, s in enumerate(THEIL_SEGMENTS):
        is_s = F.col("seg") == s
        aggs.append(F.sum(F.when(is_s, F.col("cnt")).otherwise(0)).alias(f"n{i}"))
        aggs.append(
            F.sum(F.when(is_s, dec38(F.col("cnt")) * F.col("v")).otherwise(0)).alias(
                f"x{i}"
            )
        )
    m = vals.agg(*aggs)
    n = F.col("n").cast("double")
    x = F.col("sx").cast("double")
    t_total = F.col("sxlnx").cast("double") / F.lit(1e6) / x - F.log(x / n)
    t_between = sum(
        (
            (F.col(f"x{i}").cast("double") / x)
            * F.log(
                (F.col(f"x{i}").cast("double") / x)
                / (F.col(f"n{i}").cast("double") / n)
            )
            for i in range(len(THEIL_SEGMENTS))
        ),
        F.lit(0.0),
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.lit(n_excluded).cast("long").alias("n_excluded"),
        F.round(t_total, 6).alias("theil_total"),
        F.round(t_between, 6).alias("theil_between"),
        F.round(t_total - t_between, 6).alias("theil_within"),
    )


def _theil_sql() -> str:
    k = len(THEIL_SEGMENTS)
    segcols = []
    for i, s in enumerate(THEIL_SEGMENTS):
        segcols.append(
            f"SUM(CASE WHEN seg = '{s}' THEN cnt ELSE 0 END) AS n{i}"
        )
        segcols.append(
            f"SUM(CASE WHEN seg = '{s}' THEN CAST(cnt AS HUGEINT) * v"
            f" ELSE 0 END) AS x{i}"
        )
    between = " + ".join(
        f"(CAST(x{i} AS DOUBLE) / x) * LN((CAST(x{i} AS DOUBLE) / x)"
        f" / (CAST(n{i} AS DOUBLE) / n))"
        for i in range(k)
    )
    return f"""
WITH base AS (
    SELECT c_mktsegment AS seg, CAST(FLOOR(c_acctbal) AS BIGINT) AS v
    FROM customer
),
vals AS (
    SELECT seg, v, COUNT(*) AS cnt,
           CAST(FLOOR(1000000.0 * CAST(v AS DOUBLE) * LN(CAST(v AS DOUBLE)))
                AS BIGINT) AS t
    FROM base WHERE v >= 1
    GROUP BY seg, v
),
m AS (
    SELECT SUM(cnt) AS n,
           SUM(CAST(cnt AS HUGEINT) * v) AS sx,
           SUM(CAST(cnt AS HUGEINT) * t) AS sxlnx,
           {", ".join(segcols)}
    FROM vals
),
d AS (
    SELECT CAST(n AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS x,
           CAST(sxlnx AS DOUBLE) AS sxlnx,
           {", ".join(f"n{i}, x{i}" for i in range(k))},
           CAST(n AS BIGINT) AS n_int
    FROM m
)
SELECT n_int AS n_customers,
       (SELECT COUNT(*) FROM base WHERE v < 1) AS n_excluded,
       ROUND(sxlnx / 1000000.0 / x - LN(x / n), 6) AS theil_total,
       ROUND({between}, 6) AS theil_between,
       ROUND(sxlnx / 1000000.0 / x - LN(x / n) - ({between}), 6)
           AS theil_within
FROM d
"""


# ---------------------------------------------------------------------------
# window_hurst_exponent — R/S analysis of the daily revenue series
# ---------------------------------------------------------------------------

HURST_LAGS = (8, 16, 32, 64)


def window_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by rescaled-range (R/S)
    analysis — the long-memory probe behind "is demand trending,
    mean-reverting, or a random walk" (H>½ persistent, H≈½ random,
    H<½ anti-persistent); the classic pre-check before ARIMA-class
    models assume away long-range dependence.

    For each lag n ∈ {HURST_LAGS}: split the day-indexed series into
    full n-day chunks; within a chunk the cumulative deviation is
    exactified by scaling through by n (n·cum_j − j·S — exact
    integers, no fractional mean), so R/S = (max−min of that) /
    √(n·Σx²−S²) comes from exact decimal sums. ln(R/S) is micro-
    quantized per chunk BEFORE averaging (same policy as Theil's
    x·ln x), making the per-lag mean an integer ratio; H is the OLS
    slope of mean ln(R/S) on ln n over the 4 lag points, written as
    a fixed-order expression on one row.

    Scale: day-grain reduce first; chunk windows run over the
    (lags × days)-bounded series; output is 4 rows + the shared H.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
    )
    seq = Window.orderBy("day")
    # localCheckpoint (r12): idx feeds every lag's chunking — without
    # materialization the order-corpus day reduce + global row_number
    # would replay per consumer (the checkpointed table is day-grain,
    # ≤ a few thousand rows)
    idx = daily.select(
        "x", (F.row_number().over(seq) - 1).alias("i")
    ).localCheckpoint(eager=False)
    dec38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    # ONE lateral explode of the literal lag set (r13, guide §2.4):
    # the former per-lag branches each planned their own chunk groupBy
    # + chunk window + broadcast join + two aggregates (66 Exchange
    # nodes for 4 lags); keying everything by (n, chunk) instead runs
    # the identical arithmetic through ONE groupBy, ONE window pass,
    # ONE broadcast join and ONE per-lag aggregate.  The exploded
    # stream is only lags × days rows (day-grain — bounded at any
    # corpus size), and every per-(n, chunk) addend is unchanged, so
    # results are bit-identical.
    chunked = idx.select(
        "x", "i", F.explode(F.lit(list(HURST_LAGS))).alias("n")
    ).select(
        "x",
        "n",
        (F.col("i") % F.col("n") + 1).alias("j"),
        F.floor(F.col("i") / F.col("n")).alias("chunk"),
    )
    totals = chunked.groupBy("n", "chunk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").alias("s"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("q"),
    )
    cw = (
        Window.partitionBy("n", "chunk")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stepped = (
        chunked.select(
            "n", "chunk", "j", F.sum("x").over(cw).alias("cum")
        )
        .join(
            F.broadcast(totals.where(F.col("cnt") == F.col("n"))),
            ["n", "chunk"],
        )
        .select(
            "n",
            "chunk",
            "q",
            "s",
            (
                F.col("n") * dec38(F.col("cum"))
                - dec38(F.col("j")) * F.col("s")
            ).alias("dev"),
        )
    )
    chunks = stepped.groupBy("n", "chunk", "q", "s").agg(
        (F.max("dev") - F.min("dev")).alias("r_scaled")
    )
    var_scaled = (
        F.col("n") * F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    )
    ln_rs_micro = F.floor(
        F.lit(1e6)
        * F.log(
            F.col("r_scaled").cast("double") / F.sqrt(var_scaled)
        )
    ).cast("long")
    pts = (
        chunks.where((F.col("r_scaled") > 0) & (var_scaled > 0))
        .select(F.col("n").cast("long").alias("lag_n"), ln_rs_micro.alias("lnrs"))
        .groupBy("lag_n")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("lnrs").alias("sum_lnrs"),
        )
        .select(
            "lag_n",
            "n_chunks",
            F.expr("sum_lnrs div n_chunks").alias("mean_lnrs_micro"),
        )
        # len(HURST_LAGS) rows; both the OLS pivot and the output join
        # consume pts — checkpoint so the chunk pipeline plans ONCE
        .localCheckpoint(eager=False)
    )
    # OLS slope over the 4 (ln n, mean lnrs) points — fixed k=4 rows;
    # collect-free: conditional-pivot the literal lag domain.
    aggs = []
    for n in HURST_LAGS:
        aggs.append(
            F.max(
                F.when(F.col("lag_n") == n, F.col("mean_lnrs_micro"))
            ).alias(f"m{n}")
        )
        aggs.append(
            F.max(F.when(F.col("lag_n") == n, F.col("n_chunks"))).alias(
                f"c{n}"
            )
        )
    wide = pts.agg(*aggs)
    import math as _math

    lns = {n: _math.log(float(n)) for n in HURST_LAGS}
    ln_mean = sum(lns.values()) / len(HURST_LAGS)
    denom = sum((lv - ln_mean) ** 2 for lv in lns.values())
    slope = sum(
        (
            F.lit((lns[n] - ln_mean) / denom)
            * F.col(f"m{n}").cast("double")
            / F.lit(1e6)
            for n in HURST_LAGS
        ),
        F.lit(0.0),
    )
    wide = wide.select(
        *[F.col(f"m{n}") for n in HURST_LAGS],
        *[F.col(f"c{n}") for n in HURST_LAGS],
        F.round(slope, 6).alias("hurst"),
    )
    final = pts.crossJoin(F.broadcast(wide.select("hurst"))).select(
        "lag_n", "n_chunks", "mean_lnrs_micro", "hurst"
    )
    return final.orderBy("lag_n")


def _hurst_sql() -> str:
    lag_ctes = []
    for n in HURST_LAGS:
        lag_ctes.append(f"""
chunked{n} AS (
    SELECT x, (i % {n}) + 1 AS j, i // {n} AS chunk FROM idx
),
totals{n} AS (
    SELECT chunk, COUNT(*) AS cnt, SUM(x) AS s,
           SUM(CAST(x AS HUGEINT) * x) AS q
    FROM chunked{n} GROUP BY chunk
),
stepped{n} AS (
    SELECT c.chunk, t.q, t.s,
           {n} * CAST(SUM(c.x) OVER (PARTITION BY c.chunk ORDER BY c.j
                ROWS UNBOUNDED PRECEDING) AS HUGEINT)
           - CAST(c.j AS HUGEINT) * t.s AS dev
    FROM chunked{n} c
    JOIN totals{n} t ON t.chunk = c.chunk AND t.cnt = {n}
),
chunks{n} AS (
    SELECT chunk, q, s, MAX(dev) - MIN(dev) AS r_scaled
    FROM stepped{n} GROUP BY chunk, q, s
),
lag{n} AS (
    SELECT CAST({n} AS BIGINT) AS lag_n,
           COUNT(*) AS n_chunks,
           CAST(SUM(CAST(FLOOR(1000000.0 * LN(CAST(r_scaled AS DOUBLE)
                / SQRT({n} * CAST(q AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))))
                AS BIGINT)) AS BIGINT)
           // COUNT(*) AS mean_lnrs_micro
    FROM chunks{n}
    WHERE r_scaled > 0
      AND {n} * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0
)""")
    import math as _math

    lns = {n: _math.log(float(n)) for n in HURST_LAGS}
    ln_mean = sum(lns.values()) / len(HURST_LAGS)
    denom = sum((lv - ln_mean) ** 2 for lv in lns.values())
    slope = " + ".join(
        f"({(lns[n] - ln_mean) / denom!r})"
        f" * CAST((SELECT mean_lnrs_micro FROM lag{n}) AS DOUBLE) / 1000000.0"
        for n in HURST_LAGS
    )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT lag_n, n_chunks, mean_lnrs_micro FROM lag{n}"
        for n in HURST_LAGS
    )
    return f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
    FROM orders GROUP BY 1
),
idx AS (
    SELECT x, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i FROM daily
),{",".join(lag_ctes)}
SELECT p.lag_n, p.n_chunks, p.mean_lnrs_micro,
       ROUND({slope}, 6) AS hurst
FROM ({union}) p
ORDER BY p.lag_n
"""


# ---------------------------------------------------------------------------
# ml_average_precision — tie-aware AP over the score-distinct grid
# ---------------------------------------------------------------------------


def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision of the length-score classifier — the
    PR-curve summary that complements ``ml_auc_roc`` (AUC rewards
    ranking everywhere; AP concentrates on the positive-sparse head,
    which is what retrieval and filtering pipelines care about).

    Step-function convention (sklearn's): AP = Σ_k ΔR_k · P_k with
    precision/recall taken at the END of each distinct-score block,
    so ties never depend on within-block order. Each block's
    contribution is micro-quantized BEFORE the sum —
    floor(10⁶·p_k·cumP_k/cumN_k) — making the accumulation an exact
    integer sum (order-insensitive, AQE-safe) instead of a
    fold-order-dependent float Σ of ratios; the ≤10⁻³ quantization
    slack is part of the metric contract. The p_k·cumP_k product
    accumulates in decimal(38,0) (both factors reach corpus scale).

    Scale: corpus pass → ≤1001-row score-distinct grid, cumulative
    window over that reduced table, scalar readout.
    """
    d = load(spark, sf_dir, "documents")
    conf = F.least(
        F.lit(1_000_000),
        F.expr(f"(1000000 * n_chars) div {ECE_SCALE_CHARS}"),
    )
    label = F.array_contains(tokens_col("text"), "data")
    grid = (
        d.select(conf.alias("s"), F.when(label, 1).otherwise(0).alias("y"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_k"),
            F.sum("y").cast("long").alias("p_k"),
        )
    )
    cum = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    stepped = grid.select(
        "s",
        "n_k",
        "p_k",
        F.sum("n_k").over(cum).alias("cum_n"),
        F.sum("p_k").over(cum).alias("cum_p"),
    )
    contrib = F.expr(
        "CAST((1000000 * CAST(p_k AS DECIMAL(38,0)) * cum_p) div cum_n"
        " AS BIGINT)"
    )
    m = stepped.agg(
        F.sum("n_k").alias("n"),
        F.sum("p_k").alias("n_pos"),
        F.sum(contrib).alias("sum_contrib"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.expr("(1000000 * n_pos) div n").alias("prevalence_micro"),
        F.expr("sum_contrib div n_pos").alias("ap_micro"),
        F.expr(
            "(1000000 * (sum_contrib div n_pos))"
            " div ((1000000 * n_pos) div n)"
        ).alias("ap_over_prevalence_micro"),
    )


_AP_SQL = f"""
WITH grid AS (
    SELECT LEAST(1000000, (1000000 * n_chars) // {ECE_SCALE_CHARS}) AS s,
        COUNT(*) AS n_k,
        CAST(SUM(CASE WHEN list_contains({sql_tokens("text")}, 'data')
                      THEN 1 ELSE 0 END) AS BIGINT) AS p_k
    FROM documents
    GROUP BY 1
),
stepped AS (
    SELECT s, n_k, p_k,
        CAST(SUM(n_k) OVER (ORDER BY s DESC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
        CAST(SUM(p_k) OVER (ORDER BY s DESC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_p
    FROM grid
),
m AS (
    SELECT CAST(SUM(n_k) AS BIGINT) AS n,
        CAST(SUM(p_k) AS BIGINT) AS n_pos,
        CAST(SUM((1000000 * CAST(p_k AS HUGEINT) * cum_p) // cum_n)
             AS BIGINT) AS sum_contrib
    FROM stepped
)
SELECT n AS n_rows, n_pos,
    (1000000 * n_pos) // n AS prevalence_micro,
    sum_contrib // n_pos AS ap_micro,
    (1000000 * (sum_contrib // n_pos)) // ((1000000 * n_pos) // n)
        AS ap_over_prevalence_micro
FROM m
"""


# ---------------------------------------------------------------------------
# seq_markov_stationary — stationary distribution by power iteration
# ---------------------------------------------------------------------------

MS_SCALE = 1_000_000_000  # fixed-point: products stay < 2^63
MS_ITERS = 12


def seq_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-event Markov chain — where
    does a long random session SPEND its time, the one-vector summary
    of ``seq_transition_matrix`` (session-mix forecasting, bot
    fingerprinting). π is computed by {MS_ITERS} fixed power
    iterations π ← πP from the uniform start.

    Engine-exact by construction (the ``graph_pagerank`` recipe on a
    domain-bounded chain): transition probabilities and π live in
    BIGINT fixed-point (10⁹ units; π·p products stay < 2⁶³), every
    update is truncating integer division (all values non-negative,
    so Spark's ``div`` and DuckDB's ``//`` agree) and an integer sum
    — order-insensitive, no float fold anywhere. The oracle unrolls
    the same iterations as chained CTEs. States = event types with
    outgoing transitions; edges into unseen states are dropped and
    rows renormalized over the kept edges (documented closure).

    Scale: ONE corpus pass builds the (types × types) matrix; the
    {MS_ITERS} iterations then run as a SINGLE ``aggregate()``
    higher-order-function fold over that domain-bounded matrix packed
    into one row (the Holt/Bradley-Terry reduce-then-fold recipe,
    VERDICT r10 #3) — the former 12-round loop of tiny joins +
    periodic localCheckpoints paid a ~2-3 s per-iteration job-
    scheduling floor that was pure latency, never throughput.  Each
    per-edge contribution is truncated then integer-summed exactly as
    the join/groupBy form did, and int64 sums are order-independent,
    so the trajectory is bit-identical and the unrolled-CTE oracle is
    unchanged.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the one corpus pass: transition-pair reduce to the ≤|types|²
    # count matrix, then packed into ONE row (domain-bounded one-row
    # aggregate, not a driver collect)
    one = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.collect_list(F.struct("from_type", "to_type", "c")).alias(
                "raws"
            )
        )
    )
    # the closure/renormalization and state indexing run as chained
    # one-row projections (each .select is a let-binding — no joins,
    # no distinct, no window, so the former ~1 s of tiny-job
    # scheduling below the corpus pass disappears):
    # states = sorted distinct from_types; edges into unseen states
    # dropped; rows renormalized over the kept edges
    one = one.select(
        "raws",
        F.expr(
            "sort_array(array_distinct(transform(raws, r -> r.from_type)))"
        ).alias("sts"),
    )
    one = one.select(
        "sts",
        F.expr("filter(raws, r -> array_contains(sts, r.to_type))").alias(
            "kept"
        ),
    )
    # per-state kept-outdegree totals (the renormalization divisors)
    one = one.select(
        "sts",
        "kept",
        F.expr(
            "transform(sts, s -> aggregate("
            "  filter(kept, k -> k.from_type = s),"
            "  CAST(0 AS BIGINT), (a, k) -> a + k.c))"
        ).alias("cis"),
    )
    # dense 1-based indices + fixed-point probabilities, exactly the
    # old join-built edge table: p_fp = (c * SCALE) div ci (truncating,
    # DECIMAL(38,0) intermediate so c*SCALE cannot wrap at corpus scale)
    one = one.select(
        "sts",
        F.expr(
            f"""transform(kept, e -> struct(
                CAST(array_position(sts, e.from_type) AS INT) AS fi,
                CAST(array_position(sts, e.to_type) AS INT) AS ti,
                CAST((CAST(e.c AS DECIMAL(38,0)) * {MS_SCALE})
                     div element_at(cis, CAST(array_position(sts, e.from_type) AS INT))
                     AS BIGINT) AS p_fp))"""
        ).alias("es"),
    )
    fold = f"""
        aggregate(
            sequence(1, {MS_ITERS}),
            transform(sts, s -> CAST({MS_SCALE} div size(sts) AS BIGINT)),
            (acc, it) -> aggregate(
                es,
                transform(sts, s -> CAST(0 AS BIGINT)),
                (na, e) -> transform(
                    na,
                    (v, j) -> IF(j + 1 = e.ti,
                                 v + (element_at(acc, e.fi) * e.p_fp)
                                     div {MS_SCALE},
                                 v)
                )
            )
        )
    """
    return (
        one.select(
            F.expr(
                "inline(zip_with(sts, " + fold + ","
                " (s, p) -> struct(s AS state, p AS pi_fp)))"
            )
        )
        .select(
            "state",
            "pi_fp",
            F.round(
                F.col("pi_fp").cast("double") / F.lit(float(MS_SCALE)), 9
            ).alias("pi"),
        )
        .orderBy("state")
    )


def _markov_stationary_sql() -> str:
    steps = []
    for i in range(MS_ITERS):
        steps.append(f"""
c{i} AS (
    SELECT e.to_type AS state,
           CAST(SUM((p.r * e.p_fp) // {MS_SCALE}) AS BIGINT) AS r_new
    FROM st{i} p
    JOIN edges e ON e.from_type = p.state
    GROUP BY 1
),
st{i + 1} AS (
    SELECT s.state, COALESCE(c.r_new, 0) AS r
    FROM states s LEFT JOIN c{i} c ON c.state = s.state
)""")
    return f"""
WITH raw AS (
    SELECT from_type, to_type, COUNT(*) AS c
    FROM (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
        FROM events
    )
    WHERE to_type IS NOT NULL
    GROUP BY 1, 2
),
states AS (
    SELECT DISTINCT from_type AS state FROM raw
),
kept AS (
    SELECT r.* FROM raw r JOIN states s ON r.to_type = s.state
),
ci AS (
    SELECT from_type, SUM(c) AS ci FROM kept GROUP BY 1
),
edges AS (
    SELECT k.from_type, k.to_type,
           CAST((CAST(k.c AS HUGEINT) * {MS_SCALE}) // ci.ci AS BIGINT)
               AS p_fp
    FROM kept k JOIN ci ON ci.from_type = k.from_type
),
st0 AS (
    SELECT state,
           {MS_SCALE} // (SELECT COUNT(*) FROM states) AS r
    FROM states
),{",".join(steps)}
SELECT state, r AS pi_fp,
    ROUND(CAST(r AS DOUBLE) / {float(MS_SCALE)}, 9) AS pi
FROM st{MS_ITERS}
ORDER BY state
"""


# ---------------------------------------------------------------------------
# window_average_true_range — ATR volatility over daily bars
# ---------------------------------------------------------------------------

ATR_WINDOW = 14  # trailing days, SMA variant (documented: not Wilder EMA)


def window_average_true_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range over daily per-type value bars — the
    volatility gauge that, unlike ``window_realized_volatility``'s
    close-to-close sigma, credits INTRADAY range and overnight gaps:
    TR = max(high−low, |high−prev_close|, |low−prev_close|), ATR =
    {ATR_WINDOW}-day trailing mean (SMA variant — Wilder's recursive
    EMA is fold-order-free too but needs per-row recursion; the SMA
    is the standard screening variant and windows exactly).

    TR is micro-quantized per row (floor(10⁶·tr)) so the trailing
    sum is an exact integer and ATR is one integer division — no
    float accumulation across the window frame. First bar of each
    type has no prev_close: GREATEST ignores the NULL gap terms in
    BOTH engines, so its TR is the plain high−low range — the
    standard first-bar convention, pinned by test_r5d_ops.

    Scale: day-grain reduce per type first; the lag/rolling windows
    run over the (types × days)-bounded bar table, partitioned by
    type.
    """
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "day")
    rn_d = F.row_number().over(w.orderBy(F.desc("us"), F.desc("event_id")))
    bars = (
        base.withColumn("rn_d", rn_d)
        .groupBy("event_type", "day")
        .agg(
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        )
    )
    seq = Window.partitionBy("event_type").orderBy("day")
    pc = F.lag("close").over(seq)
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - pc),
        F.abs(F.col("low") - pc),
    )
    stepped = bars.select(
        "event_type",
        "day",
        F.floor(F.lit(1_000_000.0) * tr).cast("long").alias("tr_micro"),
    ).where(F.col("tr_micro").isNotNull())
    roll = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ATR_WINDOW - 1), 0)
    )
    out = stepped.select(
        "event_type",
        "day",
        "tr_micro",
        F.count(F.lit(1)).over(roll).alias("n_days"),
        F.expr(
            f"sum(tr_micro) OVER (PARTITION BY event_type ORDER BY day"
            f" ROWS BETWEEN {ATR_WINDOW - 1} PRECEDING AND CURRENT ROW)"
            f" div count(1) OVER (PARTITION BY event_type ORDER BY day"
            f" ROWS BETWEEN {ATR_WINDOW - 1} PRECEDING AND CURRENT ROW)"
        ).alias("atr_micro"),
    )
    return out.where(F.col("n_days") == ATR_WINDOW).orderBy(
        "event_type", "day"
    )


_ATR_SQL = f"""
WITH base AS (
    SELECT event_type, CAST(ts AS DATE) AS day, value,
           epoch_us(ts) AS us, event_id
    FROM events
),
marked AS (
    SELECT event_type, day, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, day
                              ORDER BY us DESC, event_id DESC) AS rn_d
    FROM base
),
bars AS (
    SELECT event_type, day,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close
    FROM marked
    GROUP BY 1, 2
),
tr AS (
    SELECT event_type, day,
           CAST(FLOOR(1000000.0 * GREATEST(
               high - low,
               ABS(high - LAG(close) OVER (PARTITION BY event_type
                                           ORDER BY day)),
               ABS(low - LAG(close) OVER (PARTITION BY event_type
                                          ORDER BY day))
           )) AS BIGINT) AS tr_micro
    FROM bars
),
stepped AS (
    SELECT event_type, day, tr_micro,
           COUNT(*) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {ATR_WINDOW - 1} PRECEDING AND CURRENT ROW)
               AS n_days,
           CAST(SUM(tr_micro) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {ATR_WINDOW - 1} PRECEDING AND CURRENT ROW)
               AS BIGINT)
           // COUNT(*) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {ATR_WINDOW - 1} PRECEDING AND CURRENT ROW)
               AS atr_micro
    FROM tr
    WHERE tr_micro IS NOT NULL
)
SELECT event_type, day, tr_micro, n_days, atr_micro
FROM stepped
WHERE n_days = {ATR_WINDOW}
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# agg_kruskal_wallis — k-group rank ANOVA (ties-corrected)
# ---------------------------------------------------------------------------

KW_CHI2_CRIT_MICRO = 9_487_729  # χ²(4 df, 0.05) = 9.487729 — fixed literal


def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across ALL five priority classes — the
    rank-based counterpart of ``agg_anova_oneway`` (and the k-group
    generalization of ``agg_mann_whitney_u``): does priority shift
    the order-value DISTRIBUTION at all, with no normality story.

    Average ranks are exact over the value-DISTINCT reduced table —
    doubling every rank sum keeps tied-rank averages integral
    (2·R_g = Σ_v n_gv·(2·cum_before + t_v + 1)); the tie correction
    C = 1 − Σ(t_v³−t_v)/(N³−N) accumulates t_v³ in decimal(38,0)
    (t_v can reach corpus scale, so int64 cubes overflow at ~2×10⁶ —
    same policy as the hardened second moments). H then derives in
    double with the Σ over the FIXED literal group domain written as
    a fixed-order expression (a float SUM over groups is
    partial-agg-order-dependent — the ANOVA gotcha).

    Scale: value-grain reduction (domain-bounded for whole-dollar
    prices), one cumulative window over that reduced table, scalar
    output.
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    k = len(ANOVA_PRIORITIES)
    vals = (
        o.select(y.alias("v"), F.col("o_orderpriority").alias("g"))
        .groupBy("v")
        .agg(
            *[
                F.sum(F.when(F.col("g") == p, 1).otherwise(0))
                .cast("long")
                .alias(f"n{i}")
                for i, p in enumerate(ANOVA_PRIORITIES)
            ]
        )
    )
    tv = sum((F.col(f"n{i}") for i in range(k)), F.lit(0))
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    stepped = vals.select(
        "v",
        *[f"n{i}" for i in range(k)],
        tv.alias("tv"),
        F.coalesce(F.sum(tv).over(cum), F.lit(0)).alias("cum_before"),
    )
    dec38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731 - exact sums
    m = stepped.agg(
        *[
            F.sum(
                dec38(F.col(f"n{i}"))
                * (2 * F.col("cum_before") + F.col("tv") + 1)
            ).alias(f"two_r{i}")
            for i in range(k)
        ],
        *[F.sum(f"n{i}").alias(f"nn{i}") for i in range(k)],
        F.sum(
            dec38(F.col("tv")) * F.col("tv") * F.col("tv") - dec38(F.col("tv"))
        ).alias("tie3"),
    )
    nn = sum((F.col(f"nn{i}").cast("double") for i in range(k)), F.lit(0.0))
    # Σ_g (2R_g)²/n_g as a fixed-order expression over the literal domain
    sg = sum(
        (
            F.col(f"two_r{i}").cast("double")
            * F.col(f"two_r{i}").cast("double")
            / F.col(f"nn{i}").cast("double")
            for i in range(k)
        ),
        F.lit(0.0),
    )
    h = F.lit(3.0) / (nn * (nn + 1.0)) * sg - F.lit(3.0) * (nn + 1.0)
    c = F.lit(1.0) - F.col("tie3").cast("double") / (nn * nn * nn - nn)
    h_adj = h / c
    return m.select(
        nn.cast("long").alias("n_rows"),
        F.lit(k - 1).cast("long").alias("df"),
        F.round(h, 6).alias("h_stat"),
        F.round(c, 6).alias("tie_correction"),
        F.round(h_adj, 6).alias("h_adjusted"),
        (h_adj > F.lit(KW_CHI2_CRIT_MICRO / 1e6)).alias("significant"),
    )


def _kruskal_sql() -> str:
    k = len(ANOVA_PRIORITIES)
    ncols = ",\n           ".join(
        f"CAST(SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n{i}"
        for i, p in enumerate(ANOVA_PRIORITIES)
    )
    tv = " + ".join(f"n{i}" for i in range(k))
    two_r = ",\n           ".join(
        f"SUM(CAST(n{i} AS HUGEINT) * (2 * cum_before + tv + 1)) AS two_r{i}"
        for i in range(k)
    )
    nns = ",\n           ".join(f"SUM(n{i}) AS nn{i}" for i in range(k))
    nn = " + ".join(f"CAST(nn{i} AS DOUBLE)" for i in range(k))
    sg = " + ".join(
        f"CAST(two_r{i} AS DOUBLE) * CAST(two_r{i} AS DOUBLE)"
        f" / CAST(nn{i} AS DOUBLE)"
        for i in range(k)
    )
    return f"""
WITH vals AS (
    SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
           {ncols}
    FROM orders
    GROUP BY 1
),
stepped AS (
    SELECT v, {", ".join(f"n{i}" for i in range(k))}, ({tv}) AS tv,
           COALESCE(SUM({tv}) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
    FROM vals
),
m AS (
    SELECT {two_r},
           {nns},
           SUM(CAST(tv AS HUGEINT) * tv * tv - CAST(tv AS HUGEINT)) AS tie3
    FROM stepped
),
d AS (
    SELECT ({nn}) AS nn, ({sg}) AS sg, CAST(tie3 AS DOUBLE) AS tie3 FROM m
)
SELECT CAST(nn AS BIGINT) AS n_rows, CAST({k - 1} AS BIGINT) AS df,
       ROUND(3.0 / (nn * (nn + 1.0)) * sg - 3.0 * (nn + 1.0), 6) AS h_stat,
       ROUND(1.0 - tie3 / (nn * nn * nn - nn), 6) AS tie_correction,
       ROUND((3.0 / (nn * (nn + 1.0)) * sg - 3.0 * (nn + 1.0))
             / (1.0 - tie3 / (nn * nn * nn - nn)), 6) AS h_adjusted,
       (3.0 / (nn * (nn + 1.0)) * sg - 3.0 * (nn + 1.0))
           / (1.0 - tie3 / (nn * nn * nn - nn))
           > {KW_CHI2_CRIT_MICRO / 1e6} AS significant
FROM d
"""


# ---------------------------------------------------------------------------
# agg_tukey_hsd — post-hoc pairwise comparisons after ANOVA
# ---------------------------------------------------------------------------

TUKEY_Q_CRIT = 3.858  # studentized range q(k=5, df=∞, α=0.05), fixed literal


def agg_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD over all C(5,2)=10 priority pairs — the post-hoc
    step after ``agg_anova_oneway`` says "something differs": WHICH
    pairs differ, with the studentized-range statistic that keeps the
    familywise error rate at α across all ten simultaneous
    comparisons (ten Welch t-tests would not).

    One conditional-aggregation pass produces the per-group (n, Σy)
    pairs and the global Σy² (decimal-exact); MSW and every pairwise
    q statistic derive in double from those exact sums, with the
    within-group Σ s_g²/n_g written as a fixed-order expression over
    the literal group domain. The 10 output rows are exploded from a
    literal pair array — no second scan, no join.

    Scale: ONE map-side-combinable pass over orders; everything after
    is constant-size arithmetic.
    """
    o = load(spark, sf_dir, "orders")
    y = F.floor("o_totalprice").cast("long")
    k = len(ANOVA_PRIORITIES)
    aggs = []
    for i, p in enumerate(ANOVA_PRIORITIES):
        is_p = F.col("o_orderpriority") == p
        aggs.append(F.sum(F.when(is_p, 1).otherwise(0)).alias(f"n{i}"))
        aggs.append(
            F.sum(F.when(is_p, F.col("y")).otherwise(0)).alias(f"s{i}")
        )
    aggs.append(F.sum(F.col("y").cast("decimal(18,0)") * F.col("y")).alias("qq"))
    m = o.select("o_orderpriority", y.alias("y")).agg(*aggs)
    nn = sum((F.col(f"n{i}").cast("double") for i in range(k)), F.lit(0.0))
    sg = sum(
        (
            F.col(f"s{i}").cast("double")
            * F.col(f"s{i}").cast("double")
            / F.col(f"n{i}").cast("double")
            for i in range(k)
        ),
        F.lit(0.0),
    )
    msw = (F.col("qq").cast("double") - sg) / (nn - F.lit(float(k)))
    pairs = F.array(
        *[
            F.struct(
                F.lit(ANOVA_PRIORITIES[i]).alias("ga"),
                F.lit(ANOVA_PRIORITIES[j]).alias("gb"),
                F.col(f"n{i}").cast("long").alias("na"),
                F.col(f"n{j}").cast("long").alias("nb"),
                F.col(f"s{i}").cast("long").alias("sa"),
                F.col(f"s{j}").cast("long").alias("sb"),
            )
            for i in range(k)
            for j in range(i + 1, k)
        ]
    )
    e = m.select(msw.alias("msw"), F.explode(pairs).alias("p"))
    na, nb = F.col("p.na").cast("double"), F.col("p.nb").cast("double")
    mean_a = F.col("p.sa").cast("double") / na
    mean_b = F.col("p.sb").cast("double") / nb
    diff = mean_a - mean_b
    se = F.sqrt(
        F.col("msw") / F.lit(2.0) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    q = F.abs(diff) / se
    return e.select(
        F.col("p.ga").alias("group_a"),
        F.col("p.gb").alias("group_b"),
        F.col("p.na").alias("n_a"),
        F.col("p.nb").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(diff, 6).alias("mean_diff"),
        F.round(q, 6).alias("q_stat"),
        (q > F.lit(TUKEY_Q_CRIT)).alias("significant"),
    ).orderBy("group_a", "group_b")


def _tukey_sql() -> str:
    k = len(ANOVA_PRIORITIES)
    cols = []
    for i, p in enumerate(ANOVA_PRIORITIES):
        cols.append(
            f"SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS n{i}"
        )
        cols.append(
            f"SUM(CASE WHEN o_orderpriority = '{p}'"
            f" THEN CAST(FLOOR(o_totalprice) AS BIGINT) ELSE 0 END) AS s{i}"
        )
    cols.append(
        "SUM(CAST(FLOOR(o_totalprice) AS HUGEINT)"
        " * CAST(FLOOR(o_totalprice) AS BIGINT)) AS qq"
    )
    nn = " + ".join(f"CAST(n{i} AS DOUBLE)" for i in range(k))
    sg = " + ".join(
        f"CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        for i in range(k)
    )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT '{ANOVA_PRIORITIES[i]}' AS group_a,"
        f" '{ANOVA_PRIORITIES[j]}' AS group_b,"
        f" CAST(n{i} AS BIGINT) AS n_a, CAST(n{j} AS BIGINT) AS n_b,"
        f" CAST(s{i} AS BIGINT) AS s_a, CAST(s{j} AS BIGINT) AS s_b,"
        f" msw FROM d"
        for i in range(k)
        for j in range(i + 1, k)
    )
    return f"""
WITH m AS (
    SELECT {", ".join(cols)}
    FROM orders
),
d AS (
    SELECT *, (CAST(qq AS DOUBLE) - ({sg})) / (({nn}) - {float(k)}) AS msw
    FROM m
),
pairs AS (
    {unions}
)
SELECT group_a, group_b, n_a, n_b,
       ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a,
       ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_b,
       ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_diff,
       ROUND(ABS(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / SQRT(msw / 2.0 * (1.0 / CAST(n_a AS DOUBLE)
                                 + 1.0 / CAST(n_b AS DOUBLE))), 6) AS q_stat,
       ABS(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
           / SQRT(msw / 2.0 * (1.0 / CAST(n_a AS DOUBLE)
                               + 1.0 / CAST(n_b AS DOUBLE)))
           > {TUKEY_Q_CRIT} AS significant
FROM pairs
ORDER BY group_a, group_b
"""


# ---------------------------------------------------------------------------
# agg_cuped_variance_reduction — pre-period covariate adjustment
# ---------------------------------------------------------------------------

CUPED_SPLIT_DATE = "1998-01-01"  # pre-period < split ≤ post-period


def agg_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED — the variance-reduction workhorse of every modern
    experimentation platform: regress each customer's POST-period
    spend on their PRE-period spend (θ = cov/var) and report how much
    metric variance the adjustment removes (= ρ², the fraction a CUPED
    A/B test shrinks its confidence intervals by, i.e. how many fewer
    samples the same power needs).

    Customer-grain reduce first (pre/post whole-dollar spend per
    customer — exact int64 conditional sums), then the five cross
    moments accumulate in decimal(38,0) (spend × spend crosses int64
    at ~3×10⁹-customer × large-spend scale); θ and the variance ratio
    derive in double and round to 6dp.

    Scale: one scan → customer-grain shuffle → 5 scalars; no window,
    no second pass.
    """
    o = load(spark, sf_dir, "orders")
    pre = F.col("o_orderdate").cast("date") < F.lit(CUPED_SPLIT_DATE)
    y = F.floor("o_totalprice").cast("long")
    cust = (
        o.select(F.col("o_custkey").alias("c"), pre.alias("pre"), y.alias("y"))
        .groupBy("c")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("y")).otherwise(0)).alias("x"),
            F.sum(F.when(~F.col("pre"), F.col("y")).otherwise(0)).alias("yy"),
        )
    )
    dec38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731 - exact sums
    m = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yy").alias("sy"),
        F.sum(dec38(F.col("x")) * F.col("yy")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("yy")) * F.col("yy")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    theta = cov_n / varx_n
    rho2 = cov_n * cov_n / (varx_n * vary_n)
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(theta, 6).alias("theta"),
        F.round(rho2, 6).alias("variance_reduction"),
        F.round(F.lit(1.0) - rho2, 6).alias("residual_variance_ratio"),
        F.round(F.lit(1.0) / (F.lit(1.0) - rho2), 6).alias(
            "sample_size_multiplier"
        ),
    )


_CUPED_SQL = f"""
WITH cust AS (
    SELECT o_custkey AS c,
           CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
                              < DATE '{CUPED_SPLIT_DATE}'
                         THEN CAST(FLOOR(o_totalprice) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS x,
           CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE)
                              < DATE '{CUPED_SPLIT_DATE}'
                         THEN 0
                         ELSE CAST(FLOOR(o_totalprice) AS BIGINT)
                         END) AS BIGINT) AS yy
    FROM orders
    GROUP BY 1
),
m AS (
    SELECT COUNT(*) AS n,
           SUM(x) AS sx, SUM(yy) AS sy,
           SUM(CAST(x AS HUGEINT) * yy) AS sxy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(yy AS HUGEINT) * yy) AS syy
    FROM cust
),
d AS (
    SELECT CAST(n AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
           CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy,
           CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
           CAST(n AS BIGINT) AS n_int
    FROM m
)
SELECT n_int AS n_customers,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS variance_reduction,
       ROUND(1.0 - (n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS residual_variance_ratio,
       ROUND(1.0 / (1.0 - (n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy))), 6)
           AS sample_size_multiplier
FROM d
"""


def ml_mcc_balanced_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation + balanced accuracy + Youden's J for the
    same binary task the AUC/lift/ECE family evaluates (label = doc
    mentions 'data', prediction = length rule).  MCC is the single
    confusion-matrix summary that stays honest under class imbalance
    (accuracy and even F1 degenerate when negatives dominate — the
    normal situation for quality filters over a web corpus), so a
    100 TB filter run should gate on MCC, not accuracy.

    One map-side pass to four integer confusion cells, then scalar
    algebra.  Balanced accuracy and J are exact integer micro-units
    (floor division); MCC divides the integer numerator by a
    correctly-rounded double sqrt — bit-identical in both engines.
    Reference parity: evaluation-metric surface, not in the reference
    (reference has no ML-eval ops); north-star quality-filter family.
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = tokens_col("text")
    y = F.array_contains(toks, "data").cast("int")
    p = (F.col("n_chars") >= 300).cast("int")
    cells = d.select(y.alias("y"), p.alias("p")).agg(
        F.sum(((F.col("y") == 1) & (F.col("p") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("y") == 0) & (F.col("p") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("y") == 1) & (F.col("p") == 0)).cast("long")).alias("fn"),
        F.sum(((F.col("y") == 0) & (F.col("p") == 0)).cast("long")).alias("tn"),
    )
    return cells.select(
        (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")).alias("n"),
        "tp",
        "fp",
        "fn",
        "tn",
        # The cell products must NOT multiply in BIGINT: the 4-marginal
        # denominator wraps once each marginal reaches ~55k (a few 1e5
        # docs) and the numerator at ~3e9 — Spark wraps silently where
        # DuckDB errors, a silent cross-engine divergence.  Cast every
        # factor to double FIRST (left-assoc IEEE chain, mirrored
        # term-for-term in _MCC_SQL → bit-identical); the integer
        # ratios go through decimal(20,0) (Spark) / HUGEINT (DuckDB),
        # the geometric-median pattern.
        F.floor(
            1_000_000.0
            * (F.col("tp").cast("double") * F.col("tn")
               - F.col("fp").cast("double") * F.col("fn"))
            / F.sqrt(
                (F.col("tp") + F.col("fp")).cast("double")
                * (F.col("tp") + F.col("fn")).cast("double")
                * (F.col("tn") + F.col("fp")).cast("double")
                * (F.col("tn") + F.col("fn")).cast("double")
            )
        ).cast("long").alias("mcc_micro"),
        F.expr(
            "cast((1000000 * cast(tp as decimal(20,0)) * (tn + fp)"
            " + 1000000 * cast(tn as decimal(20,0)) * (tp + fn))"
            " div (2 * cast(tp + fn as decimal(20,0)) * (tn + fp))"
            " as bigint)"
        ).alias("balanced_accuracy_micro"),
        F.expr(
            "cast((1000000 * cast(tp as decimal(20,0))) div (tp + fn)"
            " + (1000000 * cast(tn as decimal(20,0))) div (tn + fp)"
            " - 1000000 as bigint)"
        ).alias("youden_j_micro"),
    )


_MCC_SQL = """
WITH staged AS (
    SELECT CASE WHEN list_contains(
               string_split_regex(trim(text), '\\s+'), 'data')
           THEN 1 ELSE 0 END AS y,
           CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS p
    FROM documents
),
cells AS (
    SELECT CAST(SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM staged
)
SELECT tp + fp + fn + tn AS n, tp, fp, fn, tn,
       CAST(FLOOR(1000000.0
            * (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
            / SQRT(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                   * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)))
            AS BIGINT) AS mcc_micro,
       CAST((1000000 * CAST(tp AS HUGEINT) * (tn + fp)
             + 1000000 * CAST(tn AS HUGEINT) * (tp + fn))
           // (2 * CAST(tp + fn AS HUGEINT) * (tn + fp))
           AS BIGINT) AS balanced_accuracy_micro,
       CAST((1000000 * CAST(tp AS HUGEINT)) // (tp + fn)
            + (1000000 * CAST(tn AS HUGEINT)) // (tn + fp)
            - 1000000 AS BIGINT) AS youden_j_micro
FROM cells
"""


EB_M_CAP = 1000  # prior-strength cap (pseudo-orders)


def agg_empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-nation
    fulfillment rates toward the global prior — the production recipe
    for ranking small groups by a rate without letting a 3-order
    nation with 3 'F's top the league table.  Unlike
    ``agg_smoothed_group_means``' FIXED pseudo-count, the prior
    strength m is ESTIMATED from the data by moment matching: the
    observed between-nation variance of rates determines how much
    the true rates actually disperse, m = p̄(1−p̄)/s² − 1 (clamped to
    [0, 1000]) — tight dispersion ⇒ heavy shrinkage, real
    dispersion ⇒ light.

    Exact integers throughout: rates quantized to micro BEFORE the
    between-group moment sums (order-insensitive), m and the shrunk
    rate (k + m·p̄)/(n + m) by truncating div.  Every shrunk rate
    lands between its raw rate and the prior (pinned in test).

    Scale: one fact-dim equi-join, one |nations|-row reduce, scalar
    moment algebra on a broadcast 1-row aggregate.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", (F.col("o_orderstatus") == "F").cast("long").alias("y")
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("nation"),
    )
    per = (
        o.join(c, "o_custkey")
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("k"))
        .select(
            "nation", "n", "k", F.expr("(1000000 * k) div n").alias("p_micro")
        )
    )
    g = per.agg(
        F.sum("n").alias("tn"),
        F.sum("k").alias("tk"),
        F.count(F.lit(1)).alias("ng"),
        F.sum("p_micro").alias("sp"),
        F.sum(F.col("p_micro") * F.col("p_micro")).alias("sp2"),
    ).select(
        F.expr("(1000000 * tk) div tn").alias("pbar_micro"),
        F.expr("(ng * sp2 - sp * sp) div (ng * ng)").alias("s2_micro2"),
        "ng",
    )
    m_expr = (
        "case when s2_micro2 <= 0 then cast(" + str(EB_M_CAP) + " as bigint) "
        "else least(cast(" + str(EB_M_CAP) + " as bigint), greatest(cast(0 as"
        " bigint), (pbar_micro * (1000000 - pbar_micro)) div s2_micro2 - 1))"
        " end"
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "nation",
            F.col("n").alias("n_orders"),
            F.col("k").alias("n_fulfilled"),
            F.col("p_micro").alias("raw_rate_micro"),
            "pbar_micro",
            F.expr(m_expr).alias("prior_strength_m"),
        )
        .select(
            "nation",
            "n_orders",
            "n_fulfilled",
            "raw_rate_micro",
            "pbar_micro",
            "prior_strength_m",
            F.expr(
                "(1000000 * n_fulfilled + prior_strength_m * pbar_micro)"
                " div (n_orders + prior_strength_m)"
            ).alias("shrunk_rate_micro"),
        )
        .orderBy("nation")
    )


_EB_SQL = f"""
WITH per AS (
    SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
),
rated AS (
    SELECT nation, n, k, (1000000 * k) // n AS p_micro FROM per
),
g AS (
    SELECT (1000000 * CAST(SUM(k) AS BIGINT)) // CAST(SUM(n) AS BIGINT)
               AS pbar_micro,
           (CAST(COUNT(*) AS BIGINT) * CAST(SUM(p_micro * p_micro) AS BIGINT)
            - CAST(SUM(p_micro) AS BIGINT) * CAST(SUM(p_micro) AS BIGINT))
               // (CAST(COUNT(*) AS BIGINT) * CAST(COUNT(*) AS BIGINT))
               AS s2_micro2
    FROM rated
),
m AS (
    SELECT pbar_micro,
        CASE WHEN s2_micro2 <= 0 THEN CAST({EB_M_CAP} AS BIGINT)
             ELSE LEAST(CAST({EB_M_CAP} AS BIGINT),
                 GREATEST(CAST(0 AS BIGINT),
                     (pbar_micro * (1000000 - pbar_micro)) // s2_micro2 - 1))
        END AS prior_strength_m
    FROM g
)
SELECT r.nation, r.n AS n_orders, r.k AS n_fulfilled,
       r.p_micro AS raw_rate_micro, m.pbar_micro, m.prior_strength_m,
       (1000000 * r.k + m.prior_strength_m * m.pbar_micro)
           // (r.n + m.prior_strength_m) AS shrunk_rate_micro
FROM rated r CROSS JOIN m
ORDER BY r.nation
"""


HOLT_FORECAST_H = 3  # months ahead for the Holt forecast column


def window_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing of monthly
    revenue (α = β = 1/4), THE workhorse short-horizon forecaster —
    one level up from the EWMA (which has no trend term) and one below
    Holt-Winters (no stable sub-year seasonality in this data).

    The level/trend recurrence l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} is inherently SEQUENTIAL — the
    shape windows cannot express — so after the distributed month-grain
    reduce it runs as ONE ``aggregate()`` higher-order-function fold
    over the collected ≤|months| series: a single whole-stage-codegen
    expression, zero per-step jobs.  (The r6–r9 implementation was a
    Spark 4 ``WITH RECURSIVE`` fixpoint — correct and corpus-
    independent, but each of the ~|months| recursion steps scheduled
    its own 1-row-join job, a FIXED ~9 s floor that dominated the
    registry; VERDICT r9 #7.  The fold computes the identical
    trajectory in one task.)  With rational α = β = 1/4 every step is
    exact integer arithmetic (trunc-div-by-4, identical in both
    engines), so the whole trajectory is bit-exact.  Output per month:
    observed, level, trend, one-step-ahead fit error, and the
    +3-month linear forecast.

    Scale: one month-grain reduce of the corpus (distributed, map-side
    partial agg); the sequential tail folds a DOMAIN-BOUNDED array
    (≤ a few hundred months even at 100 TB — the same bounded-reduced-
    table rule as the registry's global-window whitelist), so the fold
    is O(|months|²) struct copies in one task — microseconds.
    """
    o = load(spark, sf_dir, "orders")
    mk = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long")
    monthly = (
        o.select(mk.alias("mk"), F.floor("o_totalprice").cast("long").alias("yd"))
        .groupBy("mk")
        .agg(F.sum("yd").alias("x"))
    )
    arr = monthly.agg(
        F.sort_array(F.collect_list(F.struct("mk", "x"))).alias("s")
    ).filter(F.size("s") > 0)
    prev = "element_at(acc, -1)"
    l_new = f"(m.x + 3 * ({prev}.l + {prev}.b)) div 4"
    traj = F.expr(
        f"""
        aggregate(
            slice(s, 2, size(s) - 1),
            array(named_struct(
                't', CAST(1 AS BIGINT), 'mk', s[0].mk, 'x', s[0].x,
                'l', s[0].x, 'b', CAST(0 AS BIGINT), 'e', CAST(0 AS BIGINT))),
            (acc, m) -> array_append(acc, named_struct(
                't', {prev}.t + 1, 'mk', m.mk, 'x', m.x,
                'l', {l_new},
                'b', (({l_new}) - {prev}.l + 3 * {prev}.b) div 4,
                'e', m.x - ({prev}.l + {prev}.b)))
        )
        """
    )
    return (
        arr.select(F.explode(traj).alias("r"))
        .select(
            F.col("r.t").alias("month_idx"),
            F.col("r.mk").alias("month_key"),
            F.col("r.x").alias("revenue"),
            F.col("r.l").alias("level"),
            F.col("r.b").alias("trend"),
            F.col("r.e").alias("fit_error"),
            (F.col("r.l") + HOLT_FORECAST_H * F.col("r.b")).alias(
                f"forecast_h{HOLT_FORECAST_H}"
            ),
        )
        .orderBy("month_idx")
    )


_HOLT_SQL = f"""
WITH RECURSIVE monthly AS (
    SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
               AS mk,
           CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS x
    FROM orders GROUP BY 1
),
series AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY mk) AS BIGINT) AS t, mk, x
    FROM monthly
),
holt(t, mk, x, l, b, e) AS (
    SELECT t, mk, x, x, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM series WHERE t = 1
    UNION ALL
    SELECT s.t, s.mk, s.x,
           (s.x + 3 * (h.l + h.b)) // 4,
           (((s.x + 3 * (h.l + h.b)) // 4) - h.l + 3 * h.b) // 4,
           s.x - (h.l + h.b)
    FROM series s
    JOIN holt h ON s.t = h.t + 1
)
SELECT t AS month_idx, mk AS month_key, x AS revenue,
       l AS level, b AS trend, e AS fit_error,
       l + {HOLT_FORECAST_H} * b AS forecast_h{HOLT_FORECAST_H}
FROM holt
ORDER BY t
"""


PH_DELTA_CENTS = 10_00    # Page-Hinkley drift allowance per step
PH_LAMBDA_CENTS = 500_00  # alarm threshold on the PH statistic


def window_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley concept-drift detector per event type: the
    sequential test that alarms when a metric's level DROPS below its
    own running mean by more than a drift allowance, cumulatively —
    the standard online companion to CUSUM (which localizes a shift
    post-hoc; PH is the one you'd run in the streaming monitor).

    m_t = Σ_{i<=t} (x_i − μ_i − δ) with μ_i the running mean;
    PH_t = m_t − min_{s<=t} m_s; alarm when PH_t > λ.  Daily totals
    are exact integer cents and the running mean is a truncating
    integer division, so every statistic is integer — bit-identical
    cross-engine.  Sign convention: x − μ − δ detects UPWARD drift
    (revenue regime shift up); the symmetric test negates x.

    Scale: day-grain reduction first; all windows partition by
    event_type over the (types × days) REDUCED table — domain-bounded,
    no global window.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("vc").alias("x"))
    )
    seq = Window.partitionBy("event_type").orderBy("day")
    cum = seq.rowsBetween(Window.unboundedPreceding, 0)
    stepped = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(seq).cast("long").alias("t"),
        F.sum("x").over(cum).alias("cx"),
    ).select(
        "event_type",
        "day",
        "t",
        (F.col("x") - F.expr("cx div t") - PH_DELTA_CENTS).alias("term"),
    )
    ph = stepped.select(
        "event_type",
        "day",
        "t",
        F.sum("term").over(cum).alias("m"),
    ).select(
        "event_type",
        "day",
        "t",
        (F.col("m") - F.min("m").over(cum)).alias("ph"),
    )
    return (
        ph.groupBy("event_type")
        .agg(
            F.max("t").cast("long").alias("n_days"),
            F.max("ph").cast("long").alias("max_ph_cents"),
            F.min(
                F.when(F.col("ph") > PH_LAMBDA_CENTS, F.col("day"))
            ).alias("first_alarm_day"),
            F.max(
                (F.col("ph") > PH_LAMBDA_CENTS).cast("int")
            ).alias("drift_detected"),
        )
        .orderBy("event_type")
    )


_PH_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stepped AS (
    SELECT event_type, day,
        CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
        x - (CAST(SUM(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT)
             // CAST(ROW_NUMBER() OVER w AS BIGINT))
          - {PH_DELTA_CENTS} AS term
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, CAST(MAX(t) AS BIGINT) AS n_days,
       CAST(MAX(m - mn) AS BIGINT) AS max_ph_cents,
       MIN(CASE WHEN m - mn > {PH_LAMBDA_CENTS} THEN day END)
           AS first_alarm_day,
       CAST(MAX(CASE WHEN m - mn > {PH_LAMBDA_CENTS} THEN 1 ELSE 0 END)
            AS INTEGER) AS drift_detected
FROM (
    SELECT event_type, day, t, m,
        MIN(m) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
    FROM (
        SELECT event_type, day, t,
            CAST(SUM(term) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS m
        FROM stepped
    )
)
GROUP BY event_type
ORDER BY event_type
"""


ISO_BINS = 50


def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the length
    score against the 'data'-mention label — the nonparametric
    alternative to Platt scaling, and the standard production recipe
    for turning a ranker score into a probability.

    Implemented via the MINIMAX characterization of the
    pool-adjacent-violators fit: over score bins i,
    fit_i = max_{j<=i} min_{k>=i} mean(y[j..k]).  PAVA itself is a
    sequential pointer algorithm, but on the REDUCED bin table
    (ISO_BINS=50 rows, fixed-width score bins) the closed form is a
    50x1275 range join — constant work no matter the corpus size.
    The corpus-size-proportional part is one map-side binning pass +
    one groupBy(bin).  Prefix sums make each interval mean an exact
    integer pair; the mean itself is one correctly-rounded double
    division, so min/max/floor are bit-identical cross-engine.
    North-star quality-scoring family (model-score calibration).
    """
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = tokens_col("text")
    # all-integer binning: floor-div in BOTH engines (DuckDB CAST
    # rounds while Spark's cast truncates — the known gotcha)
    bin_ = F.expr(
        f"(least(1000000, (1000000 * n_chars) div 3000) * {ISO_BINS})"
        " div 1000001"
    )
    y = F.array_contains(toks, "data").cast("long")
    bins = (
        d.select(bin_.alias("bin"), y.alias("y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    w = Window.orderBy("bin")
    cum = bins.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    ).localCheckpoint(eager=False)
    lo = cum.select(
        F.col("bin").alias("j"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("cpos") - F.col("pos")).alias("cpos_lo"),
    )
    hi = cum.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cn_hi"),
        F.col("cpos").alias("cpos_hi"),
    )
    pairs = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cpos_hi") - F.col("cpos_lo"))
            / (F.col("cn_hi") - F.col("cn_lo"))
        ).alias("avg_jk"),
    )
    i = cum.select(F.col("bin").alias("i"), "n", "pos")
    inner = (
        i.join(pairs, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "n", "pos", "j")
        .agg(F.min("avg_jk").alias("min_k"))
        .groupBy("i", "n", "pos")
        .agg(F.max("min_k").alias("fit"))
    )
    return inner.select(
        F.col("i").alias("bin"),
        "n",
        F.col("pos").alias("n_pos"),
        F.expr("(1000000 * pos) div n").alias("raw_rate_micro"),
        F.floor(1_000_000.0 * F.col("fit")).cast("long").alias("isotonic_micro"),
    ).orderBy("bin")


_ISO_SQL = f"""
WITH staged AS (
    SELECT (LEAST(1000000, (1000000 * n_chars) // 3000) * {ISO_BINS})
               // 1000001 AS bin,
           CASE WHEN list_contains(
               string_split_regex(trim(text), '\\s+'), 'data')
           THEN 1 ELSE 0 END AS y
    FROM documents
),
bins AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
    FROM staged GROUP BY bin
),
cum AS (
    SELECT bin, n, pos,
           CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
           CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cpos
    FROM bins
),
pairs AS (
    SELECT lo.bin AS j, hi.bin AS k,
           CAST(hi.cpos - (lo.cpos - lo.pos) AS DOUBLE)
               / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS avg_jk
    FROM cum lo JOIN cum hi ON lo.bin <= hi.bin
),
inner_min AS (
    SELECT i.bin AS i, i.n, i.pos, p.j, MIN(p.avg_jk) AS min_k
    FROM cum i JOIN pairs p ON p.j <= i.bin AND p.k >= i.bin
    GROUP BY i.bin, i.n, i.pos, p.j
),
fit AS (
    SELECT i, n, pos, MAX(min_k) AS fit FROM inner_min GROUP BY i, n, pos
)
SELECT i AS bin, n, pos AS n_pos,
       (1000000 * pos) // n AS raw_rate_micro,
       CAST(FLOOR(1000000.0 * fit) AS BIGINT) AS isotonic_micro
FROM fit
ORDER BY bin
"""


QUERIES = {
    "ml_mcc_balanced_accuracy": ml_mcc_balanced_accuracy,
    "ml_isotonic_calibration": ml_isotonic_calibration,
    "window_page_hinkley_drift": window_page_hinkley_drift,
    "window_holt_linear_trend": window_holt_linear_trend,
    "agg_empirical_bayes_shrinkage": agg_empirical_bayes_shrinkage,
    "agg_expected_calibration_error": agg_expected_calibration_error,
    "agg_kruskal_wallis": agg_kruskal_wallis,
    "ml_average_precision": ml_average_precision,
    "agg_theil_index": agg_theil_index,
    "agg_benjamini_hochberg": agg_benjamini_hochberg,
    "window_hurst_exponent": window_hurst_exponent,
    "agg_levene_test": agg_levene_test,
    "agg_cochran_armitage": agg_cochran_armitage,
    "quality_krippendorff_alpha": quality_krippendorff_alpha,
    "ml_reciprocal_rank_fusion": ml_reciprocal_rank_fusion,
    "ml_score_separation_report": ml_score_separation_report,
    "window_haar_wavelet_energy": window_haar_wavelet_energy,
    "agg_lorenz_curve": agg_lorenz_curve,
    "agg_icc_design_effect": agg_icc_design_effect,
    "agg_gumbel_extreme_value": agg_gumbel_extreme_value,
    "agg_energy_distance": agg_energy_distance,
    "agg_price_index_laspeyres": agg_price_index_laspeyres,
    "window_spc_control_limits": window_spc_control_limits,
    "window_ljung_box": window_ljung_box,
    "agg_mutual_information": agg_mutual_information,
    "agg_partial_correlation": agg_partial_correlation,
    "window_interarrival_burstiness": window_interarrival_burstiness,
    "window_peak_over_threshold": window_peak_over_threshold,
    "window_sortino_ratio": window_sortino_ratio,
    "sample_sprt_monitor": sample_sprt_monitor,
    "agg_expected_shortfall": agg_expected_shortfall,
    "agg_indirect_standardization": agg_indirect_standardization,
    "seq_markov_predictive_accuracy": seq_markov_predictive_accuracy,
    "quality_digit_preference": quality_digit_preference,
    "sample_ipw_ate": sample_ipw_ate,
    "ml_cost_sensitive_threshold": ml_cost_sensitive_threshold,
    "window_record_highs": window_record_highs,
    "seq_markov_attribution": seq_markov_attribution,
    "agg_market_concentration": agg_market_concentration,
    "agg_capture_recapture": agg_capture_recapture,
    "window_theil_sen": window_theil_sen,
    "ml_brier_decomposition": ml_brier_decomposition,
    "seq_markov_stationary": seq_markov_stationary,
    "window_average_true_range": window_average_true_range,
    "agg_tukey_hsd": agg_tukey_hsd,
    "agg_cuped_variance_reduction": agg_cuped_variance_reduction,
    "agg_ratio_delta_ci": agg_ratio_delta_ci,
    "agg_shapley_attribution": agg_shapley_attribution,
    "rollup_sax_symbols": rollup_sax_symbols,
    "text_word_burstiness": text_word_burstiness,
    "agg_mann_kendall_trend": agg_mann_kendall_trend,
    "ml_bradley_terry_ranking": ml_bradley_terry_ranking,
    "agg_cohen_kappa": agg_cohen_kappa,
    "ml_auc_roc": ml_auc_roc,
    "agg_mcnemar_test": agg_mcnemar_test,
    "ml_lift_curve": ml_lift_curve,
    "ml_naive_bayes_langid": ml_naive_bayes_langid,
    "agg_regression_per_group": agg_regression_per_group,
    "text_zipf_fit": text_zipf_fit,
    "window_rolling_corr": window_rolling_corr,
    "quality_psi_drift": quality_psi_drift,
    "agg_entropy_balance": agg_entropy_balance,
    "seq_transition_matrix": seq_transition_matrix,
    "quality_ks_drift": quality_ks_drift,
    "agg_survival_km": agg_survival_km,
    "window_acf_lags": window_acf_lags,
    "quality_freshness_sla": quality_freshness_sla,
    "window_peak_concurrency": window_peak_concurrency,
    "agg_touch_attribution": agg_touch_attribution,
    "agg_rfm_segmentation": agg_rfm_segmentation,
    "window_order_gap_distribution": window_order_gap_distribution,
    "text_ngram_coverage_curve": text_ngram_coverage_curve,
    "sample_importance_weights": sample_importance_weights,
    "embedding_pca_power_iteration": embedding_pca_power_iteration,
    "agg_seasonality_index": agg_seasonality_index,
    "agg_weekday_hour_heatmap": agg_weekday_hour_heatmap,
    "agg_price_elasticity": agg_price_elasticity,
    "window_rsi_momentum": window_rsi_momentum,
    "etl_surrogate_keys": etl_surrogate_keys,
    "agg_growth_cmgr": agg_growth_cmgr,
    "text_readability_scores": text_readability_scores,
    "seq_event_paths": seq_event_paths,
    "agg_dau_mau_stickiness": agg_dau_mau_stickiness,
    "quality_duplicate_token_share": quality_duplicate_token_share,
    "embedding_norm_outliers": embedding_norm_outliers,
    "agg_xyz_classification": agg_xyz_classification,
    "text_code_detection": text_code_detection,
    "sample_time_split_leakage": sample_time_split_leakage,
    "agg_welch_ttest": agg_welch_ttest,
    "quality_schema_contract": quality_schema_contract,
    "sample_kfold_assignment": sample_kfold_assignment,
    "func_edit_distance": func_edit_distance,
    "sort_nulls_placement": sort_nulls_placement,
    "agg_smoothed_group_means": agg_smoothed_group_means,
    "agg_fano_dispersion": agg_fano_dispersion,
    "agg_anova_oneway": agg_anova_oneway,
    "agg_conversion_wilson_ci": agg_conversion_wilson_ci,
    "agg_power_mde": agg_power_mde,
    "window_ship_latency_histogram": window_ship_latency_histogram,
    "agg_diff_in_diff": agg_diff_in_diff,
    "text_js_divergence": text_js_divergence,
    "agg_mann_whitney_u": agg_mann_whitney_u,
    "window_runs_test": window_runs_test,
    "agg_split_gain_gini": agg_split_gain_gini,
    "text_char_entropy": text_char_entropy,
    "window_bounce_rate": window_bounce_rate,
    "approx_hll_precision_sweep": approx_hll_precision_sweep,
    "quality_cross_field_consistency": quality_cross_field_consistency,
    "ml_rule_eval_f1": ml_rule_eval_f1,
    "agg_lognormal_fit": agg_lognormal_fit,
    "rollup_iso_week": rollup_iso_week,
    "window_realized_volatility": window_realized_volatility,
    "agg_kendall_tau": agg_kendall_tau,
    "window_seasonal_decompose": window_seasonal_decompose,
    "agg_spearman_rho": agg_spearman_rho,
    "agg_hist2d_joint": agg_hist2d_joint,
    "agg_cohort_ltv_curve": agg_cohort_ltv_curve,
    "window_cusum_changepoint": window_cusum_changepoint,
    "agg_pivot_multi": agg_pivot_multi,
    "sample_ab_assignment_srm": sample_ab_assignment_srm,
    "agg_chi_square_independence": agg_chi_square_independence,
    "ml_ols_multivar": ml_ols_multivar,
    "text_pmi_cooccurrence": text_pmi_cooccurrence,
    "sample_bootstrap_means": sample_bootstrap_means,
}

ORACLES = {
    "ml_mcc_balanced_accuracy": _MCC_SQL,
    "ml_isotonic_calibration": _ISO_SQL,
    "window_page_hinkley_drift": _PH_SQL,
    "window_holt_linear_trend": _HOLT_SQL,
    "agg_empirical_bayes_shrinkage": _EB_SQL,
    "agg_expected_calibration_error": _ECE_SQL,
    "agg_kruskal_wallis": _kruskal_sql(),
    "ml_average_precision": _AP_SQL,
    "agg_theil_index": _theil_sql(),
    "agg_benjamini_hochberg": _bh_sql(),
    "window_hurst_exponent": _hurst_sql(),
    "agg_levene_test": _levene_sql(),
    "agg_cochran_armitage": _cochran_armitage_sql(),
    "quality_krippendorff_alpha": _krippendorff_sql(),
    "ml_reciprocal_rank_fusion": _rrf_sql(),
    "ml_score_separation_report": _SCORE_SEP_SQL,
    "window_haar_wavelet_energy": _haar_sql(),
    "agg_lorenz_curve": _LORENZ_SQL,
    "agg_icc_design_effect": _ICC_SQL,
    "agg_gumbel_extreme_value": _gumbel_sql(),
    "agg_energy_distance": _ENERGY_SQL,
    "agg_price_index_laspeyres": _PRICE_INDEX_SQL,
    "window_spc_control_limits": _SPC_SQL,
    "window_ljung_box": _ljung_box_sql(),
    "agg_mutual_information": _MI_SQL,
    "agg_partial_correlation": _PARTIAL_CORR_SQL,
    "window_interarrival_burstiness": _BURSTINESS_TIME_SQL,
    "window_peak_over_threshold": _POT_SQL,
    "window_sortino_ratio": _SORTINO_SQL,
    "sample_sprt_monitor": _sprt_sql(),
    "agg_expected_shortfall": _ES_SQL,
    "agg_indirect_standardization": _SMR_SQL,
    "seq_markov_predictive_accuracy": _MARKOV_PRED_SQL,
    "quality_digit_preference": _DIGIT_PREF_SQL,
    "sample_ipw_ate": _ipw_sql(),
    "ml_cost_sensitive_threshold": _COST_THRESHOLD_SQL,
    "window_record_highs": _RECORD_HIGHS_SQL,
    "seq_markov_attribution": _markov_attribution_sql(),
    "agg_market_concentration": _MARKET_CONC_SQL,
    "agg_capture_recapture": _capture_recapture_sql(),
    "window_theil_sen": _THEIL_SEN_SQL,
    "ml_brier_decomposition": _BRIER_DECOMP_SQL,
    "seq_markov_stationary": _markov_stationary_sql(),
    "window_average_true_range": _ATR_SQL,
    "agg_tukey_hsd": _tukey_sql(),
    "agg_cuped_variance_reduction": _CUPED_SQL,
    "agg_ratio_delta_ci": _RATIO_CI_SQL,
    "agg_shapley_attribution": _shap_sql(),
    "rollup_sax_symbols": _sax_sql(),
    "text_word_burstiness": _burstiness_sql(),
    "agg_mann_kendall_trend": _MK_SQL,
    "ml_bradley_terry_ranking": _bt_sql(),
    "agg_cohen_kappa": _kappa_sql(),
    "ml_auc_roc": _AUC_SQL,
    "agg_mcnemar_test": _mcnemar_sql(),
    "ml_lift_curve": _LIFT_SQL,
    "ml_naive_bayes_langid": _NB_LANGID_SQL,
    "quality_ks_drift": _KS_SQL,
    "agg_survival_km": _KM_SQL,
    "window_acf_lags": _acf_sql(),
    "quality_freshness_sla": _FRESHNESS_SQL,
    "window_peak_concurrency": _PEAK_SQL,
    "agg_touch_attribution": _ATTR_SQL,
    "agg_rfm_segmentation": _RFM_SQL,
    "window_order_gap_distribution": _GAP_SQL,
    "text_ngram_coverage_curve": _COVERAGE_SQL,
    "sample_importance_weights": _IW_SQL,
    "embedding_pca_power_iteration": _pca_sql(),
    "agg_seasonality_index": _SEASON_SQL,
    "agg_weekday_hour_heatmap": _HEATMAP_SQL,
    "agg_price_elasticity": _ELASTICITY_SQL,
    "window_rsi_momentum": _RSI_SQL,
    "etl_surrogate_keys": _SURROGATE_SQL,
    "agg_growth_cmgr": _CMGR_SQL,
    "text_readability_scores": _READABILITY_SQL,
    "seq_event_paths": _PATHS_SQL,
    "agg_dau_mau_stickiness": _DAU_SQL,
    "quality_duplicate_token_share": _DUP_SHARE_SQL,
    "embedding_norm_outliers": _NORM_OUTLIER_SQL,
    "agg_xyz_classification": _XYZ_SQL,
    "text_code_detection": _CODE_SQL,
    "sample_time_split_leakage": _TIME_SPLIT_SQL,
    "agg_welch_ttest": _TTEST_SQL,
    "quality_schema_contract": _schema_contract_sql(),
    "sample_kfold_assignment": _kfold_sql(),
    "func_edit_distance": _EDIT_SQL,
    "sort_nulls_placement": _NULLS_SORT_SQL,
    "agg_smoothed_group_means": _SMOOTH_SQL,
    "agg_fano_dispersion": _FANO_SQL,
    "agg_anova_oneway": _ANOVA_SQL,
    "agg_conversion_wilson_ci": _WILSON_SQL,
    "agg_power_mde": _MDE_SQL,
    "window_ship_latency_histogram": _LATENCY_SQL,
    "agg_diff_in_diff": _DID_SQL,
    "text_js_divergence": _JS_SQL,
    "agg_mann_whitney_u": _MWU_SQL,
    "window_runs_test": _RUNS_SQL,
    "agg_split_gain_gini": _SPLIT_GAIN_SQL,
    "text_char_entropy": _CHAR_ENTROPY_SQL,
    "window_bounce_rate": _BOUNCE_SQL,
    "approx_hll_precision_sweep": _hll_sweep_sql(),
    "quality_cross_field_consistency": _CONSISTENCY_SQL,
    "ml_rule_eval_f1": _RULE_F1_SQL,
    "agg_lognormal_fit": _LOGNORMAL_SQL,
    "rollup_iso_week": _ISO_WEEK_SQL,
    "window_realized_volatility": _RVOL_SQL,
    "agg_kendall_tau": _KENDALL_SQL,
    "window_seasonal_decompose": _DECOMP_SQL,
    "agg_spearman_rho": _SPEARMAN_SQL,
    "agg_hist2d_joint": _HIST2D_SQL,
    "agg_cohort_ltv_curve": _LTV_SQL,
    "window_cusum_changepoint": _CUSUM_SQL,
    "agg_pivot_multi": _pivot_multi_sql(),
    "sample_ab_assignment_srm": _ab_srm_sql(),
    "agg_chi_square_independence": _CHI2_SQL,
    "ml_ols_multivar": _OLS_MULTI_SQL,
    "text_pmi_cooccurrence": _PMI_SQL,
    "sample_bootstrap_means": _BOOT_SQL,
    "agg_regression_per_group": _REGR_SQL,
    "text_zipf_fit": _ZIPF_SQL,
    "window_rolling_corr": _ROLLCORR_SQL,
    "quality_psi_drift": _PSI_SQL,
    "agg_entropy_balance": _ENTROPY_SQL,
    "seq_transition_matrix": _TRANSITION_SQL,
}
