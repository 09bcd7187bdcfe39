"""Data-quality audits: distribution drift, freshness, duplicate share,
contracts and cross-field invariants (the ``quality_*`` ops), plus
``etl_surrogate_keys``.  Numeric policy: see ``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import fan_out, load
from parquet_batch_spark.functions.text import bind, marker_langid, sql_tokens, tokens_col


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
    # ADVICE flagged the previous hard-coded sf0.01 fixture path).
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
