"""Sampling, assignment and reweighting (the ``sample_*`` ops).  Numeric
policy: see ``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import fan_out, load
from parquet_batch_spark.functions.hashing import hash32, sql_hash32
from parquet_batch_spark.operators.stats.common import AB_SALT


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
# sample_ab_assignment_srm — hash bucketing + sample-ratio-mismatch check
# ---------------------------------------------------------------------------


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
