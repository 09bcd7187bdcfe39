"""Inferential aggregates: hypothesis tests, confidence intervals,
experiment-design statistics, agreement and rank correlation (the
``agg_*`` ops that test or estimate).  Numeric policy: see
``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import fan_out, load
from parquet_batch_spark.functions.hashing import hash32, sql_hash32
from parquet_batch_spark.functions.text import marker_langid, sql_tokens, tokens_col
from parquet_batch_spark.operators.stats.common import AB_SALT


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
