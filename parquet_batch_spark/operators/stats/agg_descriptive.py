"""Descriptive aggregates: distributions, inequality, segmentation,
business metrics and cardinality estimates (the ``agg_*`` ops that
are not inference), plus ``sort_nulls_placement`` and
``approx_hll_precision_sweep``.  Numeric policy: see ``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import load
from parquet_batch_spark.functions.text import sql_tokens, tokens_col
from parquet_batch_spark.operators.stats.common import ECE_BUCKETS, ECE_SCALE_CHARS


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


# ------------------------------------------------- calibration (ECE)


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
