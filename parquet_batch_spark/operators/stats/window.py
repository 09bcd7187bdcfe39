"""Time-series statistics over daily/monthly series and per-user event
streams (the ``window_*`` ops), plus the ``rollup_*`` ops.  Numeric
policy: see ``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import load


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
