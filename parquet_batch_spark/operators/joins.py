"""Join operators over the star schema.

Strategy notes for 100 TB scale (the plans below are asserted in
tests/test_plans.py):

- Dimension joins (region/nation, and customer/supplier/part at modest
  SF) go BROADCAST — explicitly hinted with F.broadcast so the plan
  does not depend on stats being fresh. region/nation are fixed-size
  (5/25 rows) at every TPC-H scale factor, so those hints are valid
  at 100 TB too.
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE
  handles skew splitting. At deployment these tables would be bucketed
  on the key to elide the shuffle entirely (see sources/writer.py).
- Semi/anti joins are expressed as left_semi/left_anti so Spark can
  plan broadcast variants and skip materializing the probe side's
  non-key columns.

The reference library has no join operator (SURVEY.md §2.2) — this is
north-star extension surface built on its scan layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import load
from parquet_batch_spark.functions.numeric import dec9, dsum, dsum_expr, sql_dsum, sql_dsum_expr
from parquet_batch_spark.operators.sources_ext import _io_dir


def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two broadcast dims: revenue per region.

    customer→nation→region resolved with broadcast hash joins (no
    shuffle of the fact side for the dim lookups).
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            dsum("o_totalprice", "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("r_name")
    )


_JOIN_BROADCAST_SQL = f"""
SELECT r_name,
    {sql_dsum("o_totalprice")} AS revenue,
    COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (lineitem ⋈ orders): revenue by orderpriority
    for a shipdate slice. Shuffle join on orderkey; AQE skew-safe."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    one = F.lit(1).cast("decimal(12,4)")
    rev = dec9("l_extendedprice") * (one - dec9("l_discount"))
    return (
        li.filter(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(dsum_expr(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("o_orderpriority")
    )


_JOIN_FACT_FACT_SQL = f"""
SELECT o_orderpriority,
    {sql_dsum_expr("CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))")} AS revenue,
    COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with null-producing sides: every customer vs
    customers-with-urgent-orders; proves outer-join null semantics."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return (
        c.select("c_custkey", "c_mktsegment")
        .join(urgent, c.c_custkey == urgent.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
            F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
        )
        .orderBy("custkey")
    )


_JOIN_OUTER_SQL = """
SELECT COALESCE(c_custkey, o_custkey) AS custkey,
       c_mktsegment AS segment,
       COALESCE(n_urgent, 0) AS n_urgent
FROM (SELECT c_custkey, c_mktsegment FROM customer) c
FULL OUTER JOIN (
    SELECT o_custkey, COUNT(*) AS n_urgent
    FROM orders WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_custkey
) u ON c.c_custkey = u.o_custkey
ORDER BY custkey
"""


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI: suppliers that ship vs never ship.

    Semi/anti avoid materializing lineitem columns — the build side
    reduces to a distinct key set (broadcast-able at any SF since the
    distinct supplier key set is bounded by the supplier dim).
    """
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    shipped = li.filter(F.col("l_quantity") >= 48).select("l_suppkey")
    active = (
        s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .withColumn("status", F.lit("heavy_shipper"))
    )
    inactive = (
        s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_anti")
        .select("s_suppkey", "s_name")
        .withColumn("status", F.lit("no_heavy"))
    )
    return active.union(inactive).orderBy("s_suppkey")


_JOIN_SEMI_ANTI_SQL = """
SELECT s_suppkey, s_name, 'heavy_shipper' AS status
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 48)
UNION ALL
SELECT s_suppkey, s_name, 'no_heavy' AS status
FROM supplier
WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 48)
ORDER BY s_suppkey
"""


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: parts priced within a derived price band.

    Bands are a tiny derived dim → broadcast nested-loop join is the
    RIGHT plan (the band table is O(10) rows at any scale; a shuffle
    would be pure overhead). At 100 TB the fact side streams through
    executors once.
    """
    p = load(spark, sf_dir, "part")
    bands = spark.range(0, 10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 200).cast("double").alias("lo"),
        ((F.col("id") + 1) * 200).cast("double").alias("hi"),
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_parts"), dsum("p_retailprice", "sum_price"))
        .orderBy("band_id")
    )


_JOIN_RANGE_SQL = f"""
SELECT band_id, COUNT(*) AS n_parts, {sql_dsum("p_retailprice")} AS sum_price
FROM part
JOIN (
    SELECT i AS band_id, CAST(i * 200 AS DOUBLE) AS lo, CAST((i + 1) * 200 AS DOUBLE) AS hi
    FROM generate_series(0, 9) t(i)
) bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id
ORDER BY band_id
"""


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each order matched to the customer's previous order
    in (o_orderdate, o_orderkey) order.

    Spark lacks a native as-of join; the scalable formulation is a
    self-window over the customer partition — one shuffle on custkey,
    no range explosion, no driver loop. (pd.merge_asof via
    applyInPandas is the fallback for two-table as-of with irregular
    keys; see similarity/multimodal modules for that pattern.)
    """
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("prev_orderkey", F.lag("o_orderkey").over(w))
        .withColumn("prev_orderdate", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_orderkey").isNotNull())
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


_JOIN_ASOF_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
    LAG(o_orderkey) OVER w AS prev_orderkey,
    LAG(o_orderdate) OVER w AS prev_orderdate
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
QUALIFY prev_orderkey IS NOT NULL
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two tiny dims (region × orderstatus
    values) — legitimate only when both sides are provably small."""
    r = load(spark, sf_dir, "region")
    statuses = spark.createDataFrame(
        [("F",), ("O",), ("P",)], ["status"]
    )
    return (
        r.select("r_name")
        .crossJoin(F.broadcast(statuses))
        .orderBy("r_name", "status")
    )


_JOIN_CROSS_SQL = """
SELECT r_name, status
FROM region
CROSS JOIN (SELECT 'F' AS status UNION ALL SELECT 'O' UNION ALL SELECT 'P') s
ORDER BY r_name, status
"""


_SALT_BUCKETS = 8


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted fact-fact join — the explicit skew-mitigation
    pattern for when one join key dominates (a viral document, a bot
    user). The probe side derives a DETERMINISTIC salt (linenumber mod
    S, not rand() — reruns and retried tasks must agree); the build
    side replicates each row S times via explode. The hot key's rows
    then spread over S reducers instead of one. Result is provably
    identical to the unsalted join (the oracle runs the plain join).
    AQE's skewJoin handles moderate skew automatically; explicit
    salting is the heavy-artillery variant that also works mid-shuffle
    in aggregations. S=8 multiplies build-side shuffle volume 8× —
    worth it only when the straggler dominates wall-clock."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_linenumber") % _SALT_BUCKETS).cast("int")
    )
    o = load(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)]))
    )
    one = F.lit(1).cast("decimal(12,4)")
    rev = dec9("l_extendedprice") * (one - dec9("l_discount"))
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(dsum_expr(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("o_orderpriority")
    )


_JOIN_SALTED_SQL = f"""
SELECT o_orderpriority,
    {sql_dsum_expr("CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))")} AS revenue,
    COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def join_bucketed_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables are written bucketed
    (+sorted) on the join key, so the subsequent sort-merge join reads
    bucket-local partitions with ZERO shuffle exchanges (asserted in
    tests/test_plans.py::test_bucketed_join_eliminates_shuffle). This
    is the pay-once-shuffle-never-again pattern for 100 TB fact-fact
    joins; the write cost here is the demo's setup, amortized across
    every downstream join in production. The merge hint pins the SMJ
    path the planner would pick unhinted at real scale."""
    # PID-namespaced path and table names: concurrent runs must not
    # clobber each other's staged buckets or catalog entries (ADVICE r1)
    wh = _io_dir(sf_dir, "bucketed")
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tbl = f"pbs_bkt_{name}_{os.getpid()}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load(spark, sf_dir, name)
            .write.mode("overwrite")
            .option("path", os.path.join(wh, name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    one = F.lit(1).cast("decimal(12,4)")
    rev = dec9("l_extendedprice") * (one - dec9("l_discount"))
    return (
        spark.table(f"pbs_bkt_lineitem_{os.getpid()}")
        .hint("merge")
        .join(
            spark.table(f"pbs_bkt_orders_{os.getpid()}"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(dsum_expr(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("o_orderstatus")
    )


_JOIN_BUCKETED_SQL = f"""
SELECT o_orderstatus,
    {sql_dsum_expr("CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))")} AS revenue,
    COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


BLOOM_WORDS_LOG2 = 16  # 2^16 64-bit words = 512 KiB filter
BLOOM_K = 4  # bits set per key inside its word


def _bloom_word(key: str):
    """Which 64-bit word of the filter a key belongs to."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(1 << BLOOM_WORDS_LOG2))


def _bloom_mask(key: str):
    """The key's BLOOM_K-bit pattern inside its word (blocked-bloom:
    all of a key's bits live in one word, so probing is ONE lookup).
    Built via F.expr because the Python shiftleft wrapper only takes
    literal shift amounts; the SQL form shifts by a computed column."""
    terms = " | ".join(
        f"shiftleft(cast(1 as bigint), cast(pmod(xxhash64({key}, {i}), 64) as int))"
        for i in range(BLOOM_K)
    )
    return F.expr(terms)


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact⋈selective-dim join: revenue of lineitems
    belonging to urgent orders with orderkey % 10 == 0 (~2% of orders).

    THE mechanism for a 100 TB join when the build side's key set is
    too large to broadcast as an exact hash set but its ~10-bits-per-
    key Bloom image is not (1e9 keys ≈ 8+ GB hashed vs ~1 GB bloom;
    1e7 keys ≈ 10 MB). Implemented natively in DataFrame ops as a
    BLOCKED bloom filter (the Impala/DuckDB cache-line variant): each
    key hashes to one 64-bit word and sets BLOOM_K bits inside it, so

    - build = ``groupBy(word).agg(bit_or(mask))`` — a partial-
      aggregating reduction to AT MOST 2^BLOOM_WORDS_LOG2 slim rows,
      whatever the key count;
    - probe = broadcast hash EQUI-join on the word index + a bitmask
      check — one lookup per fact row, pruning the fact BEFORE its
      shuffle, so only true matches + ~fp·|fact| rows pay shuffle cost.

    False positives are removed by the real equi-join that follows, so
    the RESULT is exact — the bloom affects cost, never answers — which
    is why a plain join is a valid oracle and no cross-engine hash
    portability is needed (xxhash64 stays JVM-side). Spark's own
    runtime bloom injection (spark.sql.optimizer.runtime.bloomFilter.*)
    builds this plan automatically above its 10 GB application-side
    threshold; this operator IS that plan, explicit and assertable at
    test scale (tests/test_plans.py). Sizing: 2^16 words ≈ 512 KiB
    serves ~4e5 keys at ~10 bits/key; scale BLOOM_WORDS_LOG2 with the
    build-side estimate exactly as Spark sizes its own filter.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sel = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 10 == 0)
    ).select("o_orderkey")
    bloom = (
        sel.select(
            _bloom_word("o_orderkey").alias("w"),
            _bloom_mask("o_orderkey").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )
    probe = li.withColumn("pw", _bloom_word("l_orderkey")).withColumn(
        "pm", _bloom_mask("l_orderkey")
    )
    pruned = (
        probe.join(F.broadcast(bloom), probe.pw == bloom.w)
        .filter(F.col("bits").bitwiseAND(F.col("pm")) == F.col("pm"))
        .drop("pw", "pm", "w", "bits")
    )
    one = F.lit(1).cast("decimal(12,4)")
    rev = dec9("l_extendedprice") * (one - dec9("l_discount"))
    return (
        pruned.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(dsum_expr(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("l_returnflag")
    )


_JOIN_BLOOM_SQL = f"""
SELECT l_returnflag,
    {sql_dsum_expr("CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))")} AS revenue,
    COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ------------------------------------------ as-of with tolerance

ASOF_TOL_SECONDS = 3600  # match window: preceding view within 1 hour


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stream as-of join WITH tolerance: each ``click`` event is
    matched to the user's most recent preceding ``view`` event, but
    only if it happened within {ASOF_TOL_SECONDS}s — the attribution
    join ("which impression caused this click?") where a stale match
    is worse than no match. Complements join_asof (self-table lag,
    no tolerance).

    Scalable formulation: union both event roles into one stream and
    carry the last non-null view timestamp forward with
    ``last(…, ignorenulls=True)`` over the user partition — one
    shuffle, no range-join explosion, tolerance applied as a filter
    on the carried value. Gap arithmetic is integer microseconds
    (``unix_micros``), so the per-user rollup is exact.

    Output: per user, click/match counts and the exact total matched
    gap in microseconds.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    tagged = ev.select("user_id", "event_id", "ts", "event_type").withColumn(
        "last_view_ts", F.last(view_ts, ignorenulls=True).over(w)
    )
    clicks = tagged.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("last_view_ts").cast("timestamp"))
        ).alias("gap_us"),
    )
    matched = F.col("gap_us").isNotNull() & (
        F.col("gap_us") <= ASOF_TOL_SECONDS * 1_000_000
    )
    return (
        clicks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(matched.cast("long")).alias("n_matched"),
            F.sum(F.when(matched, F.col("gap_us")).otherwise(0)).alias(
                "matched_gap_us"
            ),
        )
        .orderBy("user_id")
    )


_ASOF_TOL_SQL = f"""
WITH ev AS (
    SELECT user_id, event_id, ts, event_type
    FROM events WHERE event_type IN ('view', 'click')
),
tagged AS (
    SELECT user_id, event_id, ts, event_type,
           LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_ts
    FROM ev
),
clicks AS (
    SELECT user_id, event_id,
           epoch_us(ts) - epoch_us(last_view_ts) AS gap_us
    FROM tagged WHERE event_type = 'click'
)
SELECT user_id, COUNT(*) AS n_clicks,
       CAST(SUM(CASE WHEN gap_us IS NOT NULL
                     AND gap_us <= {ASOF_TOL_SECONDS * 1_000_000}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN gap_us IS NOT NULL
                     AND gap_us <= {ASOF_TOL_SECONDS * 1_000_000}
                THEN gap_us ELSE 0 END) AS BIGINT) AS matched_gap_us
FROM clicks
GROUP BY user_id
ORDER BY user_id
"""


# ------------------------------------------------ null-safe equality

def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other, unlike plain ``=`` where NULL never joins.
    The semantics that make or break a dim lookup whose natural key is
    nullable ("unknown" buckets must land on the "unknown" dim row,
    not be dropped). Derived nullable keys on both sides: order
    priority digit, NULL for the lowest-priority band, joined to a
    digit dimension that includes a NULL row.

    Scale note: Spark plans ``<=>`` as an equi-join (hash/SMJ capable
    — NULL hashes like any value under null-safe semantics), NOT a
    theta join; the broadcast dim keeps it shuffle-free here.
    """
    o = load(spark, sf_dir, "orders")
    digit = F.when(
        F.col("o_orderpriority") != "5-LOW",
        F.substring("o_orderpriority", 1, 1).cast("long"),
    )  # 5-LOW -> NULL: the "unknown" band
    fact = o.select(digit.alias("prio_digit"), "o_totalprice")
    dim = spark.createDataFrame(
        [(1, "urgent"), (2, "high"), (3, "medium"), (4, "normal"), (None, "unknown")],
        "d_digit long, d_label string",
    )
    return (
        fact.join(F.broadcast(dim), fact.prio_digit.eqNullSafe(dim.d_digit))
        .groupBy("d_label")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy("d_label")
    )


_NULL_SAFE_SQL = f"""
WITH fact AS (
    SELECT CASE WHEN o_orderpriority <> '5-LOW'
                THEN CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) END
               AS prio_digit,
           o_totalprice
    FROM orders
),
dim AS (
    SELECT * FROM (VALUES (1, 'urgent'), (2, 'high'), (3, 'medium'),
                          (4, 'normal'), (NULL, 'unknown')) d(d_digit, d_label)
)
SELECT d_label, COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_price
FROM fact JOIN dim ON fact.prio_digit IS NOT DISTINCT FROM dim.d_digit
GROUP BY d_label
ORDER BY d_label
"""


def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    surface for "top-N related rows per driving row" (Spark supports
    LATERAL since 3.4; the correlated LIMIT decorrelates cleanly).
    The driving side here is deliberately REDUCED first (the 5
    distinct market segments), which is the scale discipline for this
    operator: a lateral per fact row is a nested loop in disguise —
    drive laterals from dimensions/reduced sets, and use
    ``window_topk_per_group`` when the per-key top-N must run over the
    whole fact. Ties broken by order key so results are deterministic.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("pbs_lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("pbs_lat_orders")
    return spark.sql(
        """
        SELECT s.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM (SELECT DISTINCT c_mktsegment FROM pbs_lat_customer) s,
        LATERAL (
            SELECT o.o_orderkey, o.o_totalprice
            FROM pbs_lat_orders o
            JOIN pbs_lat_customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = s.c_mktsegment
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 3
        ) t
        ORDER BY s.c_mktsegment, t.o_totalprice DESC, t.o_orderkey
        """
    )


_JOIN_LATERAL_SQL = """
SELECT s.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
LATERAL (
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = s.c_mktsegment
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 3
) t
ORDER BY s.c_mktsegment, t.o_totalprice DESC, t.o_orderkey
"""


IVB_WIDTH_DAYS = 7  # bucket width == interval length → each interval
# spans at most 2 buckets, each point exactly 1 ⇒ no pair dedup needed


def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGE×LARGE interval-overlap join via bucket binning — the scale
    pattern ``join_range`` (broadcast-dim) cannot cover: when BOTH
    sides are fact-sized, the non-equi predicate alone would plan a
    nested loop. Binning turns it into an EQUI-join: each 7-day order
    interval [orderdate, +7d) registers in the ≤2 week-buckets it
    touches, each shipment point in exactly 1, the join key is the
    bucket, and the true overlap predicate refines the bucket matches.
    Pair work is Θ(points·intervals-per-bucket), never |O|·|L|, and
    the shuffle is a plain hash partition on the bucket id — the same
    topology at 100 TB with AQE handling hot weeks. A pair can meet in
    only one bucket (the point's), so no post-join dedup is needed —
    that's why the bucket width equals the interval length.

    Q1-2000 orders × shipments: per order-week, how many shipments
    (any order's) landed within a week of an order being placed.
    The oracle is the plain non-equi join — same answer, a plan Spark
    must never be allowed to choose at scale (plan-asserted)."""
    epoch = F.lit("1970-01-01").cast("date")
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("2000-04-01").cast("timestamp_ntz"))
        )
        .select(
            "o_orderkey",
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("oday"),
        )
    )
    b0 = F.floor(F.col("oday") / IVB_WIDTH_DAYS)
    b1 = F.floor((F.col("oday") + IVB_WIDTH_DAYS - 1) / IVB_WIDTH_DAYS)
    oint = o.withColumn(
        "bucket", F.explode(F.array_distinct(F.array(b0, b1)))
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("2000-04-08").cast("timestamp_ntz"))
        )
        .select(
            F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("sday"),
            "l_quantity",
        )
        .withColumn("bucket", F.floor(F.col("sday") / IVB_WIDTH_DAYS))
    )
    j = oint.join(li, "bucket").where(
        (F.col("sday") >= F.col("oday"))
        & (F.col("sday") < F.col("oday") + IVB_WIDTH_DAYS)
    )
    return (
        j.groupBy(F.floor(F.col("oday") / IVB_WIDTH_DAYS).alias("order_week"))
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_pairs"),
            dsum("l_quantity", "qty_sum"),
        )
        .orderBy("order_week")
    )


_JOIN_INTERVAL_SQL = f"""
WITH o AS (
    SELECT o_orderkey,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS oday
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '2000-04-01 00:00:00'
),
l AS (
    SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS sday,
           l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '2000-04-08 00:00:00'
)
SELECT CAST(FLOOR(oday / {IVB_WIDTH_DAYS}.0) AS BIGINT) AS order_week,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       COUNT(*) AS n_pairs,
       {sql_dsum("l_quantity")} AS qty_sum
FROM o JOIN l ON l.sday >= o.oday AND l.sday < o.oday + {IVB_WIDTH_DAYS}
GROUP BY order_week
ORDER BY order_week
"""


# ---------------------------------------------------------------------------
# join_nearest_price — 1-D nearest-neighbor without a cross product
# ---------------------------------------------------------------------------


def join_nearest_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D nearest-neighbor statistics: for every DISTINCT order total
    within a status, the gap to the closest other total — price-
    clustering diagnostics (tight gaps ⇒ algorithmic/menu pricing).
    The naive formulation is a |P|² self-join with ABS(a−b) ranking;
    sorted 1-D data makes the nearest neighbor one of the two SORT
    NEIGHBORS, so one window pass (lag+lead over the price-distinct
    reduced table) replaces the cross product entirely. Output per
    status: distinct-price count and the min / mean / max
    nearest-gap in exact cents.
    """
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    prices = (
        o.select(
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        )
        .distinct()
    )
    w = W.partitionBy("o_orderstatus").orderBy("pc")
    prev_gap = F.col("pc") - F.lag("pc").over(w)
    next_gap = F.lead("pc").over(w) - F.col("pc")
    # explicit NULL handling: LEAST-with-NULL semantics differ across
    # engines (Spark skips NULLs; DuckDB's behavior changed across
    # versions) — never rely on it
    gap = (
        F.when(prev_gap.isNull(), next_gap)
        .when(next_gap.isNull(), prev_gap)
        .otherwise(F.least(prev_gap, next_gap))
    )
    scored = prices.select(
        "o_orderstatus", gap.alias("gap_cents")
    ).filter(F.col("gap_cents").isNotNull())
    return (
        scored.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_prices"),
            F.min("gap_cents").alias("min_gap_cents"),
            F.floor(F.sum("gap_cents") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_gap_cents"),
            F.max("gap_cents").alias("max_gap_cents"),
        )
        .orderBy("o_orderstatus")
    )


_NEAREST_SQL = """
WITH prices AS (
    SELECT DISTINCT o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
    FROM orders
),
scored AS (
    SELECT o_orderstatus,
           CASE WHEN LAG(pc) OVER w IS NULL THEN LEAD(pc) OVER w - pc
                WHEN LEAD(pc) OVER w IS NULL THEN pc - LAG(pc) OVER w
                ELSE LEAST(pc - LAG(pc) OVER w, LEAD(pc) OVER w - pc)
           END AS gap_cents
    FROM prices
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY pc)
)
SELECT o_orderstatus,
       COUNT(*) AS n_prices,
       MIN(gap_cents) AS min_gap_cents,
       CAST(FLOOR(SUM(gap_cents) / COUNT(*)) AS BIGINT) AS mean_gap_cents,
       MAX(gap_cents) AS max_gap_cents
FROM scored
WHERE gap_cents IS NOT NULL
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

# ---------------------------------------------------------------------------
# join_spatial_grid_radius — 2-D radius self-join via grid bucketing
# ---------------------------------------------------------------------------

SP_SPACE = 100_000  # coordinate space per axis
SP_RADIUS = 200  # pair radius (L2)
SP_CELL = 200  # grid cell width == radius ⇒ 3×3 neighbor probing is complete


def join_spatial_grid_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within L2 radius {SP_RADIUS} — the 2-D analogue
    of ``join_interval_bucketed``: a radius self-join is a nested loop
    unless you BIN. Points (synthesized from event ids by
    multiplicative hashing — integer coords, both engines identical)
    land in {SP_CELL}-wide grid cells; each LEFT point expands to its
    3×3 neighbor cells (cell = radius ⇒ any within-radius partner is
    in one of them — completeness is geometric, not probabilistic),
    the join is a plain EQUI-join on the cell id, and the exact
    integer distance check refines. Each unordered pair is found
    exactly once: only via the smaller id's expansion into the larger
    id's unique home cell.

    Scale: candidate work is Θ(9·N·density-per-cell) — output-bound
    like every true pair-finder, never N². The shuffle is a hash
    partition on cell id; AQE handles hot cells.
    """
    ev = load(spark, sf_dir, "events").select("event_id")
    px = (F.col("event_id") * 2654435761) % SP_SPACE
    py = (F.col("event_id") * 2246822519 + 12345) % SP_SPACE
    pts = ev.select(
        "event_id",
        px.alias("px"),
        py.alias("py"),
        F.floor(px / SP_CELL).alias("cx"),
        F.floor(py / SP_CELL).alias("cy"),
    )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    probes = (
        pts.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .select(
            F.col("event_id").alias("ida"),
            F.col("px").alias("pxa"),
            F.col("py").alias("pya"),
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    cand = probes.join(
        pts.select(
            F.col("event_id").alias("idb"),
            F.col("px").alias("pxb"),
            F.col("py").alias("pyb"),
            "cx",
            "cy",
        ),
        ["cx", "cy"],
    ).filter(F.col("ida") < F.col("idb"))
    ddx = F.col("pxa") - F.col("pxb")
    ddy = F.col("pya") - F.col("pyb")
    d2 = ddx * ddx + ddy * ddy  # integer arithmetic — never pow()
    hits = cand.withColumn("d2", d2.cast("long")).filter(
        F.col("d2") <= SP_RADIUS * SP_RADIUS
    )
    return (
        hits.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("d2").alias("sum_dist2"),
            F.min("d2").alias("min_dist2"),
        )
        .crossJoin(pts.agg(F.count(F.lit(1)).alias("n_points")))
        .select("n_points", "n_pairs", "sum_dist2", "min_dist2")
    )


_SPATIAL_SQL = f"""
WITH pts AS (
    SELECT event_id,
           (event_id * 2654435761) % {SP_SPACE} AS px,
           (event_id * 2246822519 + 12345) % {SP_SPACE} AS py
    FROM events
),
cells AS (
    SELECT event_id, px, py,
           CAST(FLOOR(px / {SP_CELL}) AS BIGINT) AS cx,
           CAST(FLOOR(py / {SP_CELL}) AS BIGINT) AS cy
    FROM pts
),
probes AS (
    SELECT event_id AS ida, px AS pxa, py AS pya,
           cx + dx.d AS cx, cy + dy.d AS cy
    FROM cells, UNNEST([-1, 0, 1]) AS dx(d), UNNEST([-1, 0, 1]) AS dy(d)
),
hits AS (
    SELECT (p.pxa - c.px) * (p.pxa - c.px)
         + (p.pya - c.py) * (p.pya - c.py) AS d2
    FROM probes p
    JOIN cells c ON p.cx = c.cx AND p.cy = c.cy AND p.ida < c.event_id
    WHERE (p.pxa - c.px) * (p.pxa - c.px)
        + (p.pya - c.py) * (p.pya - c.py) <= {SP_RADIUS * SP_RADIUS}
)
SELECT (SELECT COUNT(*) FROM pts) AS n_points,
       COUNT(*) AS n_pairs,
       CAST(SUM(d2) AS BIGINT) AS sum_dist2,
       CAST(MIN(d2) AS BIGINT) AS min_dist2
FROM hits
"""


def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``NOT IN (subquery)`` three-valued-logic semantics — the join
    shape that silently breaks hand-rolled anti-join rewrites: when
    the subquery's value set contains even ONE NULL, ``x NOT IN (…)``
    is never TRUE, so the result is EMPTY — while ``NOT EXISTS`` (a
    plain left-anti) still returns rows. Spark plans the NOT IN form
    as a null-aware anti join; this op measures all three counts
    side by side so the semantic cliff is visible in the data:

    - ``n_not_exists``: customers with no URGENT order (left-anti).
    - ``n_not_in_clean``: same predicate via NOT IN over a NULL-free
      subquery — must equal ``n_not_exists``.
    - ``n_not_in_nullable``: NOT IN over the same subquery with one
      injected NULL — must be 0.

    Scale note: the NULL-free NOT IN plans as a broadcast/shuffled
    anti equi-join; the nullable variant degenerates to a
    BroadcastNestedLoopJoin by necessity (every row must be compared
    with the NULL) — the measurement IS the reason pipelines sanitize
    keys before NOT IN at 100 TB.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("pbs_naa_cust")
    load(spark, sf_dir, "orders").createOrReplaceTempView("pbs_naa_orders")
    return spark.sql(
        """
        SELECT
            (SELECT COUNT(*) FROM pbs_naa_cust c
             WHERE NOT EXISTS (
                 SELECT 1 FROM pbs_naa_orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderpriority = '1-URGENT')) AS n_not_exists,
            (SELECT COUNT(*) FROM pbs_naa_cust
             WHERE c_custkey NOT IN (
                 SELECT o_custkey FROM pbs_naa_orders
                 WHERE o_orderpriority = '1-URGENT')) AS n_not_in_clean,
            (SELECT COUNT(*) FROM pbs_naa_cust
             WHERE c_custkey NOT IN (
                 SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
                             ELSE o_custkey END
                 FROM pbs_naa_orders
                 WHERE o_orderpriority = '1-URGENT')) AS n_not_in_nullable
        """
    )


_NULL_AWARE_ANTI_SQL = """
SELECT
    (SELECT COUNT(*) FROM customer c
     WHERE NOT EXISTS (
         SELECT 1 FROM orders o
         WHERE o.o_custkey = c.c_custkey
           AND o.o_orderpriority = '1-URGENT')) AS n_not_exists,
    (SELECT COUNT(*) FROM customer
     WHERE c_custkey NOT IN (
         SELECT o_custkey FROM orders
         WHERE o_orderpriority = '1-URGENT')) AS n_not_in_clean,
    (SELECT COUNT(*) FROM customer
     WHERE c_custkey NOT IN (
         SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
                     ELSE o_custkey END
         FROM orders
         WHERE o_orderpriority = '1-URGENT')) AS n_not_in_nullable
"""


PIT_SWITCH = "1998-01-01"  # every 7th customer re-versions here


def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join against a type-2 versioned dimension:
    each order resolves the customer attribute version that was valid
    ON ITS ORDER DATE — the lookup every backtest / feature-store read
    must get right (joining the CURRENT version leaks the future into
    training data).

    The versioned dim is built deterministically: every 7th customer
    has version 1 until {PIT_SWITCH} and version 2 after; the rest have
    one open version. The join is an EQUI-join on the customer key
    with the validity range as a residual predicate — per-key fan-out
    is bounded by the version count, so the shuffle behaves exactly
    like a plain key join at 100 TB (never a range-only join).

    Output: orders and exact-decimal revenue by matched (version,
    is_current) — plus total match accounting the test pins to prove
    the PIT invariant (exactly one version per order).
    """
    c = load(spark, sf_dir, "customer").select("c_custkey")
    d0 = F.lit("1992-01-01").cast("date")
    dswitch = F.lit(PIT_SWITCH).cast("date")
    dinf = F.lit("2999-01-01").cast("date")
    versioned = c.filter(F.col("c_custkey") % 7 == 0)
    v1 = versioned.select(
        "c_custkey", F.lit(1).alias("version"), d0.alias("vf"), dswitch.alias("vt"),
        F.lit(False).alias("is_current"),
    )
    v2 = versioned.select(
        "c_custkey", F.lit(2).alias("version"), dswitch.alias("vf"), dinf.alias("vt"),
        F.lit(True).alias("is_current"),
    )
    single = c.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", F.lit(1).alias("version"), d0.alias("vf"), dinf.alias("vt"),
        F.lit(True).alias("is_current"),
    )
    dim = v1.unionAll(v2).unionAll(single)
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od"), "o_totalprice"
    )
    matched = o.join(
        dim,
        (o.o_custkey == dim.c_custkey) & (F.col("od") >= F.col("vf")) & (F.col("od") < F.col("vt")),
    )
    return (
        matched.groupBy("version", "is_current")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("version", "is_current")
    )


_PIT_SQL = f"""
WITH dim AS (
    SELECT c_custkey, 1 AS version, DATE '1992-01-01' AS vf, DATE '{PIT_SWITCH}' AS vt, FALSE AS is_current
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey, 2, DATE '{PIT_SWITCH}', DATE '2999-01-01', TRUE
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey, 1, DATE '1992-01-01', DATE '2999-01-01', TRUE
    FROM customer WHERE c_custkey % 7 <> 0
)
SELECT version, is_current, COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS revenue
FROM orders
JOIN dim ON o_custkey = c_custkey
        AND CAST(o_orderdate AS DATE) >= vf
        AND CAST(o_orderdate AS DATE) < vt
GROUP BY version, is_current
ORDER BY version, is_current
"""


QUERIES = {
    "join_null_aware_anti": join_null_aware_anti,
    "join_point_in_time_scd2": join_point_in_time_scd2,
    "join_nearest_price": join_nearest_price,
    "join_spatial_grid_radius": join_spatial_grid_radius,
    "join_interval_bucketed": join_interval_bucketed,
    "join_lateral_topk": join_lateral_topk,
    "join_null_safe": join_null_safe,
    "join_asof_tolerance": join_asof_tolerance,
    "join_bloom_prefilter": join_bloom_prefilter,
    "join_bucketed_colocate": join_bucketed_colocate,
    "join_skew_salted": join_skew_salted,
    "join_broadcast_dims": join_broadcast_dims,
    "join_fact_fact": join_fact_fact,
    "join_outer": join_outer,
    "join_semi_anti": join_semi_anti,
    "join_range": join_range,
    "join_asof": join_asof,
    "join_cross_small": join_cross_small,
}

ORACLES = {
    "join_null_aware_anti": _NULL_AWARE_ANTI_SQL,
    "join_point_in_time_scd2": _PIT_SQL,
    "join_nearest_price": _NEAREST_SQL,
    "join_spatial_grid_radius": _SPATIAL_SQL,
    "join_interval_bucketed": _JOIN_INTERVAL_SQL,
    "join_lateral_topk": _JOIN_LATERAL_SQL,
    "join_null_safe": _NULL_SAFE_SQL,
    "join_asof_tolerance": _ASOF_TOL_SQL,
    "join_bloom_prefilter": _JOIN_BLOOM_SQL,
    "join_bucketed_colocate": _JOIN_BUCKETED_SQL,
    "join_skew_salted": _JOIN_SALTED_SQL,
    "join_broadcast_dims": _JOIN_BROADCAST_SQL,
    "join_fact_fact": _JOIN_FACT_FACT_SQL,
    "join_outer": _JOIN_OUTER_SQL,
    "join_semi_anti": _JOIN_SEMI_ANTI_SQL,
    "join_range": _JOIN_RANGE_SQL,
    "join_asof": _JOIN_ASOF_SQL,
    "join_cross_small": _JOIN_CROSS_SQL,
}
