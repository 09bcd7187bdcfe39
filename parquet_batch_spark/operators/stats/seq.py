"""Markov-chain statistics of user event sequences (the ``seq_*`` ops).
Numeric policy: see ``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import load


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
