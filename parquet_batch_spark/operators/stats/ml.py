"""Classifier evaluation, ranking and model-fit statistics (the ``ml_*``
ops), plus the ``embedding_*`` corpus statistics.  Numeric policy:
see ``stats_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import fan_out, load
from parquet_batch_spark.functions.text import sql_tokens, tokens_col
from parquet_batch_spark.operators.stats.common import ECE_BUCKETS, ECE_SCALE_CHARS


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
