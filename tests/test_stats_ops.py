"""Invariant tests for the stats-ops batch: OLS closed forms against
numpy's lstsq on the same quantized inputs, Zipf slope sanity, rolling
correlation bounds."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import load
from parquet_batch_spark.operators.stats.agg_descriptive import (
    agg_entropy_balance,
    agg_regression_per_group,
)
from parquet_batch_spark.operators.stats.agg_inference import agg_chi_square_independence
from parquet_batch_spark.operators.stats.ml import ml_ols_multivar
from parquet_batch_spark.operators.stats.quality import (
    PSI_BINS,
    quality_ks_drift,
    quality_psi_drift,
)
from parquet_batch_spark.operators.stats.sample import sample_bootstrap_means
from parquet_batch_spark.operators.stats.seq import seq_transition_matrix
from parquet_batch_spark.operators.stats.text import ZIPF_TOP, text_pmi_cooccurrence, text_zipf_fit
from parquet_batch_spark.operators.stats.window import CORR_FRAME, window_rolling_corr


def test_regression_matches_numpy(spark, sf_dir):
    """The exact-sum closed form must agree with numpy lstsq on the
    identically quantized (day, floor-dollar) pairs, per group."""
    got = {r["priority"]: r for r in agg_regression_per_group(spark, sf_dir).collect()}
    raw = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("p"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("x"),
            F.floor("o_totalprice").cast("long").alias("y"),
        )
        .collect()
    )
    by_p: dict[str, list[tuple[int, int]]] = {}
    for r in raw:
        by_p.setdefault(r["p"], []).append((r["x"], r["y"]))
    assert set(got) == set(by_p)
    for p, pairs in by_p.items():
        x = np.array([a for a, _ in pairs], dtype=float)
        y = np.array([b for _, b in pairs], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert got[p]["n_orders"] == len(pairs)
        assert abs(got[p]["slope_usd_per_day"] - slope) < 1e-4
        assert abs(got[p]["intercept_usd"] - intercept) < 1e-1
        r = np.corrcoef(x, y)[0, 1]
        assert abs(got[p]["r2"] - r * r) < 1e-6


def test_zipf_slope_in_language_range(spark, sf_dir):
    """The fit covers the whole (small, near-uniform) synthetic
    vocabulary: slope is negative (frequency falls with rank by
    construction of the ranking) and r² is a valid fraction. The
    synthetic corpus draws tokens near-uniformly, so the slope is
    shallow and the fit weak — the op's job is the mechanism; real
    corpora land near slope ≈ −1."""
    row = text_zipf_fit(spark, sf_dir).collect()[0]
    assert 10 <= row["n_tokens_fit"] <= ZIPF_TOP
    assert row["zipf_slope_milli"] < 0
    assert 0.0 <= row["r2"] <= 1.0


def test_rolling_corr_bounded_and_full_frames(spark, sf_dir):
    """Every emitted correlation is in [-1, 1] and only full frames
    (rn ≥ CORR_FRAME, rn % CORR_EVERY == 0) are emitted."""
    rows = window_rolling_corr(spark, sf_dir).collect()
    assert rows, "expected sampled rows"
    for r in rows:
        assert r["rn"] % 100 == 0 and r["rn"] >= CORR_FRAME
        assert -1.0 - 1e-9 <= r["rolling_corr"] <= 1.0 + 1e-9
    # spot-check one frame against numpy on the same quantized inputs
    sup, rn = rows[0]["l_suppkey"], rows[0]["rn"]
    frame = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_suppkey") == sup)
        .select(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .collect()[rn - CORR_FRAME : rn]
    )
    x = np.array([r["x"] for r in frame], dtype=float)
    y = np.array([r["y"] for r in frame], dtype=float)
    want = float(np.corrcoef(x, y)[0, 1])
    assert math.isclose(rows[0]["rolling_corr"], want, abs_tol=1e-5)


def test_psi_full_grid_and_identity(spark, sf_dir):
    """All PSI_BINS bins are emitted, counts cover every order, the
    total equals the exact sum of the terms, and PSI of a distribution
    against itself would be 0 (every term ≥ 0 is NOT true for PSI —
    terms are individually sign-free — but (p−q) and ln(p/q) always
    share a sign, so each term must be ≥ 0 up to rounding)."""
    rows = quality_psi_drift(spark, sf_dir).collect()
    assert [r["bin_id"] for r in rows] == list(range(PSI_BINS))
    n_orders = load(spark, sf_dir, "orders").count()
    assert sum(r["n_a"] + r["n_b"] for r in rows) == n_orders
    total = rows[0]["psi_total"]
    assert all(math.isclose(r["psi_total"], total) for r in rows)
    assert math.isclose(total, sum(r["psi_term"] for r in rows), abs_tol=1e-9)
    assert all(r["psi_term"] >= -1e-6 for r in rows)


def test_entropy_bounds(spark, sf_dir):
    """0 ≤ entropy ≤ log2(n_langs); evenness ∈ [0, 1]; doc counts
    conserve corpus mass."""
    rows = agg_entropy_balance(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        cap = math.log2(r["n_langs"]) if r["n_langs"] > 1 else 0.0
        assert -1e-6 <= r["entropy_bits"] <= cap + 1e-4
        assert -1e-6 <= r["evenness"] <= 1.0 + 1e-6


def test_transition_matrix_stochastic(spark, sf_dir):
    """Each from_type's probabilities sum to ~1 and transition counts
    equal total events minus one last-event per user."""
    rows = seq_transition_matrix(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_transitions"] for r in rows) == n_events - n_users
    by_from: dict[str, float] = {}
    for r in rows:
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["prob"]
    for s in by_from.values():
        assert math.isclose(s, 1.0, abs_tol=1e-4)


def test_ks_matches_numpy(spark, sf_dir):
    """Binned two-sample KS against a numpy recomputation on the same
    binning; bounds and mass conservation."""
    row = quality_ks_drift(spark, sf_dir).collect()[0]
    orders = (
        load(spark, sf_dir, "orders")
        .select(
            F.least(F.lit(999), F.floor(F.col("o_totalprice") / 500)).alias("b"),
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).alias("a"),
        )
        .collect()
    )
    assert row["n_a"] + row["n_b"] == len(orders)
    assert 0.0 <= row["ks_stat"] <= 1.0
    bins_a = np.zeros(1000)
    bins_b = np.zeros(1000)
    for r in orders:
        (bins_a if r["a"] else bins_b)[r["b"]] += 1
    cdf_a = np.cumsum(bins_a) / bins_a.sum()
    cdf_b = np.cumsum(bins_b) / bins_b.sum()
    assert math.isclose(row["ks_stat"], np.abs(cdf_a - cdf_b).max(), abs_tol=1e-5)


def test_null_aware_anti_semantics(spark, sf_dir):
    """NOT IN over a NULL-free subquery equals NOT EXISTS; one NULL in
    the subquery collapses NOT IN to zero rows."""
    from parquet_batch_spark.operators.joins import join_null_aware_anti

    row = join_null_aware_anti(spark, sf_dir).collect()[0]
    assert row["n_not_exists"] > 0
    assert row["n_not_in_clean"] == row["n_not_exists"]
    assert row["n_not_in_nullable"] == 0


def test_chi2_nonnegative_and_dof(spark, sf_dir):
    """χ² ≥ 0; dof = (r−1)(c−1) for the status × priority table."""
    row = agg_chi_square_independence(spark, sf_dir).collect()[0]
    o = load(spark, sf_dir, "orders")
    r = o.select("o_orderstatus").distinct().count()
    c = o.select("o_orderpriority").distinct().count()
    assert row["dof"] == (r - 1) * (c - 1)
    assert row["chi2_stat"] >= 0.0
    n = o.count()
    want_v = math.sqrt(row["chi2_stat"] / (n * min(r - 1, c - 1)))
    assert math.isclose(row["cramers_v"], want_v, abs_tol=1e-5)
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_ols_multivar_matches_numpy(spark, sf_dir):
    """Cramer's-rule betas match numpy lstsq on the same integer
    design matrix; r² in [0, 1]."""
    row = ml_ols_multivar(spark, sf_dir).collect()[0]
    per_order = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("x1"),
            F.sum(F.col("l_quantity").cast("long")).alias("x2"),
        )
    )
    data = (
        load(spark, sf_dir, "orders")
        .join(per_order, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("x1", "x2", F.floor("o_totalprice").cast("long").alias("y"))
        .collect()
    )
    X = np.array([[1.0, r["x1"], r["x2"]] for r in data])
    y = np.array([float(r["y"]) for r in data])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert row["n_orders"] == len(data)
    assert abs(row["beta_intercept"] - beta[0]) < 1e-2
    assert abs(row["beta_items"] - beta[1]) < 1e-2
    assert abs(row["beta_quantity"] - beta[2]) < 1e-2
    assert 0.0 <= row["r2"] <= 1.0


def test_pmi_symmetric_bounds(spark, sf_dir):
    """Pair counts never exceed either single count; PMI ≤ the
    theoretical max log2(N/max(c_a,c_b)); pairs are oriented a<b."""
    rows = text_pmi_cooccurrence(spark, sf_dir).collect()
    assert rows
    n_docs = load(spark, sf_dir, "documents").count()
    for r in rows:
        assert r["ta"] < r["tb"]
        assert r["c_ab"] <= min(r["c_a"], r["c_b"])
        cap = math.log2(n_docs / max(r["c_a"], r["c_b"])) + 1e-6
        assert r["pmi"] <= cap


def test_bootstrap_means_concentrate(spark, sf_dir):
    """All B resamples emitted; each effective n within 5σ of the
    Poisson total (≈N ± 5√N); resample means bracket the observed
    mean collectively."""
    from parquet_batch_spark.operators.stats.sample import BOOT_B

    rows = sample_bootstrap_means(spark, sf_dir).collect()
    assert len(rows) == BOOT_B
    o = load(spark, sf_dir, "orders")
    n = o.count()
    true_mean = (
        o.select(F.floor("o_totalprice").cast("long").alias("y"))
        .agg(F.avg("y"))
        .collect()[0][0]
    )
    for r in rows:
        assert abs(r["n_eff"] - n) < 5 * math.sqrt(n) + 10
    boot = [r["boot_mean"] for r in rows]
    assert min(boot) < true_mean < max(boot)


def test_km_survival_monotone(spark, sf_dir):
    """Survival is non-increasing in t, within (0, 1]; n_risk is
    non-increasing; first n_risk equals the user count."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_survival_km

    rows = agg_survival_km(spark, sf_dir).collect()
    assert rows
    n_users = load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    assert rows[0]["n_risk"] <= n_users
    last_s, last_r = 1.0 + 1e-9, n_users + 1
    for r in rows:
        assert 0.0 < r["survival"] <= last_s + 1e-9
        assert r["n_risk"] <= last_r
        assert 0 < r["n_events"] <= r["n_risk"]
        last_s, last_r = r["survival"], r["n_risk"]


def test_cusum_one_row_per_type(spark, sf_dir):
    """One changepoint per event type; excursion ≥ 0; the changepoint
    day lies within the observed day range."""
    from parquet_batch_spark.operators.stats.window import window_cusum_changepoint

    rows = window_cusum_changepoint(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    types = {r["event_type"] for r in ev.select("event_type").distinct().collect()}
    assert {r["event_type"] for r in rows} == types
    lo, hi = ev.agg(
        F.min(F.col("ts").cast("date")), F.max(F.col("ts").cast("date"))
    ).collect()[0]
    for r in rows:
        assert r["excursion_usd"] >= 0.0
        assert lo <= r["changepoint_day"] <= hi


def test_pivot_multi_mass_conserved(spark, sf_dir):
    """Pivoted counts sum to the order count; revenue cells sum to
    total revenue (exact decimal on both sides)."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_pivot_multi

    rows = agg_pivot_multi(spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders")
    assert sum(r["f_n"] + r["o_n"] + r["p_n"] for r in rows) == o.count()
    from parquet_batch_spark.functions.numeric import dsum

    total = o.agg(dsum("o_totalprice", "t")).collect()[0]["t"]
    got = sum(r["f_rev"] + r["o_rev"] + r["p_rev"] for r in rows)
    assert abs(got - total) < 1e-4


def test_ab_assignment_balanced_and_deterministic(spark, sf_dir):
    """Both arms present, near-50/50 (SRM χ² under a generous bound for
    an honest hash), and the assignment is identical across runs."""
    from parquet_batch_spark.operators.stats.sample import sample_ab_assignment_srm

    rows1 = sample_ab_assignment_srm(spark, sf_dir).collect()
    rows2 = sample_ab_assignment_srm(spark, sf_dir).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]
    assert {r["arm"] for r in rows1} == {"A", "B"}
    n = sum(r["n"] for r in rows1)
    for r in rows1:
        assert abs(r["n"] - n / 2) < 4 * math.sqrt(n)
        assert r["srm_chi2"] == rows1[0]["srm_chi2"]


def test_acf_bounds_and_lag1_positive(spark, sf_dir):
    """ACF values lie in [-1, 1]; exactly ACF_MAX_LAG rows; pair counts
    shrink by one per lag; numpy cross-check at lag 1."""
    from parquet_batch_spark.operators.stats.window import ACF_MAX_LAG, window_acf_lags

    rows = window_acf_lags(spark, sf_dir).collect()
    assert [r["lag"] for r in rows] == list(range(1, ACF_MAX_LAG + 1))
    for r in rows:
        assert -1.0 - 1e-6 <= r["acf"] <= 1.0 + 1e-6
    assert all(
        rows[i]["n_pairs"] == rows[0]["n_pairs"] - i for i in range(len(rows))
    )
    daily = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
        .orderBy("day")
        .collect()
    )
    x = np.array([r["x"] for r in daily], dtype=float)
    mean = x.mean()
    denom = ((x - mean) ** 2).sum()
    num = ((x[1:] * x[:-1]).sum() - mean * (x[1:].sum() + x[:-1].sum())
           + (len(x) - 1) * mean * mean)
    assert math.isclose(rows[0]["acf"], num / denom, abs_tol=1e-5)


def test_ltv_curve_monotone(spark, sf_dir):
    """Cumulative revenue is non-decreasing within each cohort; LTV per
    customer equals cum/size; offsets within range."""
    from parquet_batch_spark.operators.stats.agg_descriptive import (
        LTV_MAX_OFFSET,
        agg_cohort_ltv_curve,
    )

    rows = agg_cohort_ltv_curve(spark, sf_dir).collect()
    assert rows
    last = {}
    for r in rows:
        assert 0 <= r["offset"] <= LTV_MAX_OFFSET
        key = r["cohort_year"]
        assert r["cum_revenue"] >= last.get(key, 0.0) - 1e-9
        last[key] = r["cum_revenue"]
        assert math.isclose(
            r["ltv_per_customer"], round(r["cum_revenue"] / r["n_customers"], 6),
            abs_tol=1e-9,
        )


def test_freshness_accounting(spark, sf_dir):
    """active + missing = expected for every stream; gaps and staleness
    fit inside the span; every event type present."""
    from parquet_batch_spark.operators.stats.quality import quality_freshness_sla

    rows = quality_freshness_sla(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    types = {r["event_type"] for r in ev.select("event_type").distinct().collect()}
    assert {r["event_type"] for r in rows} == types
    for r in rows:
        assert r["n_hours_active"] + r["n_hours_missing"] == r["n_hours_expected"]
        assert 0 <= r["longest_gap_hours"] < r["n_hours_expected"]
        assert 0 <= r["staleness_hours"] < r["n_hours_expected"]


def test_hist2d_shares(spark, sf_dir):
    """Cell counts conserve mass; row shares sum to 1 per price band;
    total shares sum to 1."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_hist2d_joint

    rows = agg_hist2d_joint(spark, sf_dir).collect()
    n = load(spark, sf_dir, "lineitem").count()
    assert sum(r["n"] for r in rows) == n
    assert math.isclose(sum(r["total_share"] for r in rows), 1.0, abs_tol=1e-3)
    by_band: dict[int, float] = {}
    for r in rows:
        by_band[r["price_band"]] = by_band.get(r["price_band"], 0.0) + r["row_share"]
    for s in by_band.values():
        assert math.isclose(s, 1.0, abs_tol=1e-3)


def test_peak_concurrency_brute_force(spark, sf_dir):
    """Distributed two-phase sweep equals a driver-side brute-force
    sweep over the same session intervals; peaks are positive and
    bounded by the user count."""
    from parquet_batch_spark.operators.stats.window import PEAK_GAP_S, window_peak_concurrency

    rows = window_peak_concurrency(spark, sf_dir).collect()
    assert rows
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", F.floor(F.unix_timestamp("ts")).cast("long").alias("s"))
        .orderBy("user_id", "s", "event_id")
        .collect()
    )
    n_users = len({r["user_id"] for r in ev})
    # brute-force sessionize + sweep
    sessions = []
    cur_user, s0, s1 = None, None, None
    for r in ev:
        if r["user_id"] != cur_user or r["s"] - s1 > PEAK_GAP_S:
            if cur_user is not None:
                sessions.append((s0, s1))
            cur_user, s0 = r["user_id"], r["s"]
        s1 = r["s"]
    sessions.append((s0, s1))
    events = sorted(
        [(s, 1) for s, _ in sessions] + [(e, -1) for _, e in sessions],
        key=lambda t: (t[0], t[1]),
    )
    run, peak_by_day = 0, {}
    for sec, d in events:
        run += d
        day = sec // 86400
        if run > peak_by_day.get(day, (0, None))[0]:
            peak_by_day[day] = (run, sec)
    got = {r["day_idx"]: (r["peak_concurrency"], r["peak_first_sec"]) for r in rows}
    for day, (p, sec) in peak_by_day.items():
        assert got[day][0] == p, (day, got[day], p)
    for r in rows:
        assert 0 < r["peak_concurrency"] <= n_users


def test_lsh_recall_eval_consistent(spark, sf_dir):
    """Recall counts are consistent (recalled ≤ both true pairs and
    candidates); the configured 4x4 banding recalls most true pairs."""
    from parquet_batch_spark.operators.dedup import dedup_lsh_recall_eval

    row = dedup_lsh_recall_eval(spark, sf_dir).collect()[0]
    assert 0 < row["n_recalled"] <= row["n_true_pairs"]
    assert row["n_recalled"] <= row["n_candidates"]
    assert row["recall"] >= 0.5  # 4 bands x 4 rows at tau=0.5


def test_attribution_consistent(spark, sf_dir):
    """Attributed counts never exceed purchase counts; 24h-credited ≤
    ever-touched; total purchases match a direct count."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_touch_attribution

    rows = agg_touch_attribution(spark, sf_dir).collect()
    assert rows
    ev = load(spark, sf_dir, "events")
    n_purch = ev.where(F.col("event_type") == "purchase").count()
    assert sum(r["n_purchases"] for r in rows) == n_purch
    for r in rows:
        assert 0 <= r["n_last_touch_24h"] <= r["n_first_touch_ever"] <= r["n_purchases"]
        if r["n_last_touch_24h"] > 0:
            assert 0 <= r["mean_gap_s"] <= 86_400
        else:
            assert r["mean_gap_s"] is None


def test_rfm_mass_and_shares(spark, sf_dir):
    """Segment sizes sum to the customer count; revenue shares sum to
    1; all scores within 1..4; non-trivial segmentation (>5 cells)."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_rfm_segmentation

    rows = agg_rfm_segmentation(spark, sf_dir).collect()
    n_cust = load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert math.isclose(sum(r["revenue_share"] for r in rows), 1.0, abs_tol=1e-3)
    assert len(rows) > 5
    for r in rows:
        assert 1 <= r["r"] <= 4 and 1 <= r["f"] <= 4 and 1 <= r["m"] <= 4


def test_pit_join_exactly_one_version_per_order(spark, sf_dir):
    """The PIT invariant: total matched orders equals the order count
    (every order resolves exactly one dimension version); versioned
    customers split across versions at the switch date."""
    from parquet_batch_spark.operators.joins import join_point_in_time_scd2

    rows = join_point_in_time_scd2(spark, sf_dir).collect()
    n_orders = load(spark, sf_dir, "orders").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    versions = {(r["version"], r["is_current"]) for r in rows}
    assert (1, False) in versions and (2, True) in versions and (1, True) in versions


def test_gap_distribution_mass(spark, sf_dir):
    """Gap count equals orders minus customers; shares sum to 1."""
    from parquet_batch_spark.operators.stats.window import window_order_gap_distribution

    rows = window_order_gap_distribution(spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders")
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r["n_gaps"] for r in rows) == n_orders - n_cust
    assert math.isclose(sum(r["share"] for r in rows), 1.0, abs_tol=1e-3)


def test_coverage_curve_monotone(spark, sf_dir):
    """Coverage is strictly increasing in rank and ends ≤ 1; the last
    checkpoint at or beyond the vocab size covers everything."""
    from parquet_batch_spark.operators.stats.text import text_ngram_coverage_curve

    rows = text_ngram_coverage_curve(spark, sf_dir).collect()
    assert rows
    last = 0.0
    for r in rows:
        assert last < r["coverage"] <= 1.0 + 1e-9
        last = r["coverage"]


def test_importance_weights_ess(spark, sf_dir):
    """Weights are positive and capped; ESS ≤ N and equal across rows;
    a uniform corpus would give weight 1 everywhere."""
    from parquet_batch_spark.operators.stats.sample import IW_CAP, sample_importance_weights

    rows = sample_importance_weights(spark, sf_dir).collect()
    n = load(spark, sf_dir, "documents").count()
    ess = rows[0]["ess_overall"]
    for r in rows:
        assert 0 < r["weight"] <= IW_CAP
        assert r["ess_overall"] == ess
    assert 0 < ess <= n + 1e-6


def test_pca_power_iteration_matches_numpy_replica(spark, sf_dir):
    """The one-pass moment-reduce + integer power iteration equals an
    exact arbitrary-precision replica (second moment from the raw
    corpus, same round-half-away integer normalization), and the
    output direction is milli-normalized (max |loading| = 1000)."""
    from parquet_batch_spark.operators.stats.ml import (
        PCA_DIMS,
        PCA_ITERS,
        embedding_pca_power_iteration,
    )

    rows = embedding_pca_power_iteration(spark, sf_dir).collect()
    assert len(rows) == PCA_DIMS
    got = [r["loading_milli"] for r in sorted(rows, key=lambda r: r["dim"])]
    assert max(abs(c) for c in got) == 1000
    emb = load(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array(
        [[int(round(x * 1000000)) for x in r["embedding"]] for r in emb], dtype=object
    )
    M = X.T @ X  # python-int matrix, exact
    v = np.array([1000] * PCA_DIMS, dtype=object)
    for _ in range(PCA_ITERS):
        u = M @ v
        m = max(int(abs(c)) for c in u) or 1
        v = np.array(
            [
                (2000 * int(c) + m) // (2 * m)
                if int(c) >= 0
                else -((2000 * -int(c) + m) // (2 * m))
                for c in u
            ],
            dtype=object,
        )
    assert got == [int(c) for c in v]


def test_seasonality_index_weighted_mean_one(spark, sf_dir):
    """Day-weighted mean of the indices is 1 (by construction); all 12
    months present with positive revenue."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_seasonality_index

    rows = agg_seasonality_index(spark, sf_dir).collect()
    assert [r["moy"] for r in rows] == list(range(1, 13))
    total_days = sum(r["n_days"] for r in rows)
    weighted = sum(r["seasonality_index"] * r["n_days"] for r in rows) / total_days
    # the index is avg_month/avg_overall; weighting by revenue/idx days
    # recovers ~1 up to rounding
    assert abs(weighted - 1.0) < 0.05
    assert all(r["revenue_usd"] > 0 for r in rows)


def test_heatmap_cells_and_dow_formula(spark, sf_dir):
    """Shares sum to 1; dow/hour in range; the epoch-arithmetic dow
    matches python's weekday convention on a sample day."""
    import datetime

    from parquet_batch_spark.operators.stats.agg_descriptive import agg_weekday_hour_heatmap

    rows = agg_weekday_hour_heatmap(spark, sf_dir).collect()
    assert math.isclose(sum(r["share"] for r in rows), 1.0, abs_tol=1e-3)
    for r in rows:
        assert 0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23
    # 2024-01-01 was a Monday: epoch day 19723 -> (19723+4)%7 == 1 (0=Sunday)
    d = datetime.date(2024, 1, 1)
    epoch_day = (d - datetime.date(1970, 1, 1)).days
    assert (epoch_day + 4) % 7 == 1


def test_elasticity_negative_like_demand(spark, sf_dir):
    """Every part type yields a finite elasticity; n_items conserve the
    joined row count."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_price_elasticity

    rows = agg_price_elasticity(spark, sf_dir).collect()
    assert rows
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    p = load(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey).count()
    assert sum(r["n_items"] for r in rows) == joined
    for r in rows:
        assert math.isfinite(r["elasticity"])


def test_rsi_bounded(spark, sf_dir):
    """RSI lies in [0, 100]; every priority series emits rows; only
    full frames at sampled ranks appear."""
    from parquet_batch_spark.operators.stats.window import window_rsi_momentum

    rows = window_rsi_momentum(spark, sf_dir).collect()
    assert rows
    prios = {r["priority"] for r in rows}
    assert len(prios) == 5
    for r in rows:
        assert 0.0 <= r["rsi"] <= 100.0


def test_surrogate_keys_dense_and_stable(spark, sf_dir):
    """Dense keys are 1..N with no gaps; stable keys are unique and
    invariant across runs; one row per distinct natural key."""
    from parquet_batch_spark.operators.stats.quality import etl_surrogate_keys

    rows1 = etl_surrogate_keys(spark, sf_dir).collect()
    rows2 = etl_surrogate_keys(spark, sf_dir).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]
    n = load(spark, sf_dir, "documents").select("lang", "source").distinct().count()
    assert [r["dense_key"] for r in rows1] == list(range(1, n + 1))
    stable = [r["stable_key"] for r in rows1]
    assert len(set(stable)) == len(stable)


def test_cmgr_recovers_ratio(spark, sf_dir):
    """(1+cmgr)^(n-1) ≈ last/first for every priority."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_growth_cmgr

    rows = agg_growth_cmgr(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        got = (1.0 + r["cmgr"]) ** (r["n_months"] - 1)
        want = r["last_rev"] / r["first_rev"]
        assert math.isclose(got, want, rel_tol=1e-3)


def test_readability_counts_positive(spark, sf_dir):
    """Counts are positive; cohorts cover all docs; words ≥ sentences
    would not hold in general but syllables ≥ words does for vowel
    text — assert the defined invariants only."""
    from parquet_batch_spark.operators.stats.text import text_readability_scores

    rows = text_readability_scores(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["n_words"] > 0 and r["n_sentences"] > 0 and r["n_syllables"] > 0
        assert math.isfinite(r["reading_ease"])


def test_event_paths_ranked(spark, sf_dir):
    """Ranks are 1..k with counts non-increasing; path counts conserve
    (each user contributes max(0, n_i - 2) paths)."""
    from parquet_batch_spark.operators.stats.seq import seq_event_paths

    rows = seq_event_paths(spark, sf_dir).collect()
    assert rows and [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert a["n_paths"] >= b["n_paths"]


def test_stickiness_bounds(spark, sf_dir):
    """dau ≤ wau ≤ mau and stickiness in (0, 1]; every active day has
    a row."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_dau_mau_stickiness

    rows = agg_dau_mau_stickiness(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    n_days = ev.select(
        F.floor(F.floor(F.unix_timestamp("ts")) / 86400)
    ).distinct().count()
    assert len(rows) == n_days
    for r in rows:
        assert 0 < r["dau"] <= r["wau"] <= r["mau"]
        assert 0.0 < r["stickiness"] <= 1.0


def test_duplicate_token_share_consistent(spark, sf_dir):
    """Duplicate docs equal total minus distinct texts; shares bounded;
    token mass conserved against a direct count."""
    from parquet_batch_spark.operators.stats.quality import quality_duplicate_token_share
    from parquet_batch_spark.functions.text import tokens_col

    row = quality_duplicate_token_share(spark, sf_dir).collect()[0]
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()
    n_distinct = d.select("text").distinct().count()
    assert row["n_docs"] == n_docs
    assert row["n_dup_docs"] == n_docs - n_distinct
    total = d.select(F.size(tokens_col("text")).alias("t")).agg(F.sum("t")).collect()[0][0]
    assert row["total_tokens"] == total
    assert 0.0 <= row["dup_token_share"] <= 1.0


def test_norm_outliers_are_extreme(spark, sf_dir):
    """Flagged norms sit outside mean ± 3σ of a numpy recomputation on
    identically quantized vectors."""
    from parquet_batch_spark.operators.stats.ml import embedding_norm_outliers

    rows = embedding_norm_outliers(spark, sf_dir).collect()
    emb = load(spark, sf_dir, "embeddings").select("embedding").collect()
    nks = []
    for r in emb:
        n2 = sum(int(round(x * 1000000)) ** 2 for x in r["embedding"])
        nks.append(math.floor(n2 / 1000000.0))
    mean = sum(nks) / len(nks)
    var = sum(v * v for v in nks) / len(nks) - mean * mean
    lo, hi = mean - 3 * math.sqrt(var), mean + 3 * math.sqrt(var)
    want = sum(1 for v in nks if v < lo or v > hi)
    assert len(rows) == want


def test_xyz_classes_conserve_brands(spark, sf_dir):
    """Class counts sum to the brand count; min ≤ max CV per class."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_xyz_classification

    rows = agg_xyz_classification(spark, sf_dir).collect()
    n_brands = load(spark, sf_dir, "part").select("p_brand").distinct().count()
    assert sum(r["n_brands"] for r in rows) == n_brands
    for r in rows:
        assert r["xyz_class"] in {"X", "Y", "Z"}
        assert 0 <= r["min_cv_micro"] <= r["max_cv_micro"]


def test_code_detection_counts(spark, sf_dir):
    """Cohort doc counts conserve corpus mass; code-like never exceeds
    the cohort size (the synthetic prose corpus should be mostly
    non-code)."""
    from parquet_batch_spark.operators.stats.text import text_code_detection

    rows = text_code_detection(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    total_code = sum(r["n_code_like"] for r in rows)
    assert 0 <= total_code < n_docs / 2
    for r in rows:
        assert 0 <= r["n_code_like"] <= r["n_docs"]


def test_time_split_accounting(spark, sf_dir):
    """Rows and customers conserve; leakage + train-only + val-only
    equals the customer count."""
    from parquet_batch_spark.operators.stats.sample import sample_time_split_leakage

    row = sample_time_split_leakage(spark, sf_dir).collect()[0]
    o = load(spark, sf_dir, "orders")
    assert row["n_train_rows"] + row["n_val_rows"] == o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert (
        row["n_train_only_customers"]
        + row["n_val_only_customers"]
        + row["n_leaking_customers"]
        == n_cust
    )


def test_welch_ttest_matches_scipy_free_formula(spark, sf_dir):
    """t statistic and dof match a numpy recomputation on the same
    floor-dollar samples."""
    from parquet_batch_spark.operators.stats.agg_inference import (
        TT_GROUP_A,
        TT_GROUP_B,
        agg_welch_ttest,
    )

    row = agg_welch_ttest(spark, sf_dir).collect()[0]
    o = load(spark, sf_dir, "orders")
    vals = o.select(
        "o_orderpriority", F.floor("o_totalprice").cast("long").alias("y")
    ).collect()
    a = np.array([r["y"] for r in vals if r["o_orderpriority"] == TT_GROUP_A], dtype=float)
    b = np.array([r["y"] for r in vals if r["o_orderpriority"] == TT_GROUP_B], dtype=float)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    dof = se2 * se2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert math.isclose(row["t_stat"], t, abs_tol=1e-4)
    assert math.isclose(row["welch_dof"], dof, rel_tol=1e-4)


def test_content_sniff_partition(spark, sf_dir):
    """Every doc sniffs into one of the three magic types (no unknown
    for the synthetic corpus); counts follow doc_id mod 3."""
    from parquet_batch_spark.operators.multimodal import multimodal_content_sniff

    rows = multimodal_content_sniff(spark, sf_dir).collect()
    types = {r["media_type"] for r in rows}
    assert types == {"png", "jpeg", "riff"}
    d = load(spark, sf_dir, "documents")
    by_mod = {
        m: d.where(F.col("doc_id") % 3 == m).count() for m in range(3)
    }
    got = {r["media_type"]: r["n_files"] for r in rows}
    assert got["png"] == by_mod[0] and got["jpeg"] == by_mod[1] and got["riff"] == by_mod[2]
    for r in rows:
        assert 4 <= r["min_bytes"] <= r["max_bytes"]


def test_schema_contract_all_match(spark, sf_dir):
    """Every orders column matches the pinned physical contract at this
    SF (the negative case is covered by construction: a MISSING or
    mismatched column would flip `matches`)."""
    from parquet_batch_spark.operators.stats.quality import (
        ORDERS_CONTRACT,
        quality_schema_contract,
    )

    rows = quality_schema_contract(spark, sf_dir).collect()
    assert len(rows) == len(ORDERS_CONTRACT)
    assert all(r["matches"] for r in rows)
    assert [r["column_name"] for r in rows] == [n for n, _ in ORDERS_CONTRACT]


def test_kfold_partitions_customers(spark, sf_dir):
    """All K folds present; customer counts partition the customer set;
    train+fold = total for every fold; assignment deterministic."""
    from parquet_batch_spark.operators.stats.sample import KFOLD_K, sample_kfold_assignment

    rows1 = sample_kfold_assignment(spark, sf_dir).collect()
    rows2 = sample_kfold_assignment(spark, sf_dir).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]
    assert [r["fold"] for r in rows1] == list(range(KFOLD_K))
    n_cust = load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows1) == n_cust
    for r in rows1:
        assert r["n_customers"] + r["n_train_customers"] == n_cust


def test_edit_distance_properties(spark, sf_dir):
    """Edit distance respects the length-difference lower bound and
    max-length upper bound; similarity in [0, 1e6]."""
    from parquet_batch_spark.operators.stats.text import func_edit_distance

    rows = func_edit_distance(spark, sf_dir).collect()
    assert rows
    for r in rows:
        la, lb = len(r["p_name"]), len(r["next_name"])
        assert abs(la - lb) <= r["edit_distance"] <= max(la, lb)
        assert 0 <= r["similarity_micro"] <= 1_000_000


def test_nulls_placement_semantics(spark, sf_dir):
    """With NULLS LAST the null keys take the highest ranks; with
    NULLS FIRST the lowest; non-null relative order is identical."""
    from parquet_batch_spark.operators.stats.agg_descriptive import sort_nulls_placement

    rows = sort_nulls_placement(spark, sf_dir).collect()
    nulls = [r for r in rows if r["prio_digit"] is None]
    nonnull = [r for r in rows if r["prio_digit"] is not None]
    assert nulls and nonnull
    n = len(rows)
    assert {r["rn_nulls_last"] for r in nulls} == set(
        range(n - len(nulls) + 1, n + 1)
    )
    assert {r["rn_nulls_first"] for r in nulls} == set(range(1, len(nulls) + 1))
    shift = len(nulls)
    for r in nonnull:
        assert r["rn_nulls_first"] == r["rn_nulls_last"] + shift


def test_smoothed_means_shrink_toward_grand(spark, sf_dir):
    """Smoothed means sit between the raw mean and the grand mean;
    shrink weight matches n/(n+K); group masses conserve."""
    from parquet_batch_spark.operators.stats.agg_descriptive import (
        SMOOTH_K,
        agg_smoothed_group_means,
    )

    rows = agg_smoothed_group_means(spark, sf_dir).collect()
    p = load(spark, sf_dir, "part")
    n_parts = p.count()
    assert sum(r["n"] for r in rows) == n_parts
    grand = (
        p.select(F.floor("p_retailprice").cast("long").alias("y"))
        .agg(F.sum("y") / F.count("y"))
        .collect()[0][0]
    )
    for r in rows:
        lo, hi = sorted((r["raw_mean"], grand))
        assert lo - 1e-6 <= r["smoothed_mean"] <= hi + 1e-6
        assert math.isclose(r["shrink_weight"], r["n"] / (r["n"] + SMOOTH_K), abs_tol=1e-6)


def test_fano_positive(spark, sf_dir):
    """Fano factors positive and finite; all event types covered."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_fano_dispersion

    rows = agg_fano_dispersion(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["mean_daily"] > 0 and r["fano_factor"] >= 0
        assert math.isfinite(r["fano_factor"])


def test_anova_matches_numpy(spark, sf_dir):
    """F statistic matches a numpy recomputation on floor-dollar
    values; SS decomposition is consistent (SSB + SSW = SST)."""
    from parquet_batch_spark.operators.stats.agg_inference import agg_anova_oneway

    row = agg_anova_oneway(spark, sf_dir).collect()[0]
    vals = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", F.floor("o_totalprice").cast("long").alias("y"))
        .collect()
    )
    groups: dict = {}
    for r in vals:
        groups.setdefault(r["o_orderpriority"], []).append(float(r["y"]))
    ys = [v for g in groups.values() for v in g]
    grand = sum(ys) / len(ys)
    ssb = sum(len(g) * (sum(g) / len(g) - grand) ** 2 for g in groups.values())
    ssw = sum((v - sum(g) / len(g)) ** 2 for g in groups.values() for v in g)
    k, n = len(groups), len(ys)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["n_groups"] == k and row["n_rows"] == n
    assert math.isclose(row["f_stat"], f, rel_tol=1e-6)
    assert abs(row["ss_between"] + row["ss_within"] - (ssb + ssw)) < 10


def test_wilson_interval_contains_rate(spark, sf_dir):
    """Wilson bounds bracket the point rate, stay in [0,1], and narrow
    as n grows."""
    from parquet_batch_spark.operators.stats.agg_inference import agg_conversion_wilson_ci

    rows = agg_conversion_wilson_ci(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["wilson_lo"] <= r["rate"] <= r["wilson_hi"] <= 1.0


def test_mde_positive_and_scaled(spark, sf_dir):
    """MDE positive; relative MDE consistent with absolute over the
    pooled mean; arms match the SRM op's split."""
    from parquet_batch_spark.operators.stats.agg_inference import agg_power_mde
    from parquet_batch_spark.operators.stats.sample import sample_ab_assignment_srm

    row = agg_power_mde(spark, sf_dir).collect()[0]
    srm = {r["arm"]: r["n"] for r in sample_ab_assignment_srm(spark, sf_dir).collect()}
    assert row["n_a"] == srm["A"] and row["n_b"] == srm["B"]
    assert row["mde_usd"] > 0 and row["mde_relative"] > 0


def test_ship_latency_shares(spark, sf_dir):
    """Shares sum to 1 per priority; line counts conserve the joined
    row count; buckets non-negative."""
    from parquet_batch_spark.operators.stats.window import window_ship_latency_histogram

    rows = window_ship_latency_histogram(spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert sum(r["n_lines"] for r in rows) == joined
    # synthetic ship dates are independent of order dates, so negative
    # latency buckets legitimately occur — only share mass is asserted
    by_p: dict = {}
    for r in rows:
        by_p[r["priority"]] = by_p.get(r["priority"], 0.0) + r["share"]
    for s in by_p.values():
        assert math.isclose(s, 1.0, abs_tol=1e-3)


def test_did_cells_conserve(spark, sf_dir):
    """Four cell counts partition the orders; DiD equals the cell-mean
    arithmetic recomputed driver-side; A/A placebo effect is small
    relative to mean order value."""
    from parquet_batch_spark.operators.stats.agg_inference import agg_diff_in_diff

    row = agg_diff_in_diff(spark, sf_dir).collect()[0]
    n_orders = load(spark, sf_dir, "orders").count()
    assert (
        row["n_treat_post"] + row["n_treat_pre"] + row["n_ctrl_post"] + row["n_ctrl_pre"]
        == n_orders
    )
    assert math.isclose(
        row["did_estimate"], row["treat_delta"] - row["ctrl_delta"], abs_tol=2e-6
    )
    assert abs(row["did_estimate"]) < 30000  # placebo: no real effect


def test_js_divergence_bounds(spark, sf_dir):
    """JS divergence in [0, 1] bits for every source pair; all pairs
    present; near-zero for same-distribution synthetic sources."""
    from parquet_batch_spark.operators.stats.text import text_js_divergence

    rows = text_js_divergence(spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    k = d.select("source").distinct().count()
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        assert -1e-6 <= r["js_bits"] <= 1.0 + 1e-6


def test_mann_whitney_matches_scipy_formula(spark, sf_dir):
    """U statistics match a direct tie-aware recomputation; U_a + U_b
    = n_a * n_b."""
    from parquet_batch_spark.operators.stats.agg_inference import (
        TT_GROUP_A,
        TT_GROUP_B,
        agg_mann_whitney_u,
    )

    row = agg_mann_whitney_u(spark, sf_dir).collect()[0]
    vals = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin(TT_GROUP_A, TT_GROUP_B))
        .select("o_orderpriority", F.floor("o_totalprice").cast("long").alias("y"))
        .collect()
    )
    a = sorted(r["y"] for r in vals if r["o_orderpriority"] == TT_GROUP_A)
    b = sorted(r["y"] for r in vals if r["o_orderpriority"] == TT_GROUP_B)
    # tie-aware U via average ranks
    combined = sorted((v, 0) for v in a) + sorted((v, 1) for v in b)
    combined.sort(key=lambda t: t[0])
    ranks: dict = {}
    i = 0
    while i < len(combined):
        j = i
        while j < len(combined) and combined[j][0] == combined[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0
        ranks[combined[i][0]] = avg
        i = j
    ra = sum(ranks[v] for v in a)
    u_a = ra - len(a) * (len(a) + 1) / 2.0
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert math.isclose(row["u_a"], u_a, abs_tol=1e-6)
    assert math.isclose(row["u_a"] + row["u_b"], len(a) * len(b), abs_tol=1e-6)


def test_runs_test_brute_force(spark, sf_dir):
    """Runs count matches a driver-side recomputation; counts conserve
    the day series length minus one."""
    from parquet_batch_spark.operators.stats.window import window_runs_test

    row = window_runs_test(spark, sf_dir).collect()[0]
    daily = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("day")
        .agg(F.sum("yd").alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily]
    ups = [1 if b > a else 0 for a, b in zip(xs, xs[1:])]
    runs = 1 + sum(1 for a, b in zip(ups, ups[1:]) if a != b)
    assert row["n_up"] + row["n_down"] == len(xs) - 1
    assert row["n_up"] == sum(ups)
    assert row["n_runs"] == runs


def test_jsonl_corrupt_accounting(spark, sf_dir):
    """Good + corrupt = total lines; corrupt count matches the staging
    rule; size sum matches the relational recomputation."""
    from parquet_batch_spark.operators.sources_ext import (
        CORRUPT_EVERY,
        source_jsonl_corrupt_tolerant,
    )

    row = source_jsonl_corrupt_tolerant(spark, sf_dir).collect()[0]
    p = load(spark, sf_dir, "part")
    n = p.count()
    n_corrupt = p.where(F.col("p_partkey") % CORRUPT_EVERY == 0).count()
    assert row["n_lines"] == n
    assert row["n_corrupt"] == n_corrupt
    assert row["n_good"] == n - n_corrupt


def test_split_gain_nonnegative(spark, sf_dir):
    """Split gain is ≥ 0 (up to term rounding) for every feature —
    conditioning never increases Gini impurity; parent impurity within
    (0, 1−1/k]."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_split_gain_gini

    rows = agg_split_gain_gini(spark, sf_dir).collect()
    assert {r["feature"] for r in rows} == {"priority", "value_band", "order_year"}
    for r in rows:
        assert 0.0 < r["parent_gini"] <= 1.0
        assert r["gain"] >= -1e-4
        assert r["child_gini"] <= r["parent_gini"] + 1e-4


def test_char_entropy_band(spark, sf_dir):
    """Natural-language cohorts sit in a sane entropy band (2-6 bits);
    doc counts conserve corpus mass."""
    from parquet_batch_spark.operators.stats.text import text_char_entropy

    rows = text_char_entropy(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 2_000_000 <= r["avg_char_entropy_micro"] <= 6_000_000


def test_bounce_rate_consistency(spark, sf_dir):
    """Bounces never exceed sessions; session totals match the peak-
    concurrency op's session starts per day."""
    from parquet_batch_spark.operators.stats.window import (
        window_bounce_rate,
        window_peak_concurrency,
    )

    rows = window_bounce_rate(spark, sf_dir).collect()
    peaks = {
        r["day_idx"]: r["n_sessions_started"]
        for r in window_peak_concurrency(spark, sf_dir).collect()
    }
    for r in rows:
        assert 0 <= r["n_bounces"] <= r["n_sessions"]
        assert r["n_sessions"] == peaks[r["day_idx"]]
        assert 0.0 <= r["bounce_rate"] <= 1.0


def test_hll_sweep_bounds_hold(spark, sf_dir):
    """Every configured precision lands within the oracle's 5-sigma
    band AND the tight 3-sigma band asserted HERE instead of in the
    oracle (ADVICE r7: ~0.3% flip chance per cell per dataset
    regeneration — this test may legitimately fail on a regeneration,
    driver parity must not)."""
    from parquet_batch_spark.operators.stats.agg_descriptive import (
        HLL_RSDS,
        approx_hll_precision_sweep,
    )

    row = approx_hll_precision_sweep(spark, sf_dir).collect()[0]
    exact = load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    assert row["exact_customers"] == exact
    for k, v in row.asDict().items():
        if k.startswith("within_5sigma_"):
            assert v is True, k
    # tight 3-sigma bands, recomputed directly
    o = load(spark, sf_dir, "orders")
    for rsd in HLL_RSDS:
        a = o.agg(F.approx_count_distinct("o_custkey", rsd)).collect()[0][0]
        assert abs(a / exact - 1.0) <= 3.0 * rsd, (rsd, a, exact)


def test_consistency_audit_counts(spark, sf_dir):
    """Violation counts match a direct filter; shares bounded."""
    from parquet_batch_spark.operators.stats.quality import quality_cross_field_consistency

    rows = quality_cross_field_consistency(spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    joined = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    direct = joined.where(
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) < 0
    ).count()
    assert sum(r["n_violations"] for r in rows) == direct
    for r in rows:
        assert 0.0 <= r["violation_share"] <= 1.0


def test_rule_eval_confusion_consistent(spark, sf_dir):
    """Confusion cells partition the orders; F1 is the harmonic mean of
    the reported precision/recall."""
    from parquet_batch_spark.operators.stats.ml import ml_rule_eval_f1

    row = ml_rule_eval_f1(spark, sf_dir).collect()[0]
    n = load(spark, sf_dir, "orders").count()
    assert row["tp"] + row["fp"] + row["fn"] + row["tn"] == n
    p, r = row["precision"], row["recall"]
    assert math.isclose(row["f1"], 2 * p * r / (p + r), abs_tol=2e-6)


def test_lognormal_fit_matches_numpy(spark, sf_dir):
    """mu/sigma match numpy on identically milli-quantized logs; the
    fitted mean exceeds the fitted median (lognormal skew)."""
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_lognormal_fit

    rows = {r["priority"]: r for r in agg_lognormal_fit(spark, sf_dir).collect()}
    vals = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", F.round(F.log("o_totalprice") * 1000).cast("long").alias("x"))
        .collect()
    )
    groups: dict = {}
    for r in vals:
        groups.setdefault(r["o_orderpriority"], []).append(r["x"])
    for p, xs in groups.items():
        a = np.array(xs, dtype=float)
        mu = a.mean() / 1000.0
        sigma = math.sqrt(a.var() / 1e6)
        assert math.isclose(rows[p]["mu_log"], mu, abs_tol=1e-5)
        assert math.isclose(rows[p]["sigma_log"], sigma, abs_tol=1e-5)
        assert rows[p]["fitted_mean"] > rows[p]["fitted_median"]


def test_iso_week_rollup_boundaries(spark, sf_dir):
    """Order mass conserves; cross-year orders exist only in weeks 1
    and 52/53; weeks within 1..53."""
    from parquet_batch_spark.operators.stats.window import rollup_iso_week

    rows = rollup_iso_week(spark, sf_dir).collect()
    n = load(spark, sf_dir, "orders").count()
    assert sum(r["n_orders"] for r in rows) == n
    for r in rows:
        assert 1 <= r["iso_week"] <= 53
        if r["n_cross_year"] > 0:
            assert r["iso_week"] in (1, 52, 53)
    assert any(r["n_cross_year"] > 0 for r in rows)


def test_realized_vol_positive(spark, sf_dir):
    """Volatility positive for months with returns; return counts
    conserve (days − 1)."""
    from parquet_batch_spark.operators.stats.window import window_realized_volatility

    rows = window_realized_volatility(spark, sf_dir).collect()
    n_days = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date"))
        .distinct()
        .count()
    )
    assert sum(r["n_returns"] for r in rows) == n_days - 1
    for r in rows:
        assert r["realized_vol"] >= 0.0


def test_kendall_tau_matches_brute_force(spark, sf_dir):
    """τ matches a driver-side pair count; components partition the
    pair count."""
    from parquet_batch_spark.operators.stats.agg_inference import agg_kendall_tau

    row = agg_kendall_tau(spark, sf_dir).collect()[0]
    assert row["concordant"] + row["discordant"] + row["tied"] == row["n_pairs"]
    assert -1.0 <= row["kendall_tau"] <= 1.0
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.floor("o_totalprice").cast("long")).alias("rev"))
    )
    nation = (
        load(spark, sf_dir, "customer")
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.coalesce("rev", F.lit(0))).alias("r"))
        .collect()
    )
    pts = [(x["n"], x["r"]) for x in nation]
    conc = disc = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            s = (pts[i][0] - pts[j][0]) * (pts[i][1] - pts[j][1])
            if s > 0:
                conc += 1
            elif s < 0:
                disc += 1
    assert row["concordant"] == conc and row["discordant"] == disc


def test_seasonal_decompose_shares(spark, sf_dir):
    """The three variance shares approximately partition 1 (cross-terms
    and quantization keep it from exact); each share is a sane
    fraction; interior-day count matches days − (MA − 1)."""
    from parquet_batch_spark.operators.stats.window import DECOMP_MA, window_seasonal_decompose

    row = window_seasonal_decompose(spark, sf_dir).collect()[0]
    n_days = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date"))
        .distinct()
        .count()
    )
    assert row["n_days_used"] == n_days - (DECOMP_MA - 1)
    total = row["trend_share"] + row["seasonal_share"] + row["residual_share"]
    assert 0.8 < total < 1.2
    assert row["residual_share"] >= 0.0


def test_spearman_matches_scipy_free(spark, sf_dir):
    """ρ matches a driver-side recomputation with average ranks and is
    directionally consistent with Kendall's τ on the same table."""
    from parquet_batch_spark.operators.stats.agg_inference import agg_kendall_tau, agg_spearman_rho

    row = agg_spearman_rho(spark, sf_dir).collect()[0]
    tau = agg_kendall_tau(spark, sf_dir).collect()[0]["kendall_tau"]
    assert -1.0 <= row["spearman_rho"] <= 1.0
    if abs(tau) > 0.2:
        assert (row["spearman_rho"] > 0) == (tau > 0)
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.floor("o_totalprice").cast("long")).alias("rev"))
    )
    nation = (
        load(spark, sf_dir, "customer")
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.coalesce("rev", F.lit(0))).alias("r"))
        .collect()
    )
    def avg_ranks(vals):
        out = {}
        sv = sorted(vals)
        for v in set(vals):
            lo = sv.index(v) + 1
            hi = lo + vals.count(v) - 1
            out[v] = (lo + hi) / 2.0
        return [out[v] for v in vals]

    xs = [x["n"] for x in nation]
    ys = [x["r"] for x in nation]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(rx)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry))
    assert math.isclose(row["spearman_rho"], num / den, abs_tol=1e-6)
