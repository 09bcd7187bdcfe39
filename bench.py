#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <scale factor>}

Each query is materialized fully via the noop sink (no driver collect
— measures the distributed plan, not result serialization). One warm
JVM, queries timed individually after a scan warmup.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from parquet_batch_spark.operators import all_queries  # noqa: E402
from parquet_batch_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative slice of SURVEY §2: reference-parity scan path,
# relational core, joins, windows, and every north-star family.
HEADLINE = [
    "scan_projection",
    "filter_pushdown",
    "q1_pricing_summary",
    "agg_distinct",
    "join_broadcast_dims",
    "join_fact_fact",
    "tpch_q3",
    "tpch_q5",
    "tpch_q8",
    "tpch_q10",
    "tpch_q17",
    "tpch_q18",
    "agg_percentiles",
    "explode_word_counts",
    "window_topk_per_group",
    "window_sessionize",
    "sort_topk",
    "func_json",
    "text_fingerprint",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "multimodal_decode_features",
    # r2 additions (HEADLINE is add-only so per-round deltas stay comparable)
    "pii_detect",
    "decontam_ngram_overlap",
    "quality_repetition",
    "window_retention_cohort",
    "join_dpp_prune",
    # r4 additions
    "join_bloom_prefilter",
    "dedup_containment",
    "etl_cdc_apply",
    "sample_reservoir_per_group",
    "embedding_kmeans_rollup",
    # r4 additions, llm_prep batch
    "seq_pack_chunks",
    "dedup_paragraph",
    "dedup_incremental_novelty",
    "text_rarity_score",
    "window_ewma_decay",
    "curation_pipeline_funnel",
    # r4 additions, batches 3-6
    "multimodal_dedup_phash",
    "text_bigram_surprisal",
    "graph_degree_histogram",
    "join_asof_tolerance",
    "agg_filtered",
    "window_percent_change",
    # r4 additions, final session
    "udf_map_in_arrow",
    "approx_hll_union_sketch",
    "join_lateral_topk",
    "agg_minmax_by",
    "func_regexp",
    # r4 additions, continuation session
    "etl_incremental_agg",
    "scan_minmax_skipping",
    "agg_bitmap_distinct",
    "quality_gopher_rules",
    "dedup_url_canonical",
    "agg_weighted_median",
    "window_interval_coalesce",
    "join_spatial_grid_radius",
    "window_max_drawdown",
    "window_time_weighted_avg",
    "embedding_dim_stats",
    "feature_hashing_vectorize",
    "sql_recursive_hierarchy",
    "agg_decile_report",
    "agg_pct_of_parent",
    "window_rank_shift",
    "quality_source_gini",
    "agg_vwap",
    "window_seasonal_baseline",
    "etl_golden_record",
    "quality_merkle_checksums",
    # r4 additions, stats batch (third session)
    "agg_regression_per_group",
    "ml_ols_multivar",
    "window_rolling_corr",
    "quality_psi_drift",
    "text_pmi_cooccurrence",
    "sample_bootstrap_means",
    "agg_survival_km",
    "window_peak_concurrency",
    "dedup_lsh_recall_eval",
    "embedding_pca_power_iteration",
    # r5 additions: the CC op was the slowest in the registry and
    # deliberately absent — a bench that excludes its slowest op is
    # grading itself (r4 VERDICT #5).  Now consumes the shared
    # materialized LSH candidate table.
    "dedup_clusters",
    # r5 north-star additions: word-aligned duplicated-span detection,
    # SemDeDup semantic dedup, audio-frame energy, MRL truncation eval
    "dedup_exact_substring",
    "dedup_semantic_cluster",
    "multimodal_audio_energy",
    "embedding_matryoshka_eval",
    "multimodal_video_frame_diff",
    "sample_coreset_kcenter",
    # r5 wave 2: Bloom decontam screen, CDC chunk dedup, DSIR
    # selection, PQ+rerank ANN cascade
    "decontam_bloom_filter",
    "dedup_cdc_chunking",
    "text_dsir_importance",
    "ann_pq_adc",
    "text_watermark_greenlist",
    "ann_ivfpq_topk",
    # r5 third-session additions
    "graph_kcore",
    "privacy_l_diversity",
    "text_tokenizer_fertility",
    "multimodal_aspect_bucket",
    "text_lexical_diversity",
    "etl_time_travel",
    "agg_hodges_lehmann",
    "graph_neighborhood_jaccard",
    "multimodal_caption_alignment",
    "scan_rowgroup_stats",
    "privacy_randomized_response",
    "sample_pps_systematic",
    "udf_pandas_scalar_iter",
    "dedup_threshold_sweep",
    "agg_expected_calibration_error",
    "text_bm25_topk",
    "ml_naive_bayes_langid",
    "embedding_pq_distortion",
    "sample_negative_sampling",
    "window_allen_interval_relations",
    "agg_ratio_delta_ci",
    "text_winnowing_fingerprints",
    "quality_luhn_validation",
    "agg_shapley_attribution",
    "rollup_sax_symbols",
    "dedup_sorted_neighborhood",
    "etl_data_vault_keys",
    "embedding_random_projection_jl",
    "text_langid_ngram_profile",
    "text_word_burstiness",
    "etl_write_audit_publish",
    "quality_ndcg_ranking_eval",
    "func_geohash_encode",
    "agg_mann_kendall_trend",
    "ml_bradley_terry_ranking",
    "multimodal_patch_token_budget",
    "agg_cohen_kappa",
    "ml_auc_roc",
    "ml_kmeans_lloyd",
    "agg_mcnemar_test",
    "ml_lift_curve",
    # r5 fourth session
    "agg_kruskal_wallis",
    "agg_tukey_hsd",
    "agg_cuped_variance_reduction",
    "ml_average_precision",
    "seq_markov_stationary",
    "window_average_true_range",
    "sql_execute_immediate",
    "privacy_dp_laplace_counts",
    "text_rake_keywords",
    "agg_theil_index",
    "window_hurst_exponent",
    "agg_benjamini_hochberg",
    "text_textrank_keywords",
    "agg_levene_test",
    "window_theil_sen",
    "ml_brier_decomposition",
    "graph_clustering_coefficient",
    "etl_foreign_key_audit",
    "agg_cochran_armitage",
    "sql_table_function",
    "source_text_lines",
    "sample_horvitz_thompson",
    "quality_krippendorff_alpha",
    "ml_reciprocal_rank_fusion",
    "agg_capture_recapture",
    "etl_late_arriving_dimension",
    "ml_score_separation_report",
    "agg_market_concentration",
    "window_haar_wavelet_energy",
    "seq_markov_attribution",
    "agg_lorenz_curve",
    "dedup_fellegi_sunter_weights",
    "agg_icc_design_effect",
    "window_record_highs",
    "agg_gumbel_extreme_value",
    "sql_identifier_clause",
    "scan_partition_pruning_report",
    "sink_clustering_factor",
    "agg_energy_distance",
    "graph_degree_assortativity",
    "text_yule_k",
    "multimodal_interleaved_budget",
    "text_chao1_vocabulary",
    "dedup_prefix_cluster",
    "agg_price_index_laspeyres",
    "text_good_turing_mass",
    "window_spc_control_limits",
    "window_ljung_box",
    "ml_cost_sensitive_threshold",
    "agg_mutual_information",
    "sample_ipw_ate",
    "agg_partial_correlation",
    "quality_digit_preference",
    "window_interarrival_burstiness",
    "seq_markov_predictive_accuracy",
    "window_peak_over_threshold",
    "graph_rich_club",
    "text_burrows_delta",
    "window_sortino_ratio",
    "agg_indirect_standardization",
    "sample_sprt_monitor",
    "agg_expected_shortfall",
    # r6 additions
    "ml_mcc_balanced_accuracy",
    "ml_isotonic_calibration",
    "quality_nullity_patterns",
    "quality_wimbd_top_ngrams",
    "sample_doremi_proxy_weights",
    "seq_curriculum_order",
    "sample_dataset_cartography",
    "window_page_hinkley_drift",
    "dedup_minhash_b_bit",
    "embedding_geometric_median",
    "etl_analyze_table_stats",
    "scan_schema_evolution",
    "sample_rho_loss_selection",
    "graph_hits_bipartite",
    "agg_empirical_bayes_shrinkage",
    "scan_dictionary_encoding_audit",
    "sample_facility_location",
    "etl_snapshot_diff_audit",
    # r7 addition (the one new op this round — VERDICT r6 #4)
    "table_stats_profile_approx",
    # window_holt_linear_trend is deliberately NOT in HEADLINE: the
    # recursive-CTE fixpoint costs a FIXED ~7 s of per-iteration job
    # scheduling (corpus-independent — same at 10× data), which would
    # dominate the trend suite the way the streaming drains would.
    # BENCH_FULL_r0N.json still times it every round.
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _committed_json(rel_path: str):
    """A repo JSON artifact as of HEAD — the last COMMITTED state.
    Guard baselines must come from here (ADVICE r11 #4): a second bench
    run in the same round otherwise baselines against the FIRST run's
    uncommitted output and the 'previously committed' contract silently
    breaks.  Falls back to the working-tree file only when git itself
    is unavailable (fresh export); raises if neither source exists."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", REPO, "show", f"HEAD:{rel_path}"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if out.returncode == 0:
            return json.loads(out.stdout)
    except Exception:  # noqa: BLE001 — git missing/corrupt -> fall back
        pass
    with open(os.path.join(REPO, rel_path)) as fh:
        return json.load(fh)


def _committed_files(pattern: str) -> list[str]:
    """Repo-relative paths committed at HEAD matching a glob pattern
    (same fallback rationale as ``_committed_json``)."""
    import fnmatch
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", REPO, "ls-tree", "--name-only", "HEAD"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if out.returncode == 0:
            return sorted(
                n for n in out.stdout.splitlines() if fnmatch.fnmatch(n, pattern)
            )
    except Exception:  # noqa: BLE001
        pass
    import glob as _glob

    return sorted(
        os.path.basename(p) for p in _glob.glob(os.path.join(REPO, pattern))
    )


def _round_tag() -> int:
    """Next round number, inferred from the recorded BENCH_r0N files."""
    import glob
    import re

    ns = []
    for f in glob.glob(os.path.join(REPO, "BENCH_r[0-9]*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m:
            ns.append(int(m.group(1)))
    return max(ns, default=0) + 1


def main() -> None:
    spark = get_spark("bench")
    queries = all_queries()
    # warmup: JVM + parquet footer caches — touch EVERY big table, not
    # just lineitem, so whichever ops sit in registry slots 1-4 don't
    # absorb the whole cold-start cost into their full-pass timing
    # (r7: the rotated-to-front ops read 2-4x their steady state)
    _materialize(queries["scan_count"](spark, SF_DIR))
    from pyspark.sql import functions as F

    from parquet_batch_spark.catalog import load as _load

    for _t in ("documents", "embeddings", "events", "orders"):
        _materialize(_load(spark, SF_DIR, _t).select(F.count(F.lit(1))))

    # Data-independent CPU calibration: one whole-stage-codegen sum
    # over a literal range, best-of-3 AFTER the JVM warm-up above.
    # Shared-box throughput drifts 10%+ between capture windows (r7:
    # four same-day runs spread 1.035-1.102x), so round-over-round
    # comparisons should normalize per-query seconds by this line
    # before calling anything a regression.
    def _calibrate() -> float:
        cal = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            _materialize(spark.range(1 << 31).selectExpr("sum(id) AS s"))
            cal = min(cal, time.monotonic() - t0)
        return round(cal, 3)

    calibration = _calibrate()

    # Pass 1 — FULL registry, one timed run each (VERDICT r5 #3: a
    # regression in a non-headline op must be visible in an artifact,
    # not a session log).  Written to BENCH_FULL_r0N.json.
    full: dict[str, float] = {}
    full_errs: dict[str, str] = {}

    # Shared one-time stages, charged to NAMED warm-up lines (VERDICT
    # r7 #3): the shared stages (catalog.SHARED_STAGES) and the
    # Python/Arrow worker pool used to be billed to whichever consumer
    # ran first, so every _PRIORITY reorder manufactured phantom 3-4x
    # "regressions" (r7: dedup_fellegi_sunter_weights 0.8->2.5 s with
    # the family total unchanged).  Timing them here makes per-op
    # numbers reorder-stable; the lines stay in the total so
    # round-over-round BENCH_FULL values remain comparable.  Stages
    # that need more than (spark, sf_dir) are warmed by their first
    # caller: count_table inside the stages warmed here, the capped
    # SemDeDup quantizer inside dedup_semantic_cluster.
    import inspect

    from parquet_batch_spark.catalog import SHARED_STAGES

    def _warm_python_workers() -> None:
        _materialize(
            spark.range(spark.sparkContext.defaultParallelism).mapInArrow(
                lambda it: it, "id long"
            )
        )

    warmups = {"_warmup/python_workers": _warm_python_workers}
    for stage_name, stage in SHARED_STAGES.items():
        extra = list(inspect.signature(stage).parameters.values())[2:]
        if all(p.default is not p.empty for p in extra):
            warmups[f"_warmup/{stage_name}"] = (
                lambda stage=stage: stage(spark, SF_DIR)
            )
    for name, warm in warmups.items():
        t0 = time.monotonic()
        try:
            warm()
            full[name] = round(time.monotonic() - t0, 3)
        except Exception as ex:  # noqa: BLE001 — record, don't abort
            full_errs[name] = f"{type(ex).__name__}: {ex}"[:200]
    for name, fn in queries.items():
        t0 = time.monotonic()
        try:
            _materialize(fn(spark, SF_DIR))
            full[name] = round(time.monotonic() - t0, 3)
        except Exception as ex:  # noqa: BLE001 — record, don't abort
            full_errs[name] = f"{type(ex).__name__}: {ex}"[:200]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Reorder-stability guard (VERDICT r7 #3, second half): the named
    # warm-ups absorb the SHARED one-time stages, but an op that
    # rotates to the front of the registry still pays position-
    # dependent first-run costs (codegen/JIT of its own operator
    # tree).  Any op reading >2x its previous committed record (and
    # >0.5 s) gets ONE adjacent re-run, recording the min — so a
    # _PRIORITY reorder can't read as a per-op regression, while a
    # REAL regression (slow on the re-run too) stays visible.
    import statistics

    prev: dict[str, list[float]] = {}
    try:
        prev_files = _committed_files("BENCH_FULL_r[0-9]*.json")
        same_sf = []
        for f in prev_files:
            doc = _committed_json(f)
            # only records captured at THIS scale factor are a valid
            # baseline — cross-SF comparison would either re-run the
            # whole registry (bigger SF) or mask real regressions
            # (smaller SF).  And only SAME-ACCOUNTING records (ADVICE
            # r8): pre-r8 artifacts bill shared memoized stages to
            # their first consumer, so their per-op medians are
            # inflated vs the warmup-split accounting and the >2x
            # trigger would under-fire.  "warmups" marks accounting
            # v2 for the r8 artifact; "accounting" is explicit from
            # r9 on.
            if doc.get("sf") == sf_val and (
                doc.get("accounting") == 2 or "warmups" in doc
            ):
                same_sf.append(doc)
        for doc in same_sf[-3:]:
            for n, t in doc.get("queries", {}).items():
                prev.setdefault(n, []).append(t)
    except Exception:  # noqa: BLE001 — no trailing record, no re-runs
        prev = {}
    trailing = {n: statistics.median(ts) for n, ts in prev.items()}
    # Full-pass steal guard (VERDICT r11 #3 — extends the headline-only
    # >3x guard of r11 to the whole registry, which is what
    # bench_compare trends against): any op reading >2x its committed
    # same-SF median AND >0.3 s absolute gets ONE adjacent re-run, min
    # kept.  The r11 driver full pass carried 16 >1.3x-normalized
    # outliers on untouched code that one rerun each would have
    # settled; 0.3 s (was 0.5) brings the sub-second ops that burst
    # 2-3x (text_corpus_rollup r11: 0.58 -> 1.47) inside the guard.
    reruns = sorted(
        n
        for n, t in full.items()
        if not n.startswith("_warmup/")
        and t > 0.3
        and n in trailing
        and t > 2 * trailing[n]
    )
    rerun_errors: dict[str, str] = {}
    for name in reruns:
        t0 = time.monotonic()
        try:
            _materialize(queries[name](spark, SF_DIR))
            full[name] = round(min(full[name], time.monotonic() - t0), 3)
        except Exception as exc:  # noqa: BLE001 — keep the first-run
            # number, but RECORD the failure (ADVICE r11 #4: a query
            # that newly fails during a guard rerun must not vanish)
            rerun_errors[name] = repr(exc)[:200]
            print(f"steal-guard rerun failed: {name}: {exc!r}", file=sys.stderr)

    # Scheduling-floor ops (VERDICT r8 #2): the fixpoint/launch-bound
    # queries are ±40 % noisy on a single cold run (job-scheduling
    # floor, not data), so their steady state is invisible in the
    # cold capture — record an explicit warm best-of-2 sidecar so
    # latency trims show up in a committed artifact.  The cold number
    # stays in "queries" (same accounting as every other op).
    warm_best: dict[str, float] = {}
    for name in (
        "window_holt_linear_trend",
        "ml_bradley_terry_ranking",
        "sample_coreset_kcenter",
        "source_python_datasource",
        # noisy on a cold run although untouched since r12/r10
        "sample_facility_location",
        "text_textrank_keywords",
    ):
        if name not in queries or name in full_errs:
            continue
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            try:
                _materialize(queries[name](spark, SF_DIR))
            except Exception:  # noqa: BLE001 — keep the cold number
                best = float("inf")
                break
            best = min(best, time.monotonic() - t0)
        if best != float("inf"):
            warm_best[name] = round(best, 3)

    warm = {k: v for k, v in full.items() if k.startswith("_warmup/")}
    ops = {k: v for k, v in full.items() if not k.startswith("_warmup/")}
    full_doc = {
        "metric": "full registry wall time (noop-materialized, 1 run; "
                  "value includes the named shared-stage warmups)",
        "value": round(sum(full.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(ops),
        # accounting v2 = shared memoized stages billed to named
        # _warmup/ lines, not their first consumer (since r8; explicit
        # field since r9 — the rerun guard only baselines against
        # same-accounting artifacts).  NOTE: the guard's min(first,
        # rerun) can understate a regression concentrated in one-time
        # work; the warm_best_of_2 sidecar exists for exactly those ops.
        "accounting": 2,
        "errors": full_errs,
        "warmups": warm,
        "warm_best_of_2": warm_best,
        "steal_guard_reruns": reruns,
        "rerun_errors": rerun_errors,
        "slowest10": dict(sorted(ops.items(), key=lambda kv: -kv[1])[:10]),
        "queries": ops,
    }
    # re-measured after the full pass: r9 found the shared box drifts
    # IN BURSTS within a single capture (0.253 at start, 0.554 mid-run,
    # 0.282 at end of the same session), so one start-of-run line can
    # understate what hit mid-run queries
    cal_mid = _calibrate()
    # Persist the finished full-pass capture NOW (ADVICE r10 #3): a
    # crash during the headline pass must not lose it.  Rewritten with
    # the end probe after pass 2.
    full_doc["cpu_calibration_sec"] = calibration
    full_doc["cpu_calibration_mid_sec"] = cal_mid
    _full_path = os.path.join(REPO, f"BENCH_FULL_r{_round_tag():02d}.json")
    with open(_full_path, "w") as fh:
        json.dump(full_doc, fh, indent=1)

    # Pass 2 — HEADLINE, best-of-2 ADJACENT runs (first pays
    # codegen/JIT; min is the steady-state number, timeit convention).
    # Deliberately NOT reusing the full-pass leg: it runs minutes
    # earlier in registry order, so its caches are cold relative to an
    # adjacent second leg and the min would read ~9% slow vs the
    # r1-r5 methodology — adjacency keeps the round-over-round trend
    # comparable.
    # Prior round's COMMITTED headline values (HEAD state, ADVICE r11
    # #4 — the working-tree file may already hold THIS round's first
    # uncommitted run) — the mid-capture steal guard below baselines
    # against them.
    try:
        prior_headline = _committed_json("BENCH_DETAIL.json").get("queries", {})
    except Exception:  # noqa: BLE001 — first round, no guard baseline
        prior_headline = {}
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            _materialize(queries[name](spark, SF_DIR))
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)

    # Mid-capture steal guard (VERDICT r10 #6): even with bracketing
    # probes, a host-steal burst inside the pass can inflate one op
    # ~10x (r10 observed a 0.48 s op read 7.6 s in-burst, best-of-2
    # notwithstanding).  Any op reading >3x its previously COMMITTED
    # headline value gets one more adjacent rerun, min kept — a real
    # regression survives three runs; a burst rarely spans them.
    headline_reruns = sorted(
        n
        for n, t in timings.items()
        if n in prior_headline and t > 0.05 and t > 3 * prior_headline[n]
    )
    headline_rerun_errors: dict[str, str] = {}
    for name in headline_reruns:
        t0 = time.monotonic()
        try:
            _materialize(queries[name](spark, SF_DIR))
            timings[name] = round(
                min(timings[name], time.monotonic() - t0), 3
            )
        except Exception as exc:  # noqa: BLE001 — keep the best-of-2
            # number, but record the failure (ADVICE r11 #4)
            headline_rerun_errors[name] = repr(exc)[:200]
            print(f"steal-guard rerun failed: {name}: {exc!r}", file=sys.stderr)

    cal_end = _calibrate()
    # All three probes (start / post-full-pass / post-headline-pass) go
    # in BOTH artifacts (VERDICT r9 #3: r9 shipped FULL without end and
    # DETAIL without mid, so burst detection depended on which file you
    # read) — which is why BENCH_FULL's dump waits until here.
    full_doc["cpu_calibration_end_sec"] = cal_end
    with open(_full_path, "w") as fh:
        json.dump(full_doc, fh, indent=1)

    detail = {
        "metric": "headline suite wall time (noop-materialized)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpu_calibration_sec": calibration,
        "cpu_calibration_mid_sec": cal_mid,
        "cpu_calibration_end_sec": cal_end,
        "steal_guard_reruns": headline_reruns,
        "rerun_errors": headline_rerun_errors,
    }
    # Full per-query detail: sidecar file + an EARLY stdout line.  The
    # driver's capture keeps only the last ~2000 chars of stdout, so the
    # LAST line must stay compact (r4's 84-query line outgrew the window
    # and the round's headline was lost — BENCH_r04.json parsed: null).
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15])
    summary = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "cpu_calibration_sec": calibration,
        "queries": {k: round(v, 2) for k, v in slowest.items()},
        "queries_detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(summary)
    assert len(line) < 1800, f"summary line too long for capture: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
