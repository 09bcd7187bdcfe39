"""Scale-plan assertions: the physical plans that must survive 100 TB.

These tests pin the *plan shape*, not timings: pushdown reached the
scan, projections pruned, dim joins broadcast, aggs partial. A change
that silently regresses any of these fails here instead of on a
cluster.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from parquet_batch_spark.operators.joins import join_broadcast_dims, join_range
from parquet_batch_spark.operators.relational import q1_pricing_summary
from parquet_batch_spark.operators.scans import filter_pushdown, scan_projection
from parquet_batch_spark.plans.inspect import (
    executed_plan,
    has_broadcast_join,
    lambda_bodies,
    pushed_filters,
    read_schema_columns,
    whole_stage_codegen_spans,
)


def test_projection_prunes_read_schema(spark, sf_dir):
    df = scan_projection(spark, sf_dir)
    cols = read_schema_columns(df)
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity"}, cols


def test_filter_reaches_parquet_scan(spark, sf_dir):
    df = filter_pushdown(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed and "l_discount" in pushed, pushed


def test_q1_pushes_date_filter_and_prunes(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    cols = read_schema_columns(df)
    # only the 7 referenced columns, not all 11
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols


def test_dim_joins_are_broadcast(spark, sf_dir):
    df = join_broadcast_dims(spark, sf_dir)
    assert has_broadcast_join(df)
    # no sort-merge join should appear for the dim lookups
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_range_join_is_broadcast_nlj(spark, sf_dir):
    df = join_range(spark, sf_dir)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]


def test_q1_stays_in_codegen(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # finalize the AQE plan so codegen markers appear
    assert whole_stage_codegen_spans(df) >= 2  # scan+partial agg, final agg


def test_partitioned_sink_prunes_partitions(spark, sf_dir):
    """The hive-partitioned read-back must prune to one partition at
    planning time (PartitionFilters on the scan, not a post-scan
    Filter over every partition)."""
    from parquet_batch_spark.operators.sources_ext import sink_partitioned_prune
    from parquet_batch_spark.plans.inspect import explain_formatted

    df = sink_partitioned_prune(spark, sf_dir)
    plan = explain_formatted(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "l_returnflag" in m.group(1) and "l_linestatus" in m.group(1), m.group(1)


def test_tpch2_filters_push_and_dims_broadcast(spark, sf_dir):
    """Spot-check the second TPC-H tranche: Q6's predicates reach the
    parquet scan; Q8's seven-table star resolves its dims as
    broadcasts with no sort-merge join on any dimension edge."""
    from parquet_batch_spark.operators.tpch2 import tpch_q6, tpch_q8

    q6 = tpch_q6(spark, sf_dir)
    pushed = " ".join(pushed_filters(q6))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed

    q8 = tpch_q8(spark, sf_dir)
    q8.collect()  # finalize AQE so join strategies are decided
    plan = executed_plan(q8)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:3000]


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Co-bucketed tables on the join key must sort-merge join with
    ZERO exchanges — the bucketing payoff that at 100 TB removes the
    dominant fact-fact shuffle entirely (pay the shuffle once at
    write time, reuse it every join)."""
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.plans.inspect import executed_plan

    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        (
            load(spark, sf_dir, name)
            .write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(f"bkt_{name}")
        )
    # at test SF the small side would broadcast (which ignores
    # bucketing); the merge hint forces the SMJ path that bucketing
    # exists to serve — at 100 TB both sides exceed any broadcast
    # threshold and SMJ is what the planner picks unhinted
    j = (
        spark.table("bkt_lineitem")
        .hint("merge")
        .join(spark.table("bkt_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .count()
    )
    j.collect()
    # under AQE the toString appends an "== Initial Plan ==" copy —
    # keep only the final adaptive plan
    plan = executed_plan(j).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in plan, plan[:2000]
    # the join must consume bucket-local partitions directly: no
    # shuffle exchange below the join (the only exchange allowed is
    # the final tiny groupBy-on-priority)
    join_section = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_section, join_section[:2000]
    for name in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_dedup_pipelines_avoid_cartesian(spark, sf_dir, monkeypatch):
    """Every near-dup pipeline must pair documents through an inverted
    index (band/shingle/bucket join) — never an O(n²) cartesian. A
    CartesianProduct or unconditioned BroadcastNestedLoopJoin in these
    plans would be a 100 TB death sentence. COS_SMALL_CORPUS is forced
    to 0 so the SCALE path of the cosine pipeline is what gets
    plan-audited, not the gated single-task toy path."""
    from parquet_batch_spark import catalog
    from parquet_batch_spark.operators import dedup as dedup_mod
    from parquet_batch_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        dedup_simhash,
    )

    monkeypatch.setattr(dedup_mod, "COS_SMALL_CORPUS", 0)
    # audit the LOGICAL pipeline, not the memoized checkpoint scan
    monkeypatch.setattr(catalog, "MATERIALIZE_SHARED_STAGES", False)
    for fn in (dedup_minhash_lsh, dedup_simhash, dedup_ngram_jaccard, dedup_embedding_cosine):
        plan = executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{fn.__name__}: cartesian!"
        assert "BroadcastNestedLoopJoin" not in plan, f"{fn.__name__}: NLJ!"
        # no whole-bucket materialization either: a collect_list of
        # vectors puts an entire LSH bucket in ONE aggregation row —
        # a straggler task holding the hot bucket in memory at 100 TB
        assert "collect_list" not in plan, f"{fn.__name__}: bucket collect_list!"


def test_bloom_prefilter_plan(spark, sf_dir):
    """The blocked-bloom prefilter must be a broadcast EQUI-join on the
    word index (not a nested-loop against a scalar blob), fed by a
    bit_or reduction on the build side, with the bitmask check pruning
    fact rows before the aggregation's shuffle."""
    from parquet_batch_spark.operators.joins import join_bloom_prefilter

    df = join_bloom_prefilter(spark, sf_dir)
    df.collect()
    plan = executed_plan(df)
    assert "bit_or" in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]  # bloom + exact
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"&\s*pm", plan), "bitmask prune filter missing"


def test_decontam_benchmark_side_broadcasts(spark, sf_dir):
    """The benchmark gram index must broadcast (it is the ~1% eval
    slice); the training side streams once with no shuffle for the
    containment join."""
    from parquet_batch_spark.operators.pipeline_ops import decontam_ngram_overlap

    df = decontam_ngram_overlap(spark, sf_dir)
    df.collect()
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_curation_ops_no_cartesian(spark, sf_dir):
    """No curation pipeline may degrade to an all-pairs join."""
    from parquet_batch_spark.operators.dedup import dedup_fuzzy_levenshtein
    from parquet_batch_spark.operators.pipeline_ops import (
        pii_detect,
        quality_repetition,
        sample_stratified,
    )

    for fn in (pii_detect, quality_repetition, sample_stratified, dedup_fuzzy_levenshtein):
        plan = executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{fn.__name__}: cartesian!"
        assert "BroadcastNestedLoopJoin" not in plan, f"{fn.__name__}: NLJ!"


def test_stratified_sample_filter_is_shuffle_free(spark, sf_dir):
    """The keep/drop decision is a stateless hash predicate: the only
    exchange in the plan belongs to the tiny per-lang summary, never
    the row filter itself (at 100 TB the sample is a map-only pass)."""
    from parquet_batch_spark.operators.pipeline_ops import sample_stratified

    plan = executed_plan(sample_stratified(spark, sf_dir))
    # filter must appear below (executed before) any exchange
    assert "Filter" in plan
    filter_pos = plan.rindex("Filter")
    exchange_pos = plan.find("Exchange")
    assert exchange_pos == -1 or filter_pos > exchange_pos, plan[:2000]


def test_minhash_band_join_is_equi_join(spark, sf_dir, monkeypatch):
    """The LSH candidate join must be a hash/sort-merge EQUI-join on
    the band key (its shuffle is bounded by bucket size), with the
    doc_a < doc_b ordering applied as a post-join condition."""
    from parquet_batch_spark import catalog
    from parquet_batch_spark.operators.dedup import dedup_minhash_lsh

    monkeypatch.setattr(catalog, "MATERIALIZE_SHARED_STAGES", False)
    plan = executed_plan(dedup_minhash_lsh(spark, sf_dir))
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan[:2000]


def test_dpp_join_injects_dynamic_pruning(spark, sf_dir):
    """join_dpp_prune's fact scan must carry a dynamicpruning
    expression in its PartitionFilters — proof the month partitions
    are pruned at runtime from the dim filter, not post-scan."""
    from parquet_batch_spark.operators.sources_ext import join_dpp_prune
    from parquet_batch_spark.plans.inspect import explain_formatted

    df = join_dpp_prune(spark, sf_dir)
    plan = explain_formatted(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "dynamicpruning" in m.group(1), m.group(1)


def test_llm_prep_pipelines_scale_shapes(spark, sf_dir):
    """r4 llm_prep batch: the paragraph/novelty/phash dedup family must
    pair rows only through inverted-index equi-joins (no cartesian, no
    NLJ, no whole-bucket collect_list), and the packing window must be
    partitioned (a global unpartitioned window is a single-task sort at
    100 TB)."""
    from parquet_batch_spark.operators.llm_prep import (
        curation_pipeline_funnel,
        dedup_incremental_novelty,
        dedup_paragraph,
        seq_pack_chunks,
        text_rarity_score,
    )
    from parquet_batch_spark.operators.multimodal import multimodal_dedup_phash

    for fn in (
        dedup_paragraph,
        dedup_incremental_novelty,
        multimodal_dedup_phash,
        curation_pipeline_funnel,
        text_rarity_score,
    ):
        plan = executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{fn.__name__}: cartesian!"
        assert "collect_list" not in plan, f"{fn.__name__}: collect_list!"

    pack_plan = executed_plan(seq_pack_chunks(spark, sf_dir))
    m = re.search(r"Window .*partitionBy|Window \[[^\]]*\], \[lang", pack_plan)
    assert "Window" in pack_plan and ("lang" in pack_plan), pack_plan[:2000]


def test_rarity_and_novelty_index_sides_broadcast(spark, sf_dir):
    """The vocabulary-sized df table (rarity) and the benchmark/seen
    shingle indexes (novelty, funnel) are the small reduced sides —
    they must broadcast so the corpus side streams without a shuffle
    for the join."""
    from parquet_batch_spark.operators.llm_prep import (
        dedup_incremental_novelty,
        text_rarity_score,
    )

    for fn in (text_rarity_score, dedup_incremental_novelty):
        assert has_broadcast_join(fn(spark, sf_dir)), f"{fn.__name__}: no broadcast"


def test_snapshot_diff_single_outer_join(spark, sf_dir):
    """The version diff is exactly one full-outer key join — no extra
    join pass per row class."""
    from parquet_batch_spark.operators.warehouse import etl_snapshot_diff

    plan = executed_plan(etl_snapshot_diff(spark, sf_dir))
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert joins == 1, f"expected exactly 1 shuffle join, got {joins}"


def test_lateral_topk_decorrelates_to_window_limit(spark, sf_dir):
    """The correlated LATERAL (ORDER BY + LIMIT) must decorrelate into
    the window top-k plan — WindowGroupLimit prunes each partition to
    its top 3 MAP-SIDE before the shuffle — and must never fall back
    to a per-row nested loop (CartesianProduct / unconditioned NLJ
    would re-scan orders once per driving row)."""
    from parquet_batch_spark.operators.joins import join_lateral_topk

    plan = executed_plan(join_lateral_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, "top-k not pushed below the shuffle"


def test_observed_metrics_sees_prefilter_rows(spark, sf_dir):
    """The scan-level Observation must count PRE-filter rows: the
    CollectMetrics node has to pin the filter above the observed scan
    (a pushdown through it would silently turn rows_scanned into
    rows_kept)."""
    from parquet_batch_spark.operators.scans import scan_observed_metrics

    row = scan_observed_metrics(spark, sf_dir).collect()[0]
    assert row["rows_scanned"] > row["rows_kept"] > 0
    assert 0.0 < row["keep_ratio"] < 1.0


def test_dynamic_overwrite_preserves_other_partitions(spark, sf_dir):
    """Dynamic partition overwrite must leave partitions absent from
    the incoming frame untouched: F/O keep their original checksums
    while P carries the corrected (doubled) prices — checked against
    the untouched source table."""
    from pyspark.sql import functions as F

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.sources_ext import (
        sink_dynamic_partition_overwrite,
    )

    got = {
        r["o_orderstatus"]: (r["n_orders"], r["key_checksum"])
        for r in sink_dynamic_partition_overwrite(spark, sf_dir).collect()
    }
    want = {
        r["o_orderstatus"]: (r["n_orders"], r["key_checksum"])
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("key_checksum"),
        )
        .collect()
    }
    assert got == want  # row inventory identical in every partition


def test_stats_ops_scale_shapes(spark, sf_dir):
    """Stats-batch plan contracts: no op may degrade to a cartesian
    or (except the deliberately nested null-aware NOT IN probe) a
    nested-loop join; single-agg moment reductions must contain
    exactly the aggregation exchanges their docstrings claim."""
    from parquet_batch_spark.operators.stats_ops import (
        agg_chi_square_independence,
        agg_cohort_ltv_curve,
        agg_regression_per_group,
        ml_ols_multivar,
        sample_bootstrap_means,
        seq_transition_matrix,
        text_pmi_cooccurrence,
        window_acf_lags,
        window_rolling_corr,
    )

    for fn in (
        agg_regression_per_group,
        ml_ols_multivar,
        window_rolling_corr,
        seq_transition_matrix,
        agg_chi_square_independence,
        sample_bootstrap_means,
        agg_cohort_ltv_curve,
    ):
        plan = executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{fn.__name__}: cartesian!"
        assert "BroadcastNestedLoopJoin" not in plan, f"{fn.__name__}: NLJ!"
    # PMI's pair join must be an equi-join on doc_id, count sides broadcast
    plan = executed_plan(text_pmi_cooccurrence(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # ACF's scalar-global side joins via broadcast (7-row left side)
    plan = executed_plan(window_acf_lags(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_regression_single_shuffle(spark, sf_dir):
    """The per-group OLS is one partial-agg + one exchange: no window,
    no join, no second scan-side exchange."""
    from parquet_batch_spark.operators.stats_ops import agg_regression_per_group

    plan = executed_plan(agg_regression_per_group(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan[:3000]  # agg + final orderBy
    assert "Window" not in plan
    assert "Join" not in plan


def test_global_windows_only_over_reduced_tables(spark, sf_smoke):
    """Registry-wide guard (r4 VERDICT #7): a Window with NO partition
    spec serializes its whole input through one task — acceptable ONLY
    over a DOMAIN-BOUNDED reduced table (calendar days, vocab ranks,
    fixed bins, a literal label domain), never over a raw fact/corpus
    table. Every op below was audited against that rule when it
    landed; any op newly acquiring a global window must either
    partition it or be audited + added here.
    """
    from parquet_batch_spark.operators import all_queries
    from parquet_batch_spark.plans.inspect import global_window_count

    whitelist = {
        # stats/ML ops: windows over bins / ranks / reduced group tables
        "text_zipf_fit", "quality_psi_drift",
        "quality_ks_drift", "agg_survival_km", "window_acf_lags",
        "window_peak_concurrency", "agg_rfm_segmentation",
        "window_order_gap_distribution", "text_ngram_coverage_curve",
        "sample_importance_weights", "agg_seasonality_index",
        "agg_weekday_hour_heatmap", "seq_event_paths",
        "sample_kfold_assignment", "func_edit_distance",
        "sort_nulls_placement", "agg_mann_whitney_u", "window_runs_test",
        # r5 fourth session: cumulative scans over value-distinct /
        # spend-distinct reduced grids (same shape as mann_whitney)
        "agg_kruskal_wallis", "agg_lorenz_curve", "agg_energy_distance",
        # day-index row_number over the day-grain reduced series
        "window_hurst_exponent", "window_haar_wavelet_energy",
        "window_record_highs", "window_spc_control_limits",
        "window_ljung_box", "ml_cost_sensitive_threshold",
        "window_peak_over_threshold", "window_sortino_ratio",
        "sample_sprt_monitor", "agg_expected_shortfall",
        # rank + step-up max over the 25-row nation test table
        "agg_benjamini_hochberg",
        # cumulative median scan over the C(M,2) slope-distinct table
        "window_theil_sen",
        # rank windows over the two 50-row retrieval pools
        "ml_reciprocal_rank_fusion",
        # r6: prefix sums over the ISO_BINS=50 reduced bin table
        "ml_isotonic_calibration",
        # r6: share window over the <=4-row null-pattern table
        "quality_nullity_patterns",
        # r6: normalization windows over the |domains|-row weight table
        # and the <=3-row cartography region table
        "sample_doremi_proxy_weights", "sample_dataset_cartography",
        # r6: month-index row_number over the <=|months| reduced series
        "window_holt_linear_trend",
        "agg_split_gain_gini", "window_realized_volatility",
        "window_seasonal_decompose", "agg_spearman_rho", "agg_hist2d_joint",
        "sample_ab_assignment_srm", "agg_chi_square_independence",
        "agg_mutual_information", "quality_digit_preference",
        # r5: windows over the <=|sources|-row per-source token table
        "sample_epoch_plan",
        # r5 third session: cumulative ranges over the top-200-word
        # reduced vocab rank table (bounded by NEG_VOCAB)
        "sample_negative_sampling",
        # windows over the 10-row BM25 top-k result
        "quality_ndcg_ranking_eval",
        # cumulative ranks over the <=1001-row score-distinct grid
        "ml_auc_roc", "ml_average_precision", "ml_score_separation_report",
        # cumulative capture over the <=10-row decile table
        "ml_lift_curve",
        # r5 second session: lag/lead anchors over the hour-bucket
        # table (bounded by the time domain, ~720 rows at sf0.1)
        "rollup_downsample_ltob",
        # the ONE deliberate dense-key global window (documented in-op)
        "etl_surrogate_keys",
        # analytics/curation: day-grain / digit-domain / label-domain tables
        "agg_abc_classification", "agg_benford_profile", "text_vocab_growth",
        "sample_balanced_labels", "window_range_interval", "window_funnel",
        "agg_pct_of_parent", "agg_pareto_frontier", "quality_source_gini",
    }
    offenders = {}
    for name, fn in all_queries().items():
        n = global_window_count(fn(spark, sf_smoke))
        if n:
            offenders[name] = n
    unexpected = set(offenders) - whitelist
    assert not unexpected, (
        f"NEW global (unpartitioned) windows — partition them or audit "
        f"the reduced-table claim and extend the whitelist: "
        f"{sorted(unexpected)}"
    )


def test_r5_pair_ops_scale_shapes(spark, sf_dir, monkeypatch):
    """r5 pair-generating ops must pair rows only through equi-joins
    (cell id / gram hash) — no cartesian, no NLJ, no whole-bucket
    collect_list — the same 100 TB contract as the dedup family."""
    from parquet_batch_spark.operators.dedup import dedup_exact_substring
    from parquet_batch_spark.operators.similarity import dedup_semantic_cluster

    for fn in (dedup_exact_substring, dedup_semantic_cluster):
        plan = executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{fn.__name__}: cartesian!"
        assert "BroadcastNestedLoopJoin" not in plan, f"{fn.__name__}: NLJ!"
        assert "collect_list" not in plan, f"{fn.__name__}: bucket collect_list!"


# --------------------------------------------------------------- r5 third-
# session ops: plan shapes that must survive 100x


def test_kcore_rounds_are_hash_joins_no_cartesian(spark, sf_smoke, monkeypatch):
    from parquet_batch_spark import catalog
    from parquet_batch_spark.operators.corpus_ops import graph_kcore

    # assert on the FULL edge-build subtree, not the memoized
    # checkpoint scan (r9: segment_edges materializes once per session)
    monkeypatch.setattr(catalog, "MATERIALIZE_SHARED_STAGES", False)
    plan = executed_plan(graph_kcore(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # the shrinking-node-set joins stay equi (hash/SMJ), never NLJ
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_is_map_side_heap(spark, sf_smoke):
    from parquet_batch_spark.operators.text_analysis import text_bm25_topk

    plan = executed_plan(text_bm25_topk(spark, sf_smoke))
    # orderBy+limit must compile to TakeOrderedAndProject (per-partition
    # heap, K rows to driver), never a global Sort
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_caption_alignment_has_no_cartesian(spark, sf_smoke):
    from parquet_batch_spark.operators.multimodal import (
        multimodal_caption_alignment,
    )

    plan = executed_plan(multimodal_caption_alignment(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_threshold_sweep_ladder_is_broadcast(spark, sf_smoke):
    from parquet_batch_spark.operators.dedup import dedup_threshold_sweep

    plan = executed_plan(dedup_threshold_sweep(spark, sf_smoke))
    # the non-equi ladder join is a BROADCAST NLJ over 5 literal rows —
    # acceptable; an un-broadcast cartesian is not
    assert "CartesianProduct" not in plan


def test_neighborhood_jaccard_no_cartesian(spark, sf_smoke, monkeypatch):
    from parquet_batch_spark import catalog
    from parquet_batch_spark.operators.corpus_ops import (
        graph_neighborhood_jaccard,
    )

    monkeypatch.setattr(catalog, "MATERIALIZE_SHARED_STAGES", False)
    plan = executed_plan(graph_neighborhood_jaccard(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_r6_ops_have_scale_safe_plans(spark, sf_dir):
    """Physical-plan guards for the r6 additions: no cartesian blowup
    anywhere; the map-side-only ops really have no join; the
    broadcast-baseline joins really broadcast; top-k really plans as
    TakeOrdered (no global sort)."""
    from parquet_batch_spark.operators.llm_prep import (
        sample_dataset_cartography,
        sample_doremi_proxy_weights,
        sample_rho_loss_selection,
        seq_curriculum_order,
    )
    from parquet_batch_spark.operators.stats_ops import (
        agg_empirical_bayes_shrinkage,
        window_page_hinkley_drift,
    )
    from parquet_batch_spark.operators.text_analysis import (
        quality_wimbd_top_ngrams,
    )

    for fn in (
        sample_doremi_proxy_weights,
        sample_rho_loss_selection,
        seq_curriculum_order,
        sample_dataset_cartography,
        window_page_hinkley_drift,
        agg_empirical_bayes_shrinkage,
        quality_wimbd_top_ngrams,
    ):
        plan = executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{fn.__name__}: cartesian!"
    # epoch terms are inline map-side expressions; the PH recurrence is
    # pure windows — neither op may plan ANY join
    for fn in (sample_dataset_cartography, window_page_hinkley_drift):
        plan = executed_plan(fn(spark, sf_dir))
        assert "Join" not in plan, f"{fn.__name__} grew a join: {plan[:1500]}"
    # the per-lang holdout baseline is a broadcast equi-join
    plan = executed_plan(sample_rho_loss_selection(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # WIMBD top-k must be TakeOrdered, never a global sort of the grams
    plan = executed_plan(quality_wimbd_top_ngrams(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Registry-wide driver-materialization guard (VERDICT r6 #3)
# ---------------------------------------------------------------------------

# Every call that pulls rows to the driver, keyed by
# (package-relative file, enclosing function, method) -> (allowed call
# count, the stated bound that makes it safe at 100 TB).  Adding a new
# `.collect()`/`.toPandas()`/... anywhere in the package fails this
# test until the site is audited and listed here WITH its bound.
_DRIVER_MATERIALIZATION_WHITELIST = {
    ("operators/corpus_ops.py", "text_bpe_merges", "collect"):
        (1, "limit(1) argmax pair per bounded BPE merge round"),
    ("operators/corpus_ops.py", "graph_hits_bipartite", "collect"):
        (3, "vocab limit(HITS_VOCAB=30) + 1-row hub max per iteration "
            "+ <=HITS_VOCAB authority rows per iteration (the bounded-"
            "reduced-table normalization pattern)"),
    ("operators/dedup.py", "_hot_shingles", "collect"):
        (1, "hot-key list: at most sum(df)/cap entries survive the "
            "absolute df cap (pigeonhole), a shared stage"),
    ("operators/dedup.py", "dedup_clusters", "collect"):
        (2, "1-row scalar SUM(label) convergence probes per CC round"),
    ("operators/pipeline_ops.py", "decontam_bloom_filter", "collect"):
        (1, "bloom bit positions of the BOUNDED benchmark suite "
            "(|bench| x K rows), broadcast back as a plan literal"),
    ("operators/scale_ops.py", "scan_dictionary_encoding_audit", "collect"):
        (1, "parquet footer metadata, one row per file (file-count "
            "bounded manifest, not data rows)"),
    ("operators/scale_ops.py", "scan_minmax_skipping", "collect"):
        (1, "row-group stats manifest: one row per file, file-count "
            "bounded"),
    ("operators/similarity.py", "_fl_candidate_pools", "collect"):
        (1, "ONE union of FL_ROUNDS TakeOrderedAndProject limits: "
            "<= FL_ROUNDS*(FL_CANDS+FL_ROUNDS-1) = 28 rows total "
            "(pool vectors ride along — the fused draw+fetch)"),
    ("operators/similarity.py", "_hash_seed_draw", "collect"):
        (1, "hash-ordered limit(K) seed draw of K centroids of dim "
            "doubles: K = ceil(sqrt(N)) for the IVF quantizer, K = "
            "max(16, ceil(sqrt(D)), ceil(D/SEM_MAX_CELL)) over the "
            "DISTINCT-vector table for SemDeDup"),
    ("operators/similarity.py", "ann_ivf_topk", "collect"):
        (1, "query side: vec_id < N_QUERIES (<=10 rows)"),
    ("operators/similarity.py", "ann_ivfpq_topk", "collect"):
        (1, "query side: vec_id < N_QUERIES (<=10 rows)"),
    ("operators/similarity.py", "ann_pq_adc", "collect"):
        (2, "limit(K) codebook seed draw + <=N_QUERIES query rows"),
    ("operators/similarity.py", "embedding_geometric_median", "collect"):
        (2, "GM_DIMS(=64)-row per-dimension sums, once per Weiszfeld "
            "round"),
    ("operators/similarity.py", "embedding_pq_distortion", "collect"):
        (1, "hash-ordered limit(K) codebook seed draw"),
    ("operators/similarity.py", "ml_kmeans_lloyd", "collect"):
        (2, "limit(K) seed draw + K-row centroid sums per Lloyd round"),
    ("operators/similarity.py", "sample_coreset_kcenter", "collect"):
        (2, "limit(1) seed + 1-row farthest-point argmax per round"),
    ("operators/similarity.py", "sample_facility_location", "collect"):
        (1, "1-row gains argmax per round (the O(N) id collect was "
            "removed in r7; the pool-vector fetch fused into the "
            "draw job in r8)"),
    ("operators/sources_ext.py", "sink_selective_compaction", "collect"):
        (1, "compaction manifest: one row per over-threshold partition "
            "(|partition domain| bounded)"),
    ("operators/sources_ext.py", "source_jsonl_corrupt_tolerant", "collect"):
        (1, "writes the staged fixture: bounded LIMIT sample of part "
            "rows serialized to the local JSONL fixture"),
    ("operators/stats_ops.py", "agg_cohen_kappa", "collect"):
        (1, "label-pair confusion table, <=|labels|^2 rows (labels is "
            "a literal domain)"),
    ("operators/stats_ops.py", "embedding_pca_power_iteration", "collect"):
        (1, "the 64x64 second-moment matrix (4096 scalars, corpus-"
            "independent) — the one-pass reduce-then-fold form"),
    ("operators/stats_ops.py", "seq_markov_attribution", "collect"):
        (1, "event-type transition matrix, <=|event types|^2 (6x6) "
            "rows"),
    ("operators/warehouse.py", "etl_analyze_table_stats", "collect"):
        (1, "DESCRIBE EXTENDED output: a fixed handful of catalog "
            "stat rows"),
    ("operators/warehouse.py", "etl_write_audit_publish", "collect"):
        (1, "1-row audit gate aggregate (the WAP go/no-go scalar)"),
    ("operators/warehouse.py", "sink_zorder_cluster", "first"):
        (1, "single-row min/max bounds aggregate"),
    ("operators/windows.py", "window_lag_lead", "first"):
        (1, "single-row probe"),
    ("operators/windows.py", "window_linear_interpolate", "first"):
        (2, "single-row boundary probes"),
    ("operators/windows.py", "window_nth_value", "first"):
        (1, "single-row probe"),
    ("sources/reader.py", "_arrow_rows", "toLocalIteratorAndServe"):
        (1, "the reference O8 contract IS a lazy driver-side row "
            "iterator (reference reader.py:105); the Arrow batch RDD "
            "is served one partition at a time, never the full frame"),
}

_DRIVER_MATERIALIZATION_METHODS = (
    "collect", "toPandas", "toLocalIterator", "toLocalIteratorAndServe",
    "take", "head", "first",
)


def test_no_unbounded_driver_materialization():
    """Walk the package AST: every .collect()/.toPandas()/... call
    site must be on the whitelist above with its stated bound, and the
    whitelist must not go stale (no phantom entries)."""
    import ast
    import os
    from collections import Counter

    import parquet_batch_spark

    pkg_root = os.path.dirname(os.path.abspath(parquet_batch_spark.__file__))
    found: Counter = Counter()
    for root, _dirs, files in os.walk(pkg_root):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg_root).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _DRIVER_MATERIALIZATION_METHODS
                ):
                    continue
                enclosing = [
                    f for f in funcs if f[0] <= node.lineno <= f[1]
                ]
                name = (
                    min(enclosing, key=lambda f: f[1] - f[0])[2]
                    if enclosing
                    else "<module>"
                )
                found[(rel, name, node.func.attr)] += 1

    unlisted = {
        k: v for k, v in found.items()
        if k not in _DRIVER_MATERIALIZATION_WHITELIST
        or v > _DRIVER_MATERIALIZATION_WHITELIST[k][0]
    }
    assert not unlisted, (
        "unaudited driver materialization site(s) — audit the bound "
        f"and whitelist them: {sorted(unlisted)}"
    )
    stale = [
        k for k in _DRIVER_MATERIALIZATION_WHITELIST if k not in found
    ]
    assert not stale, f"whitelist entries with no matching site: {stale}"


def test_no_lambda_re_tokenizes_its_document(spark, sf_smoke, monkeypatch):
    """Registry-wide: no lambda body in any optimized plan contains
    ``split(``.  A split inside a ``lambdafunction(`` runs once per
    lambda call (per shingle or segment window, per token), which is
    O(tokens²) per document; tokens reach lambdas through
    ``functions.text.bind``.  Shared stages are off so the audit sees
    each stage's pipeline, not a checkpoint scan."""
    from parquet_batch_spark import catalog
    from parquet_batch_spark.operators import all_queries

    monkeypatch.setattr(catalog, "MATERIALIZE_SHARED_STAGES", False)
    offenders = {}
    for name, fn in all_queries().items():
        bad = [b for b in lambda_bodies(fn(spark, sf_smoke)) if "split(" in b]
        if bad:
            offenders[name] = bad[0][:300]
    assert not offenders, f"split( inside a lambda: {offenders}"


def _subtree(lines: list[str], i: int) -> list[str]:
    """Line ``i`` of a plan tree string and every line below it."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :|+-"))

    out = [lines[i]]
    for line in lines[i + 1 :]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return out


def test_lsh_band_join_reuses_its_exchange(spark, sf_smoke, monkeypatch):
    """The band self-join is a shuffled join whose two sides read one
    Exchange on (band_idx, band_sig): the band table (shingles, md5s,
    signatures) is computed once.  A broadcast self-join would
    recompute its build side from the scan."""
    from parquet_batch_spark import catalog
    from parquet_batch_spark.operators.dedup import _lsh_candidate_pairs

    monkeypatch.setattr(catalog, "MATERIALIZE_SHARED_STAGES", False)
    df = _lsh_candidate_pairs(spark, sf_smoke)
    df.collect()
    final = executed_plan(df).split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final and "BroadcastHashJoin" not in final, final
    reused = [ln for ln in final.splitlines() if "ReusedExchange" in ln]
    assert len(reused) == 1 and "hashpartitioning(band_idx" in reused[0], final


def test_bm25_tokenizes_once_per_scan_after_fan_out(spark, sf_smoke):
    """BM25 splits each document at most once per ``documents`` scan,
    and every split runs above an Exchange (after ``fan_out``'s
    repartition), never in the scan's own stage — where a pushed-down
    ``tf > 0`` filter would split each document once per term."""
    from parquet_batch_spark.operators.text_analysis import text_bm25_topk

    lines = executed_plan(text_bm25_topk(spark, sf_smoke)).splitlines()
    scans = sum("FileScan parquet" in ln and "documents" in ln for ln in lines)
    splits = [i for i, ln in enumerate(lines) if "split(" in ln]
    assert scans and sum(lines[i].count("split(") for i in splits) <= scans, lines
    for i in splits:
        assert any("Exchange" in ln for ln in _subtree(lines, i)[1:]), lines[i]


def test_bm25_scans_documents_once(spark, sf_smoke):
    """BM25's stats and scoring branches read one exchange of the
    per-doc rows, so a run scans ``documents`` once: the final plan
    holds one FileScan and the other branch is a ReusedExchange."""
    from parquet_batch_spark.operators.text_analysis import text_bm25_topk

    df = text_bm25_topk(spark, sf_smoke)
    df.collect()
    final = executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1 and "ReusedExchange" in final, final


_MARKER_LANGID_OPS = (
    "text_langid",
    "quality_langid_confusion",
    "agg_cohen_kappa",
    "agg_mcnemar_test",
    "quality_krippendorff_alpha",
)


@pytest.mark.parametrize("name", _MARKER_LANGID_OPS)
def test_marker_langid_splits_once_per_scan(spark, sf_smoke, monkeypatch, name):
    """The marker classifier (``functions.text.marker_langid``) binds
    the tokens once and computes each language score once, so the
    optimized plan holds one ``split(`` per ``documents`` scan.  The
    frames an op checkpoints while building are audited too."""
    from parquet_batch_spark.operators import all_queries

    cls = type(spark.range(1))
    checkpoint, frames = cls.localCheckpoint, []

    def recording(self, *args, **kwargs):
        frames.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    frames.append(all_queries()[name](spark, sf_smoke))
    n_scans = 0
    for df in frames:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        scans = len(re.findall(r"Relation \[[^\]]*\btext#", plan))
        assert plan.count("split(") == scans, plan[:3000]
        n_scans += scans
    assert n_scans >= 1
