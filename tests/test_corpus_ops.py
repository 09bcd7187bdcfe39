"""Semantics, invariant and plan tests for corpus_ops (Gopher rules,
URL canonicalization, triangle census, BPE merges)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_batch_spark.operators.corpus_ops import (
    _apply_merge,
    dedup_url_canonical,
    graph_triangle_count,
    quality_gopher_rules,
    text_bpe_merges,
)
from parquet_batch_spark.plans.inspect import executed_plan


def test_gopher_single_pass(spark, sf_dir):
    df = quality_gopher_rules(spark, sf_dir)
    plan = executed_plan(df)
    assert plan.count("documents.parquet") == 1, plan
    rows = df.collect()
    n = sum(r["n_docs"] for r in rows)
    assert n == 500
    for r in rows:
        assert 0 <= r["n_pass"] <= r["n_docs"]
        for c in ("fail_words", "fail_mwl", "fail_alpha", "fail_stop"):
            assert 0 <= r[c] <= r["n_docs"]
        # a doc passing all rules fails none
        assert r["n_pass"] + max(
            r["fail_words"], r["fail_mwl"], r["fail_alpha"], r["fail_stop"]
        ) <= r["n_docs"]


def test_url_canonical_forms_are_clean(spark, sf_dir):
    rows = dedup_url_canonical(spark, sf_dir).collect()
    assert sum(r["n_variants"] for r in rows) == 500
    assert len(rows) < 500  # canonicalization actually collapsed variants
    for r in rows:
        u = r["canonical_url"]
        assert u.startswith("https://src")  # lowercased, www-stripped
        assert ":443" not in u and "#" not in u and "utm_" not in u
        assert "&" not in u or u.index("?") < u.index("&")


def test_triangle_census_invariants(spark, sf_dir):
    row = graph_triangle_count(spark, sf_dir).collect()[0]
    # every triangle closes exactly 3 wedges
    assert 3 * row["n_triangles"] <= row["n_wedges"]
    assert 0 <= row["gcc_micro"] <= 1_000_000
    assert row["n_vertices"] <= 500
    # handshake bound: e <= v*(v-1)/2
    v, e = row["n_vertices"], row["n_edges"]
    assert e <= v * (v - 1) // 2


def test_triangle_plan_no_cartesian(spark, sf_dir, monkeypatch):
    # assert on the FULL edge-build subtree, not the memoized
    # localCheckpoint scan (ADVICE r9: segment_edges materializes once
    # per session, which silently removed the edge joins from this plan)
    from parquet_batch_spark import catalog

    monkeypatch.setattr(catalog, "MATERIALIZE_SHARED_STAGES", False)
    plan = executed_plan(graph_triangle_count(spark, sf_dir))
    # the three scalar-combine crossJoins are broadcast single-row NLJs
    # (acceptable); a CartesianProduct would mean the edge joins
    # degenerated.  The wedge/triangle edge joins themselves must stay
    # equi-joins — visible again now that the memo is off.
    assert "CartesianProduct" not in plan, plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 1, plan


def test_bpe_merge_counts_non_increasing(spark, sf_dir):
    rows = text_bpe_merges(spark, sf_dir).collect()
    counts = [r["pair_count"] for r in rows]
    assert len(counts) == 4
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["merged"] == r["lhs"] + r["rhs"]


def test_bpe_merge_fixpoint_on_repeats(spark):
    """Left-to-right single-pass replace misses alternating repeats —
    the fixpoint iteration must not ('ababab' → 'ab ab ab')."""
    vocab = spark.createDataFrame(
        [("ababab", 1, " a b a b a b </w> ")], ["word", "cnt", "rep"]
    )
    out = _apply_merge(vocab, "a", "b").collect()[0]["rep"]
    assert out == " ab ab ab </w> ", repr(out)


def test_lpa_labels_partition_vertices(spark, sf_dir):
    from parquet_batch_spark.operators.corpus_ops import (
        _segment_edges,
        graph_community_labels,
    )

    rows = graph_community_labels(spark, sf_dir).collect()
    e = _segment_edges(spark, sf_dir)
    nv = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .distinct()
        .count()
    )
    assert sum(r["n_members"] for r in rows) == nv
    for r in rows:
        assert r["member_min"] <= r["member_max"]
        assert r["n_members"] >= 1


def test_weighted_median_is_attained_and_window_is_reduced(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.analytics import agg_weighted_median

    df = agg_weighted_median(spark, sf_dir)
    rows = {r["l_returnflag"]: r for r in df.collect()}
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
            F.sum(F.col("l_quantity").cast("long")).alias("tot"),
        )
    )
    for r in li.collect():
        got = rows[r["l_returnflag"]]
        assert r["mn"] <= got["weighted_median_price"] <= r["mx"]
        assert got["total_weight"] == r["tot"]
    # the window runs over the price-distinct reduced table, never raw rows
    plan = executed_plan(df)
    assert plan.index("Window") < plan.index("FileScan")  # window above scan
    import re

    agg_before_window = re.search(r"Window.*?HashAggregate.*?FileScan", plan, re.S)
    assert agg_before_window, plan


def test_interval_coalesce_bounds(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.windows import (
        IVC_WIDTH_US,
        window_interval_coalesce,
    )

    rows = window_interval_coalesce(spark, sf_dir).collect()
    ev_counts = {
        r["user_id"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(rows) == len(ev_counts)
    for r in rows:
        n = ev_counts[r["user_id"]]
        assert 1 <= r["n_islands"] <= n
        assert IVC_WIDTH_US <= r["covered_us"] <= n * IVC_WIDTH_US


def test_linear_interpolate_semantics(spark, sf_dir):
    from parquet_batch_spark.operators.windows import window_linear_interpolate

    rows = window_linear_interpolate(spark, sf_dir).collect()
    assert all(r["value_interp"] is not None for r in rows)
    # interpolated points lie between their neighbors per user
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gaps = 0
    for seq in by_user.values():
        assert seq[0]["observed"] and seq[-1]["observed"]  # spine bounded
        for i, r in enumerate(seq):
            if not r["observed"]:
                gaps += 1
                lo = next(x for x in reversed(seq[:i]) if x["observed"])
                hi = next(x for x in seq[i + 1:] if x["observed"])
                a, b = sorted((lo["value_interp"], hi["value_interp"]))
                assert a - 1e-6 <= r["value_interp"] <= b + 1e-6
    assert gaps > 0  # the grid actually has gaps to interpolate


def test_overlap_stitch_pairs_verified(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.text_analysis import (
        STITCH_K,
        text_overlap_stitch,
    )

    pairs = text_overlap_stitch(spark, sf_dir).collect()
    assert pairs  # this corpus contains stitchable pairs at K=3
    texts = {
        r["doc_id"]: r["text"].split()
        for r in load(spark, sf_dir, "documents").collect()
    }
    for p in pairs:
        assert texts[p["a"]][-STITCH_K:] == texts[p["b"]][:STITCH_K]


def test_cross_source_matrix_consistency(spark, sf_dir):
    from parquet_batch_spark.operators.corpus_ops import (
        _segment_edges,
        dedup_cross_source_matrix,
    )

    rows = dedup_cross_source_matrix(spark, sf_dir).collect()
    total_edges = sum(r["n_edges"] for r in rows)
    assert total_edges == _segment_edges(spark, sf_dir).count()
    for r in rows:
        assert r["source_x"] <= r["source_y"]
        assert 2 <= r["n_docs"] <= 2 * r["n_edges"]
