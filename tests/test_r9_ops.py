"""Round-9 guards: the Expand-free exact stats profile (VERDICT r8 #7
trim) and the memoized hash-seed cells and segment edges."""

from __future__ import annotations


def test_stats_profile_exact_plans_without_expand(spark, sf_dir):
    """r9 trim (VERDICT r8 #7): the EXACT profile now uses the same
    union-of-single-distinct-branches topology as the approx sibling —
    no EXPAND (the old one-agg form replicated every fact row once per
    distinct aggregate, a x5 blow-up), one pruned column per branch
    scan."""
    import re

    from parquet_batch_spark.operators.warehouse import table_stats_profile

    plan = (
        table_stats_profile(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 4
    assert all(s.count(":") == 1 for s in schemas), schemas


def test_hash_seed_cells_memoized_per_sf_dir(spark, sf_dir):
    """r9: the coarse-quantizer training collect is shared by three
    registered ops — the centroid matrix must be computed once per
    sf_dir (identity-stable across calls), recompute cold once the
    cache is cleared, and stay correct (k rows, consistent with _ivf_k
    of the corpus count)."""
    from parquet_batch_spark.catalog import clear_shared_stages, count_table
    from parquet_batch_spark.operators.similarity import (
        _hash_seed_cells,
        _ivf_k,
    )

    _, warm, _ = _hash_seed_cells(spark, sf_dir)
    clear_shared_stages("ivf_centroids")
    _, cents1, k1 = _hash_seed_cells(spark, sf_dir)
    assert cents1 is not warm and (cents1 == warm).all()
    _, cents2, k2 = _hash_seed_cells(spark, sf_dir)
    assert cents1 is cents2 and k1 == k2
    assert k1 == _ivf_k(count_table(spark, sf_dir, "embeddings"))
    assert cents1.shape[0] == k1


def test_segment_edges_memoized_and_checkpointed(spark, sf_dir):
    """r9: nine graph consumers share the segment-sharing edge table —
    it must materialize once per (session, sf_dir) and return the same
    DataFrame object on re-call; with MATERIALIZE_SHARED_STAGES off it
    must return the raw (un-memoized) build."""
    from parquet_batch_spark import catalog
    from parquet_batch_spark.operators.llm_prep import segment_edges

    catalog.clear_shared_stages("segment_edges")
    e1 = segment_edges(spark, sf_dir)
    e2 = segment_edges(spark, sf_dir)
    assert e1 is e2
    rows = e1.count()
    assert rows > 0
    old = catalog.MATERIALIZE_SHARED_STAGES
    try:
        catalog.MATERIALIZE_SHARED_STAGES = False
        raw = segment_edges(spark, sf_dir)
        assert raw is not e1
        assert raw.count() == rows
    finally:
        catalog.MATERIALIZE_SHARED_STAGES = old
