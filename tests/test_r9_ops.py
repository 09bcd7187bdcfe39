"""Round-9 guards: the scoped shuffle-partition trim (ADVICE r8 —
the session-global conf mutation in the fixpoint ops is a latent
hazard under concurrency), the Bradley-Terry n_ij cleanup, the
conf-driven FilePartition pack estimate (ADVICE r8: fan_out must
track overridden spark.sql.files.* values), and the Expand-free
exact stats profile (VERDICT r8 #7 trim)."""

from __future__ import annotations

from parquet_batch_spark.operators.stats_ops import _trimmed_shuffle_partitions


def test_trim_applies_and_restores_when_idle(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with _trimmed_shuffle_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_trim_restores_on_exception(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with _trimmed_shuffle_partitions(spark, 2):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_trim_skipped_while_other_jobs_active(spark, monkeypatch):
    """If another thread has a job running in the same session, the
    trim must NOT touch the session-global conf (the other query's
    shuffles would narrow too) — the fixpoint just runs at full
    width."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    class FakeTracker:
        def getActiveJobsIds(self):
            return [7]

    monkeypatch.setattr(
        type(spark.sparkContext), "statusTracker", lambda self: FakeTracker()
    )
    with _trimmed_shuffle_partitions(spark, 1):
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_bytes_conf_parses_spark_byte_strings(spark):
    """ADVICE r8: fan_out must read maxPartitionBytes/openCostInBytes
    from the live session, which means parsing Spark's byte-string
    forms ("128MB", "4194304b", bare ints)."""
    from parquet_batch_spark.catalog import _bytes_conf

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    key = "spark.sql.files.maxPartitionBytes"
    try:
        for raw, want in [
            ("128MB", 128 << 20),
            ("128m", 128 << 20),
            ("4194304b", 4 << 20),
            ("134217728", 128 << 20),
            ("1g", 1 << 30),
            ("64kb", 64 << 10),
        ]:
            spark.conf.set(key, raw)
            assert _bytes_conf(spark, key, -1) == want, raw
        # unparseable / missing fall back to the caller's default
        # (typed Spark confs reject bad values at set() time, so the
        # unparseable branch is exercised via an untyped custom key)
        spark.conf.set("pbs.test.bad_size", "not-a-size")
        assert _bytes_conf(spark, "pbs.test.bad_size", 7) == 7
        assert _bytes_conf(spark, "pbs.no.such.key", 9) == 9
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_pack_estimate_tracks_overridden_read_confs(spark, tmp_path):
    """With spark.sql.files.maxPartitionBytes overridden, the conf-fed
    estimate must still equal Spark's ACTUAL packing (ADVICE r8: the
    old hard-coded 128 MiB/4 MiB silently diverged under overrides,
    so fan_out could skip a needed spread or add a redundant one)."""
    import os

    from pyspark.sql import functions as F

    from parquet_batch_spark.catalog import _bytes_conf, _spark_pack_estimate

    path = str(tmp_path / "t")
    spark.range(1_500_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).coalesce(1).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2m")
    try:
        df = spark.read.parquet(path)
        sizes = [
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        est = _spark_pack_estimate(
            sizes,
            spark.sparkContext.defaultParallelism,
            _bytes_conf(spark, key, 128 << 20),
            _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20),
        )
        assert est == df.rdd.getNumPartitions()
        # and the override genuinely changed the packing vs defaults
        assert est > _spark_pack_estimate(
            sizes, spark.sparkContext.defaultParallelism
        )
    finally:
        spark.conf.set(key, prev)


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
