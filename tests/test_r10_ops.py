"""Round-10 advisory fixes (ADVICE r9): bench_compare's robust trend
estimator, and the SemDeDup cell cap."""

from __future__ import annotations

import pytest


def test_bench_compare_median_headline():
    """VERDICT r9 #4: the median per-op ratio is the headline (robust to
    probe bursts), probes compare like-for-like keys only, and a 0.0
    probe is kept (`is not None`, not truthiness)."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from bench_compare import compare

    old = {
        "queries": {"a": 1.0, "b": 2.0, "c": 0.1, "d": 4.0},
        "cpu_calibration_sec": 0.2,
        # old artifact carries only the start probe (pre-r10 shape)
    }
    new = {
        "queries": {"a": 1.1, "b": 2.2, "c": 0.4, "d": 4.4},
        "cpu_calibration_sec": 0.4,
        "cpu_calibration_mid_sec": 0.2,
        "cpu_calibration_end_sec": 0.2,
    }
    out = compare(old, new)
    # per-op ratios: 1.1, 1.1, 4.0, 1.1 -> median 1.1 (burst-immune);
    # the >=200ms screen drops the noisy 100ms op
    assert out["median_per_op_ratio"] == 1.1
    assert out["median_per_op_ratio_ge_200ms"] == 1.1
    # like-for-like: only the start probe is common -> drift 2.0, NOT
    # avg-of-1 vs avg-of-3 (which would read 0.4 vs 0.267)
    assert out["box_drift"] == 2.0
    # a legitimate 0.0 probe is not dropped by truthiness
    z = compare(
        {"queries": {"a": 1.0}, "cpu_calibration_sec": 0.0},
        {"queries": {"a": 1.0}, "cpu_calibration_sec": 0.0},
    )
    assert z["cal_old"] == 0.0 and z["cal_new"] == 0.0


def test_semdedup_cell_cap_binds_and_matches_oracle(spark, sf_smoke, monkeypatch):
    """VERDICT r9 #5 (r12: cap sized from DISTINCT mass D, VERDICT r11
    #4): the SemDeDup cell-population cap (K grows to
    ceil(D/SEM_MAX_CELL) once that exceeds the sqrt rule) is real code,
    not a docstring claim.  Force it to bind (cap=10 at D=500 ->
    K=50 > ceil(sqrt(500))=23) and verify bit-exact parity against the
    identically-capped DuckDB oracle."""
    from parquet_batch_spark.operators import similarity as sim
    from tests.oracle_harness import compare, duckdb_conn

    monkeypatch.setattr(sim, "SEM_MAX_CELL", 10)
    capped_sql = sim._SEM_DEDUP_SQL.replace(
        f"d / {1000}.0", "d / 10.0"
    )
    assert "d / 10.0" in capped_sql  # the cap term really got swapped
    df = sim.dedup_semantic_cluster(spark, sf_smoke)
    r = compare("semdedup_capped", df, capped_sql, duckdb_conn(sf_smoke))
    assert r.ok, r.detail
    # and the capped quantizer really trained more cells than sqrt(D)
    assert sim._sem_centroids(spark, sf_smoke, 10)[1] == 50


def test_semdedup_cap_is_behavior_neutral_below_crossover(spark, sf_smoke):
    """At every committed test SF the cap must NOT bind: K stays on the
    sqrt rule over the DISTINCT count (= N on the dup-free committed
    fixtures), and the registered oracle stays bit-identical (checked
    in the oracle sweep; here we pin the k decision)."""
    from parquet_batch_spark.operators import similarity as sim
    from parquet_batch_spark.catalog import count_table

    n = count_table(spark, sf_smoke, "embeddings")
    assert -(-n // sim.SEM_MAX_CELL) <= sim._ivf_k(n)
    sim.dedup_semantic_cluster(spark, sf_smoke)
    cents, k, d_n = sim._sem_centroids(spark, sf_smoke, sim.SEM_MAX_CELL)
    # committed fixtures are dup-free, so D = N and the sqrt rule wins
    assert k == sim._ivf_k(n)
    assert len(cents) == k


def test_bench_compare_median_empty_common():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from bench_compare import compare

    out = compare({"queries": {}}, {"queries": {}})
    assert out["median_per_op_ratio"] is None
