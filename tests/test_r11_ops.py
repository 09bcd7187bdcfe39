"""Round-11 changes: the SemDeDup two-level quantizer (VERDICT r10 #2)
and the seq_markov_stationary reduce-then-fold rewrite (VERDICT r10 #3).
Oracle parity for both is covered by the registered sweep; these tests
pin the mechanics that parity alone can't distinguish."""

from __future__ import annotations

import math

import numpy as np
import pytest


# ------------------------------------------------------------------
# two-level quantizer
# ------------------------------------------------------------------


def _flat_two_level_reference(V: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Straight-line numpy replication of the two-level assignment with
    the documented tie rules (dimension-sequential accumulation, stable
    lower-id ties, SEM_COARSE_PROBE probed coarse groups) — an
    independent per-row implementation the batched Spark path must
    match cell-for-cell."""
    from parquet_batch_spark.operators.similarity import SEM_COARSE_PROBE

    K, dim = cents.shape
    kc = math.ceil(math.sqrt(K))
    probe = min(SEM_COARSE_PROBE, kc)
    coarse = cents[:kc]

    def d2_seq(X, C):
        acc = np.zeros((len(X), len(C)))
        for d in range(dim):
            diff = X[:, d][:, None] - C[None, :, d]
            acc += diff * diff
        return acc

    fgrp = np.argsort(d2_seq(cents, coarse), axis=1, kind="stable")[:, 0]
    vc = np.argsort(d2_seq(V, coarse), axis=1, kind="stable")[:, :probe]
    out = np.empty(len(V), dtype=np.int64)
    for i in range(len(V)):
        members = np.flatnonzero(np.isin(fgrp, vc[i]))
        assert len(members), "unreachable-empty-group invariant violated"
        d2 = d2_seq(V[i : i + 1], cents[members])[0]
        out[i] = members[int(np.argsort(d2, kind="stable")[0])]
    return out


def test_two_level_assignment_matches_numpy_reference(spark, sf_smoke):
    from parquet_batch_spark.operators import similarity as sim

    base, cents, _k = sim._hash_seed_cells(spark, sf_smoke)
    rows = (
        sim._assign_cells_two_level(base, cents)
        .select("vec_id", "cell")
        .collect()
    )
    got = {r["vec_id"]: r["cell"] for r in rows}
    vec_rows = sorted(base.collect(), key=lambda r: r["vec_id"])
    V = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in vec_rows])
    want = _flat_two_level_reference(V, cents)
    assert [got[r["vec_id"]] for r in vec_rows] == list(want)


def test_two_level_survives_identical_coarse_seeds(spark):
    """The empty-group proof's hard case: coarse seeds 0 and 1 are
    IDENTICAL vectors, so fine centroid 1 maps to coarse 0 and coarse
    group 1 is empty — but no vector can select coarse 1 (the tie
    always resolves to the lower id), so assignment must complete and
    agree with the numpy reference."""
    from parquet_batch_spark.operators import similarity as sim

    rng_rows = []
    # 6 fine centroids, dim 4; cents[0] == cents[1] exactly
    cents = np.asarray(
        [
            [0.0, 0.0, 0.0, 0.0],
            [0.0, 0.0, 0.0, 0.0],
            [9.0, 9.0, 9.0, 9.0],
            [0.1, 0.0, 0.0, 0.0],
            [8.9, 9.0, 9.0, 9.0],
            [5.0, 5.0, 5.0, 5.0],
        ]
    )
    for i in range(12):
        rng_rows.append((i, [float(i % 3) * 4.5, float(i % 5), 0.25 * i, 1.0]))
    base = spark.createDataFrame(rng_rows, "vec_id long, v array<double>")
    kc = math.ceil(math.sqrt(len(cents)))
    assert kc == 3 and np.array_equal(cents[0], cents[1])
    rows = sorted(
        sim._assign_cells_two_level(base, cents).collect(),
        key=lambda r: r["vec_id"],
    )
    V = np.asarray([r[1] for r in rng_rows])
    want = _flat_two_level_reference(V, cents)
    assert [r["cell"] for r in rows] == list(want)
    assert 1 not in {r["cell"] for r in rows} or cents[1][0] != cents[0][0]


def test_two_level_kc_formula_mirrors_oracle():
    """Python's ceil(sqrt(k)) and the oracle's CEIL(SQRT(k)) must agree
    (both IEEE-double sqrt); spot-check the formula over the k range the
    cap can produce."""
    import duckdb

    ks = [16, 17, 23, 50, 100, 1024, 2174, 10**6]
    got = duckdb.sql(
        "SELECT list_transform($ks, k -> CAST(CEIL(SQRT(k)) AS INTEGER))".replace(
            "$ks", str(ks)
        )
    ).fetchone()[0]
    assert got == [math.ceil(math.sqrt(k)) for k in ks]


def test_semdedup_pair_work_stays_bucketed(spark, sf_smoke):
    """The two-level rewrite must not change the candidate topology:
    the executed plan still generates pairs via the cell equi-join —
    no CartesianProduct / BroadcastNestedLoop anywhere."""
    from parquet_batch_spark.operators import similarity as sim

    plan = sim.dedup_semantic_cluster(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# ------------------------------------------------------------------
# seq_markov_stationary fold
# ------------------------------------------------------------------


def test_markov_stationary_single_fold_plan(spark, sf_smoke):
    """The rewrite's point: no iteration joins left — the physical plan
    contains zero join nodes (the 12 iterations live inside one
    higher-order-function expression)."""
    from parquet_batch_spark.operators.stats.seq import seq_markov_stationary

    plan = (
        seq_markov_stationary(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, node


def test_markov_stationary_trajectory_unchanged_vs_unrolled(spark, sf_smoke):
    """The fold must reproduce the pre-r11 join/groupBy iteration
    bit-for-bit: replicate the OLD unrolled trajectory in plain Python
    (same truncating integer fixed-point arithmetic) from the reduced
    transition counts and compare."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.stats.seq import MS_ITERS, MS_SCALE, seq_markov_stationary

    ev = load(spark, sf_smoke, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    raw = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    states = sorted({r["from_type"] for r in raw})
    idx = {s: i for i, s in enumerate(states)}
    m = len(states)
    ci: dict[str, int] = {}
    kept = [r for r in raw if r["to_type"] in idx]
    for r in kept:
        ci[r["from_type"]] = ci.get(r["from_type"], 0) + r["c"]
    edges = [
        (idx[r["from_type"]], idx[r["to_type"]], (r["c"] * MS_SCALE) // ci[r["from_type"]])
        for r in kept
    ]
    pi = [MS_SCALE // m] * m
    for _ in range(MS_ITERS):
        nxt = [0] * m
        for fi, ti, p in edges:
            nxt[ti] += (pi[fi] * p) // MS_SCALE
        pi = nxt
    got = {
        r["state"]: r["pi_fp"]
        for r in seq_markov_stationary(spark, sf_smoke).collect()
    }
    assert got == {s: pi[idx[s]] for s in states}
