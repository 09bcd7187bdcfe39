"""Round-12 changes: SemDeDup's distinct-vector collapse (VERDICT r11
#4 — all quadratic work over the D distinct vectors, linear member
re-expansion) and the partial_moments int64-exactness guard (ADVICE r11
#3).  Oracle parity for the registered query is covered by the sweep;
these tests pin the dup-dense behavior the committed (dup-free)
fixtures can't exercise."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

DIM = 64


def _dup_dense_embeddings(tmp_path, groups: list[tuple[np.ndarray, int]]):
    """Write an embeddings.parquet of exact-duplicate groups with
    INTERLEAVED ids (round-robin over groups), so group members are
    scattered across the id space and no rep is accidentally adjacent
    to its copies."""
    vecs, ids = [], []
    pending = [(v, n) for v, n in groups]
    next_id = 0
    while any(n > 0 for _, n in pending):
        for i, (v, n) in enumerate(pending):
            if n > 0:
                vecs.append(v)
                ids.append(next_id)
                next_id += 1
                pending[i] = (v, n - 1)
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(ids), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path), ids, vecs


def _mk_groups(rng: np.random.Generator):
    """Distinct base vectors with known cross-group cosine structure:
    pairs (2i, 2i+1) are near-duplicates (cos > 0.45), groups are
    otherwise well-separated; one all-zero group pins the nrm=0 edge."""
    groups = []
    for i in range(10):
        base = rng.normal(size=DIM).astype(np.float32)
        base /= np.linalg.norm(base)
        twin = (base + rng.normal(scale=0.05, size=DIM).astype(np.float32)).astype(
            np.float32
        )
        groups.append((base, int(rng.integers(1, 8))))
        groups.append((twin, int(rng.integers(1, 8))))
    groups.append((np.zeros(DIM, dtype=np.float32), 3))
    return groups


def test_semdedup_dup_dense_matches_oracle(spark, tmp_path):
    """The r12 collapse must stay bit-exact vs the mirrored oracle on a
    corpus the committed fixtures can't represent: heavy exact
    duplication, interleaved ids, near-dup cross-group pairs, and a
    zero-norm group."""
    import duckdb

    from parquet_batch_spark.operators import similarity as sim
    from tests.oracle_harness import compare

    rng = np.random.default_rng(1207)
    sf_dir, ids, vecs = _dup_dense_embeddings(tmp_path, _mk_groups(rng))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    df = sim.dedup_semantic_cluster(spark, sf_dir)
    r = compare("semdedup_dup_dense", df, sim._SEM_DEDUP_SQL, con)
    assert r.ok, (r.detail, r.mismatches[:5])

    rows = {row["vec_id"]: row for row in df.collect()}
    # semantic invariants the oracle mirror alone can't distinguish:
    by_vec: dict[bytes, list[int]] = {}
    for i, v in zip(ids, vecs):
        by_vec.setdefault(np.asarray(v, dtype=np.float64).tobytes(), []).append(i)
    for key, members in by_vec.items():
        members = sorted(members)
        rep = members[0]
        if not np.any(np.frombuffer(key)):
            # zero-norm group: cosine undefined -> never emitted
            assert all(m not in rows for m in members)
            continue
        for m in members[1:]:
            # every non-rep member of a nonzero dup group must drop,
            # to a candidate no later than its own representative
            assert m in rows, f"dup member {m} survived"
            assert rows[m]["kept_id"] <= rep
            if rows[m]["kept_id"] == rep:
                assert rows[m]["cos_sim"] == 1.0
    # at least one cross-group (cos < 1) drop must exist in this
    # fixture, or the near-dup construction silently failed
    assert any(row["cos_sim"] < 1.0 for row in rows.values())


def test_semdedup_k_sized_from_distinct_mass(spark, tmp_path):
    """VERDICT r11 #4's headline: K derives from D (distinct vectors),
    not N (raw rows) — 40 distinct vectors replicated to N=2000 must
    train K = 16 cells (the floor), not ceil(sqrt(2000)) = 45."""
    from parquet_batch_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    groups = []
    for _ in range(40):
        v = rng.normal(size=DIM).astype(np.float32)
        groups.append((v, 50))
    sf_dir, ids, _ = _dup_dense_embeddings(tmp_path, groups)
    assert len(ids) == 2000
    sim.dedup_semantic_cluster(spark, sf_dir).collect()
    cents, k, d_n = sim._sem_centroids(spark, sf_dir, sim.SEM_MAX_CELL)
    assert k == 16, f"K must follow distinct mass: got {k}"
    assert len(cents) == 16


def test_partial_moments_overflow_guard(spark, tmp_path):
    """ADVICE r11 #3: embeddings far outside the documented ~[-1, 1]
    envelope must fail LOUDLY in partial_moments instead of silently
    wrapping the int64 matmul while the oracle's HUGEINT sum does not
    (a component of 2e7 micro-quantizes to |xq| = 2e13, whose square
    alone exceeds 2^63)."""
    from parquet_batch_spark.operators.stats.ml import embedding_pca_power_iteration

    v = np.zeros(DIM, dtype=np.float32)
    v[0] = 2.0e7
    sf_dir, _, _ = _dup_dense_embeddings(tmp_path, [(v, 1)])
    with pytest.raises(Exception, match="int64 overflow risk"):
        embedding_pca_power_iteration(spark, sf_dir)
    # in-bound corpora still pass the guard untouched (boundary sanity:
    # the documented envelope is far below the failure threshold)
    amax_ok = 1_000_000
    assert 100_000 * amax_ok * amax_ok < 2**63
