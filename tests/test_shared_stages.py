"""Shared-stage cache (``catalog.shared_stage``).

Stage results are stored next to a fingerprint of their input files,
so data rewritten in place at the same path is recomputed, while an
unchanged fixture keeps returning the cached object.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 8
_GROUPS = itertools.count()


def _texts(n: int, dup: tuple[int, int]) -> list[str]:
    """n unrelated documents, except ids ``dup`` share one text."""
    texts = [" ".join(f"t{i}x{j}" for j in range(12)) for i in range(n)]
    texts[dup[1]] = texts[dup[0]]
    return texts


def _write_fixture(sf_dir, n_docs: int, dup: tuple[int, int], n_vecs: int, sign: float):
    texts = _texts(n_docs, dup)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": ["en"] * n_docs,
                "source": ["web"] * n_docs,
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(sf_dir / "documents.parquet"),
    )
    rng = np.random.default_rng(n_vecs)
    vecs = sign * np.abs(rng.normal(size=(n_vecs, DIM))) + sign * 0.01
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n_vecs, pa.int32()),
            }
        ),
        str(sf_dir / "embeddings.parquet"),
    )


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_rewrite_in_place_recomputes_shared_stages(spark, tmp_path):
    from parquet_batch_spark.catalog import count_table
    from parquet_batch_spark.operators.dedup import (
        _lsh_candidate_pairs,
        dedup_minhash_lsh,
    )
    from parquet_batch_spark.operators.similarity import _hash_seed_cells, _ivf_k

    sf_dir = str(tmp_path)
    _write_fixture(tmp_path, n_docs=6, dup=(1, 2), n_vecs=20, sign=1.0)
    assert count_table(spark, sf_dir, "documents") == 6
    assert _pairs(dedup_minhash_lsh(spark, sf_dir)) == {(1, 2)}
    _, cents, k = _hash_seed_cells(spark, sf_dir)
    assert k == _ivf_k(20) and (cents > 0).all()

    # unchanged fixture: every stage returns its cached object
    assert _hash_seed_cells(spark, sf_dir)[1] is cents
    cands = _lsh_candidate_pairs(spark, sf_dir)
    assert _lsh_candidate_pairs(spark, sf_dir) is cands

    # same paths, different rows
    _write_fixture(tmp_path, n_docs=9, dup=(3, 7), n_vecs=300, sign=-1.0)
    assert count_table(spark, sf_dir, "documents") == 9
    assert count_table(spark, sf_dir, "embeddings") == 300
    assert _pairs(dedup_minhash_lsh(spark, sf_dir)) == {(3, 7)}
    _, cents2, k2 = _hash_seed_cells(spark, sf_dir)
    assert k2 == _ivf_k(300) == 18
    assert cents2.shape == (18, DIM) and (cents2 < 0).all()
    assert _lsh_candidate_pairs(spark, sf_dir) is not cands


def _load_jobs(spark, sf_dir: str, name: str):
    """``catalog.load`` plus the ids of the Spark jobs it fired."""
    from parquet_batch_spark.catalog import load

    sc = spark.sparkContext
    group = f"load-{next(_GROUPS)}"
    sc.setJobGroup(group, "load")
    try:
        df = load(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def test_table_schema_inferred_once_per_table_version(spark, tmp_path):
    """``load`` reads with the cached ``table_schema``: a second load of
    the same files fires no schema-inference job, a rewrite in place
    (here, an added column) re-infers, and so does a change to a
    Parquet type-conversion conf."""
    sf_dir = str(tmp_path)
    _write_fixture(tmp_path, n_docs=6, dup=(1, 2), n_vecs=20, sign=1.0)
    df, jobs = _load_jobs(spark, sf_dir, "documents")
    assert jobs and "blob" not in df.columns
    df, jobs = _load_jobs(spark, sf_dir, "documents")
    assert not jobs and df.count() == 6

    table = pq.read_table(str(tmp_path / "documents.parquet"))
    table = table.append_column("blob", pa.array([b"x%d" % i for i in range(6)]))
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    df, jobs = _load_jobs(spark, sf_dir, "documents")
    assert jobs and dict(df.dtypes)["blob"] == "binary"
    assert df.orderBy("doc_id").first()["blob"] == b"x0"

    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df, jobs = _load_jobs(spark, sf_dir, "documents")
        assert jobs and dict(df.dtypes)["blob"] == "string"
        assert df.orderBy("doc_id").first()["blob"] == "x0"
    finally:
        spark.conf.set(key, old)
    df, jobs = _load_jobs(spark, sf_dir, "documents")
    assert not jobs and dict(df.dtypes)["blob"] == "binary"
