"""LSH ANN quality gate: recall vs the exact brute-force baseline."""

from __future__ import annotations

from parquet_batch_spark.operators.similarity import (
    ann_bruteforce_topk,
    ann_lsh_bucketed,
)


def test_lsh_recall_against_bruteforce(spark, sf_dir):
    """The driver's embeddings are near-uniform (no cluster structure
    — worst case for LSH), so the honest gate is lift over a random
    candidate scan: radius-2 multiprobe examines ~37/256 ≈ 14% of the
    corpus, so random-baseline recall ≈ 0.14; require ≥ 2× that plus
    an absolute floor."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_bucketed(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall {recall:.2f} < 0.3 ({len(exact)} truth pairs)"


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    """IVF with hash-sampled data-point centroids (K=ceil(sqrt(N)),
    nprobe=K/4, 2-way spill assignment): measured recall 0.68 at
    sf0.01 (n=500, k=23, 22% of cells probed) on the near-uniform
    corpus — the hardest case (no cluster structure for cells to
    adapt to; LSH measures ~0.3-0.5 here at a similar scan budget).
    The probed fraction shrinks as 1/sqrt(N) at scale. Floor set
    with safety margin below the measurement."""
    from parquet_batch_spark.operators.similarity import ann_ivf_topk

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.55, f"IVF recall {recall:.2f} < 0.55 ({len(exact)} truth pairs)"


def test_cosine_dedup_banding_quality(spark, sf_dir):
    """dedup_embedding_cosine's LSH-banded candidates vs the exact
    all-pairs truth: every emitted pair must be a true pair with the
    identical rounded cosine (precision 1.0 — banding only ever drops
    candidates), and recall must clear a floor. The driver's vectors
    are near-uniform, so every true pair sits right at the 0.45
    threshold where per-band collision is weakest (analytic recall
    ≈0.59 at cos 0.5 against a 0.25 random-pair rate; measured 0.36 at
    sf0.01 on 14 truth pairs — small-sample noise, floor set below)."""
    from oracle_harness import duckdb_conn
    from parquet_batch_spark.operators.dedup import (
        COSINE_THRESHOLD,
        dedup_embedding_cosine,
    )

    con = duckdb_conn(sf_dir)
    truth = {
        (a, b): c
        for a, b, c in con.sql(f"""
            WITH nv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
            b AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x->x*x))) AS nrm FROM nv)
            SELECT a.vec_id, b2.vec_id, ROUND(
                list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b2.v[i]))
                    / (a.nrm*b2.nrm), 6) AS cos
            FROM b a JOIN b b2 ON a.vec_id < b2.vec_id
            WHERE list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b2.v[i]))
                    / (a.nrm*b2.nrm) >= {COSINE_THRESHOLD}
        """).fetchall()
    }
    found = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    assert truth, "no truth pairs at this SF — test data changed?"
    for pair, cos in found.items():
        assert pair in truth and truth[pair] == cos, (pair, cos)
    recall = len(found) / len(truth)
    assert recall >= 0.15, f"banded recall {recall:.2f} < 0.15 ({len(truth)} truth pairs)"


def test_cosine_small_and_join_paths_identical(spark, sf_dir, monkeypatch):
    """The COS_SMALL_CORPUS gate must be a pure physical-plan decision:
    the single-task small-corpus scorer and the distributed pair-join
    path share candidate semantics (same planes, same band codes) and
    IEEE op order (dimension-sequential folds), so their outputs must
    be row-for-row identical — including every rounded cosine."""
    from parquet_batch_spark.operators import dedup as dedup_mod
    from parquet_batch_spark.operators.dedup import dedup_embedding_cosine

    def rows(df):
        return [(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in df.collect()]

    monkeypatch.setattr(dedup_mod, "COS_SMALL_CORPUS", 10**9)
    small = rows(dedup_embedding_cosine(spark, sf_dir))
    monkeypatch.setattr(dedup_mod, "COS_SMALL_CORPUS", 0)
    joined = rows(dedup_embedding_cosine(spark, sf_dir))
    assert small, "gate test is vacuous — no pairs at this SF"
    assert small == joined


def test_geometric_median_releases_its_cache(spark, sf_smoke):
    """The op caches its quantized rows for the mean and Weiszfeld
    passes; the cache must be released once the last pass is collected,
    because the registry runs every op in one long-lived session."""
    from parquet_batch_spark.operators.similarity import embedding_geometric_median

    # compare ids, not counts: the context cleaner may free RDDs that
    # earlier tests left persisted while this op runs
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert embedding_geometric_median(spark, sf_smoke).count() > 0
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
