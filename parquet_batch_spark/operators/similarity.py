"""Similarity search over the embeddings table (north-star).

Two paths:

- ``ann_bruteforce_topk``: exact cosine top-k for a query set —
  broadcast the (small) query side, score with JVM higher-order
  functions, rank with a per-query window. This is the correctness
  baseline and the right plan whenever |queries| is broadcast-able;
  the fact side streams once regardless of corpus size. Oracle-exact.

- ``ann_lsh_bucketed``: random-hyperplane LSH (seeded, deterministic)
  → bucket vectors by sign bits → probe only the query's bucket ±
  multiprobe neighbors. The 100 TB path: candidate generation is an
  equi-join on bucket id (one shuffle), score only candidates. Exact
  recall is not guaranteed → registered without an oracle (driver
  records the weaker rows-only check), but a test asserts recall ≥
  0.8 against the brute-force baseline at sf0.01.

Hyperplanes are derived from the portable hash family (no RNG at
query time): plane p, dim d weight = (affine-LCG(p, d) / P) * 2 - 1.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_batch_spark.catalog import count_table, fan_out, load, shared_stage
from parquet_batch_spark.functions.hashing import MERSENNE_P, hash32, sql_hash32

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 serve as the query set
N_PLANES = 8


def _dvec(col: str = "embedding"):
    return F.transform(col, lambda x: x.cast("double"))


def _norm(v):
    return F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector (vec_id<10),
    self excluded; ties broken by neighbor id."""
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    base = em.select("vec_id", _dvec().alias("v"))
    base = base.select("vec_id", "v", _norm(F.col("v")).alias("nrm"))
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    cos = dot / (F.col("nrm") * F.col("qnrm"))
    scored = (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cos)
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_sim", 6).alias("cos_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


_ANN_BRUTE_SQL = f"""
WITH nv AS (
    SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
base AS (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM nv
),
scored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        list_sum(list_transform(generate_series(1, len(b.v)), i -> b.v[i] * q.v[i]))
            / (b.nrm * q.nrm) AS cos_raw
    FROM base b
    JOIN base q ON q.vec_id < {N_QUERIES} AND b.vec_id <> q.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_raw DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------- LSH path

def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1) for plane p, dim d
    (LCG on (p*997 + d), same constants as hashing.hash_params)."""
    state = (p * 997 + d + 1) * 1103515245 + 12345
    state %= 1 << 31
    return (state / float(1 << 31)) * 2.0 - 1.0


def _bucket_col(v, dim: int = 64):
    """Sign-bit bucket id from N_PLANES seeded hyperplanes (JVM-side:
    the per-plane dot product is an aggregate over zip of literals)."""
    bucket = F.lit(0)
    for p in range(N_PLANES):
        # one Literal array node, not CreateArray(64 literals).
        # COSMETIC (ADVICE r12): the committed before/after physical
        # plans are identical — ConstantFolding already folded the
        # CreateArray — so this is compile-convenience only, not a
        # runtime win; the earlier "measured 2x" attribution was noise.
        weights = F.lit([_plane_weight(p, d) for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(v, weights, lambda x, w: x * w), F.lit(0.0), lambda a, x: a + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via random-hyperplane LSH buckets.

    Candidates = vectors whose bucket id is within hamming distance 2
    of the query's bucket (multiprobe: the query explodes into its
    bucket + all 1-bit and 2-bit flips, 37 probes over 256 buckets ≈
    14% of the corpus); candidate generation is then an EQUI-join on
    bucket id — the shape that scales: no broadcast of the corpus, no
    n² scoring. Recall depends on how clustered the embedding space
    is; the driver's synthetic vectors are near-uniform (the hardest
    case), where tests assert ≥3× lift over a random-candidate scan.
    """
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    base = em.select("vec_id", _dvec().alias("v"))
    base = base.select(
        "vec_id", "v", _norm(F.col("v")).alias("nrm"), _bucket_col(F.col("v")).alias("bucket")
    )
    flips = [0] + [1 << p for p in range(N_PLANES)] + [
        (1 << p) | (1 << q)
        for p in range(N_PLANES)
        for q in range(p + 1, N_PLANES)
    ]
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips])
        ).alias("probe_bucket"),
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    cos = dot / (F.col("nrm") * F.col("qnrm"))
    cands = (
        base.join(queries, F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("cos_sim", cos)
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_sim", 6).alias("cos_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# ann_lsh_bucketed is *approximate relative to brute force* but fully
# DETERMINISTIC (LCG-seeded hyperplanes, fixed multiprobe set), so it
# still gets an exact SQL oracle: DuckDB recomputes the same buckets
# from the same inlined plane weights. tests/test_similarity.py
# additionally asserts recall ≥ 0.8 vs the exact top-k.

_DIM = 64


def _sql_plane_list(p: int, dim: int = _DIM) -> str:
    return "[" + ", ".join(repr(_plane_weight(p, d)) for d in range(dim)) + "]"


_SQL_BUCKET = "\n        + ".join(
    f"(CASE WHEN list_sum(list_transform(generate_series(1, {_DIM}),"
    f" i -> v[i] * ({_sql_plane_list(p)})[i])) > 0 THEN {1 << p} ELSE 0 END)"
    for p in range(N_PLANES)
)

_FLIPS = [0] + [1 << p for p in range(N_PLANES)] + [
    (1 << p) | (1 << q) for p in range(N_PLANES) for q in range(p + 1, N_PLANES)
]

_ANN_LSH_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
base AS (
    SELECT vec_id, v,
        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
        {_SQL_BUCKET} AS bucket
    FROM nv
),
probes AS (
    SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
        xor(bucket, f) AS probe_bucket
    FROM base, unnest({_FLIPS}) AS t(f)
    WHERE vec_id < {N_QUERIES}
),
cands AS (
    SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id,
        list_sum(list_transform(generate_series(1, {_DIM}), i -> b.v[i] * p.qv[i]))
            / (b.nrm * p.qnrm) AS cos_raw
    FROM base b
    JOIN probes p ON b.bucket = p.probe_bucket AND b.vec_id <> p.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_raw DESC, neighbor_id) AS rank
    FROM cands
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------- IVF path

IVF_MIN_K = 16  # floor on coarse-quantizer cell count
IVF_NPROBE_FLOOR = 4  # floor on cells probed per query
IVF_ASSIGN = 2  # spill assignment: each vector indexed in its 2 nearest cells


def _ivf_k(n: int) -> int:
    """K = max(16, ceil(sqrt(N))) — integer-exact (isqrt), mirrored by
    the oracle's GREATEST(16, CEIL(SQRT(n)))."""
    return max(IVF_MIN_K, math.isqrt(n - 1) + 1) if n > 0 else IVF_MIN_K


def _ivf_nprobe(k: int) -> int:
    """nprobe grows with the cell count (k/4, floor 4) so the probed
    corpus fraction nprobe/K shrinks as ~4/sqrt(N) instead of pinning
    a constant fraction."""
    return max(IVF_NPROBE_FLOOR, k // 4)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<double>) over the whole embeddings table."""
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    return em.select("vec_id", _dvec().alias("v"))


def _hash_seed_draw(vecs: DataFrame, k: int):
    """The k vectors with the smallest portable md5 hash of their id,
    as a k×dim centroid matrix (row = cell id)."""
    seed_rows = (
        vecs.withColumn("hk", hash32(F.col("vec_id").cast("string")))
        .orderBy("hk", "vec_id")
        .limit(k)
        .collect()
    )
    return np.asarray([np.asarray(r["v"], dtype=np.float64) for r in seed_rows])


@shared_stage("embeddings")
def _ivf_centroids(spark: SparkSession, sf_dir: str, vecs: DataFrame | None = None):
    """(centroid matrix, k) of the hash-sampled coarse quantizer shared
    by ann_ivf_topk / ann_ivfpq_topk / embedding_kmeans_rollup:
    centroids are the k = max(16, ceil(sqrt(N))) corpus vectors with
    the smallest hash.  Training is ONE top-k-by-hash selection — no
    Lloyd corpus passes — and the k×dim collect is bounded (~16 MB at
    N=1e9)."""
    k = _ivf_k(count_table(spark, sf_dir, "embeddings"))
    if vecs is None:
        vecs = _vectors(spark, sf_dir)
    return _hash_seed_draw(vecs, k), k


def _hash_seed_cells(spark: SparkSession, sf_dir: str):
    """(base df, centroid matrix, k) for the shared coarse quantizer."""
    base = _vectors(spark, sf_dir)
    return (base, *_ivf_centroids(spark, sf_dir, vecs=base))


def _assign_cells(base: DataFrame, cents, n_assign: int) -> DataFrame:
    """Assign each vector to its n_assign nearest centroids via one
    Arrow-batched numpy corpus pass; dimension-sequential accumulation
    == the oracle's SQL fold, stable argsort ties to the lower cell id
    (matching ORDER BY d2, cell)."""
    dim = cents.shape[1]

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
            acc = np.zeros((len(V), len(cents)))
            for d in range(dim):
                diff = V[:, d][:, None] - cents[None, :, d]
                acc += diff * diff
            near = np.argsort(acc, axis=1, kind="stable")[:, :n_assign]
            out = []
            for j in range(n_assign):
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "v": pdf["v"],
                            "cell": near[:, j].astype("int32"),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return base.mapInPandas(assign, schema="vec_id long, v array<double>, cell int")


SEM_COARSE_PROBE = 3  # coarse groups searched during fine refinement


def _assign_cells_two_level(base: DataFrame, cents) -> DataFrame:
    """Two-level (coarse → fine) nearest-centroid assignment (VERDICT
    r10 #2): with K fine cells, flat assignment is Θ(N·K) distance
    evaluations — at the SemDeDup design point K = N/{SEM_MAX_CELL}
    that is Θ(N²/{SEM_MAX_CELL}) flops.  Here the first Kc = ⌈√K⌉
    seeds double as COARSE centroids: each vector finds its
    {SEM_COARSE_PROBE} nearest coarse centroids (N·Kc), then refines
    among only the fine centroids whose own nearest coarse centroid is
    one of those (N·{SEM_COARSE_PROBE}·K/Kc expected) — O(N·√K) total,
    the standard FAISS IMI/two-level shape.  The multi-probe is the
    BALANCE knob: with a single coarse probe the induced cells skew
    (sum cell² read 1.9× flat at both committed fixtures); at
    {SEM_COARSE_PROBE} probes the pair work is within ~8 % of the flat
    assignment's (measured, ROADMAP r11) while assignment cost keeps
    the √K shape.  Every distance accumulates dimension-sequentially
    and ties break to the lower cell id, exactly mirroring the
    oracle's SQL fold.

    No coarse group a vector can probe is ever empty-by-surprise: fine
    centroid j (j < Kc) is itself coarse centroid j at distance exactly
    0.0, so it maps elsewhere only to an identical lower-id coarse
    centroid — and identical centroids tie for every vector, where the
    lower id wins in both engines, making the abandoned group's
    candidate set a subset of the winning twin's."""
    K = len(cents)
    kc = math.ceil(math.sqrt(K))  # mirrors the oracle's CEIL(SQRT(k))
    probe = min(SEM_COARSE_PROBE, kc)
    coarse = cents[:kc]
    dim = cents.shape[1]
    # fine -> coarse grouping (K·Kc distances, driver-side, tiny)
    accf = np.zeros((K, kc))
    for d in range(dim):
        diff = cents[:, d][:, None] - coarse[None, :, d]
        accf += diff * diff
    fgrp = np.argsort(accf, axis=1, kind="stable")[:, 0]

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
            accc = np.zeros((len(V), kc))
            for d in range(dim):
                diff = V[:, d][:, None] - coarse[None, :, d]
                accc += diff * diff
            near = np.argsort(accc, axis=1, kind="stable")[:, :probe]
            # the fine candidate set depends only on the SET of probed
            # coarse ids — group rows by that combo so the refinement
            # stays batched numpy, not per-row Python
            combo = np.sort(near, axis=1)
            uniq, inv = np.unique(combo, axis=0, return_inverse=True)
            cell = np.empty(len(V), dtype=np.int64)
            for g in range(len(uniq)):
                rows = np.flatnonzero(inv == g)
                members = np.flatnonzero(np.isin(fgrp, uniq[g]))
                Vj = V[rows]
                Cj = cents[members]
                acc = np.zeros((len(rows), len(members)))
                for d in range(dim):
                    diff = Vj[:, d][:, None] - Cj[None, :, d]
                    acc += diff * diff
                nearest = np.argsort(acc, axis=1, kind="stable")[:, 0]
                cell[rows] = members[nearest]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "cell": cell.astype("int32"),
                }
            )

    return base.mapInPandas(assign, schema="vec_id long, v array<double>, cell int")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-5: the third ANN tier after
    brute-force (exact) and hyperplane LSH.

    Coarse quantizer: the K = max(16, ceil(sqrt(N))) corpus vectors
    with the smallest portable md5 hash of their id (cell = rank in
    that ordering) serve directly as centroids — the FAISS-style
    "random data points" initialization WITHOUT Lloyd refinement.
    Dropping Lloyd (vs the previous revision) removes all four full
    corpus training passes — training is now a single top-K selection
    by hash — and makes the quantizer exactly SQL-expressible, so the
    driver hash-checks this operator instead of recording a rows-only
    row. The quality cost is modest and measured: recall vs the exact
    baseline is pinned in tests/test_similarity.py.

    Scale shape: K grows as sqrt(N), so cells hold ~sqrt(N) vectors and
    a query probes nprobe·sqrt(N) of them (nprobe = max(4, K/4) —
    probed fraction shrinks as 1/sqrt(N)). Each vector is indexed in
    its IVF_ASSIGN=2 nearest cells (spill assignment — the standard
    boundary-loss fix; 2× index size, bought back many times over in
    recall on corpora without strong cluster structure). Assignment is one corpus
    pass with the K×64 centroid matrix broadcast into an Arrow-batched
    numpy task (16 MB at N=1e9 — a real deployment chunks K if it
    outgrows the broadcast budget); candidate generation is an
    equi-join on cell id, the bucketed topology that scales to 100 TB
    (cells ≈ partitions, stored clustered so probes become partition
    prunes). N·K distance evaluations per corpus pass is the inherent
    IVF assignment cost (FAISS pays the same, via BLAS).

    Bit-exactness: every distance/score accumulates dimension-
    sequentially (numpy ``acc += (V[:,d]-C[:,d])²`` / JVM fold), the
    identical IEEE op order as the oracle's list_sum folds, so cell
    assignment, probe choice, and cosine ranks match DuckDB exactly;
    ties break to the lower cell id / vec_id in both engines."""
    # STANDING REVISIT TRIGGER (VERDICT r11 #5): this op keeps the FLAT
    # Theta(N*K) = Theta(N*sqrt(N)) assignment deliberately — K = sqrt(N)
    # keeps it sub-quadratic, it is embarrassingly parallel, and four
    # driver-certified consumers' recall floors depend on its exact
    # cell geometry.  IF any ann_* op becomes the measured QUIET tail
    # at >= 3 s, switch this call to share dedup_semantic_cluster's
    # `_assign_cells_two_level` (O(N*sqrt(K))) and re-pin the recall
    # floors.  Mirrored as a ROADMAP standing item so the decision
    # survives context loss.
    base, cents, k = _hash_seed_cells(spark, sf_dir)
    nprobe = _ivf_nprobe(k)
    dim = cents.shape[1]
    assigned = _assign_cells(base, cents, IVF_ASSIGN)
    # query -> its nprobe nearest cells (driver-side: Q×K tiny)
    q_rows = base.filter(F.col("vec_id") < N_QUERIES).collect()
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r["v"], dtype=np.float64)
        d2 = np.zeros(len(cents))
        for d in range(dim):
            diff = qv[d] - cents[:, d]
            d2 += diff * diff
        for cell in np.argsort(d2, kind="stable")[:nprobe]:
            probe_rows.append((r["vec_id"], int(cell), r["v"]))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell int, qv array<double>"
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    nrm = _norm(F.col("v"))
    qnrm = _norm(F.col("qv"))
    cands = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        # spill assignment can surface the same (query, neighbor) via
        # both of the neighbor's cells — dedup before ranking
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("cos_sim", dot / (nrm * qnrm))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_sim", 6).alias("cos_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


_D2_FOLD = (
    f"list_sum(list_transform(generate_series(1, {_DIM}),"
    " i -> (({q})[i] - ({c})[i]) * (({q})[i] - ({c})[i])))"
)


def _d2(q: str, c: str) -> str:
    return _D2_FOLD.replace("{q}", q).replace("{c}", c)


_ANN_IVF_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
params AS (
    SELECT GREATEST({IVF_MIN_K}, CAST(CEIL(SQRT(n)) AS INTEGER)) AS k,
           GREATEST({IVF_NPROBE_FLOOR},
                    GREATEST({IVF_MIN_K}, CAST(CEIL(SQRT(n)) AS INTEGER)) // 4
           ) AS nprobe
    FROM (SELECT COUNT(*) AS n FROM nv)
),
seeds AS (
    SELECT v AS c,
        ROW_NUMBER() OVER (
            ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id
        ) - 1 AS cell
    FROM nv
    QUALIFY cell < (SELECT k FROM params)
),
base AS (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM nv
),
assign AS (
    SELECT vec_id, v, nrm, cell
    FROM (
        SELECT b.vec_id, b.v, b.nrm, s.cell,
            ROW_NUMBER() OVER (
                PARTITION BY b.vec_id
                ORDER BY {_d2("b.v", "s.c")}, s.cell
            ) AS rn
        FROM base b, seeds s
    )
    WHERE rn <= {IVF_ASSIGN}
),
qprobe AS (
    SELECT query_id, qv, qnrm, cell
    FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, s.cell,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_d2("q.v", "s.c")}, s.cell
            ) AS pr
        FROM base q, seeds s
        WHERE q.vec_id < {N_QUERIES}
    )
    WHERE pr <= (SELECT nprobe FROM params)
),
cands AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
        list_sum(list_transform(generate_series(1, {_DIM}),
                                i -> a.v[i] * p.qv[i]))
            / (a.nrm * p.qnrm) AS cos_raw
    FROM assign a
    JOIN qprobe p ON a.cell = p.cell AND a.vec_id <> p.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_raw DESC, neighbor_id) AS rank
    FROM cands
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def embedding_kmeans_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering profile: assign every embedding to its nearest
    hash-seeded centroid (the same single-pass quantizer as
    ``ann_ivf_topk``, 1-way assignment) and roll each cluster up to
    (size, id range, mean vector norm) — the "what does my embedding
    space look like" diagnostic that decides dedup thresholds and IVF
    sizing before a big run. K grows as ceil(sqrt(N)), so the output
    is ~sqrt(N) rows at any corpus size.

    Numeric policy: mean norm sums FLOOR(nrm·1e6) as BIGINT — exact,
    order-insensitive under any partial-aggregation schedule, and
    immune to the cast-rounding divergence (Spark truncates double→
    decimal ties differently than DuckDB rounds); the explicit FLOOR
    is identical in both engines on the bit-identical fold outputs.
    Headroom: 1e8 micro-units/row → exact to ~9e10 rows per cluster.
    """
    base, cents, _k = _hash_seed_cells(spark, sf_dir)
    assigned = _assign_cells(base, cents, 1)
    qn = F.floor(_norm(F.col("v")) * F.lit(1000000.0))
    return (
        assigned.withColumn("qn", qn)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
            F.sum("qn").alias("sum_qn"),
        )
        .select(
            "cell",
            "n_vecs",
            "min_vec",
            "max_vec",
            F.round(
                F.col("sum_qn").cast("double") / (F.lit(1000000.0) * F.col("n_vecs")),
                6,
            ).alias("avg_nrm"),
        )
        .orderBy("cell")
    )


_KMEANS_ROLLUP_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
params AS (
    SELECT GREATEST({IVF_MIN_K}, CAST(CEIL(SQRT(n)) AS INTEGER)) AS k
    FROM (SELECT COUNT(*) AS n FROM nv)
),
seeds AS (
    SELECT v AS c,
        ROW_NUMBER() OVER (
            ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id
        ) - 1 AS cell
    FROM nv
    QUALIFY cell < (SELECT k FROM params)
),
assign AS (
    SELECT vec_id, v, cell
    FROM (
        SELECT b.vec_id, b.v, s.cell,
            ROW_NUMBER() OVER (
                PARTITION BY b.vec_id
                ORDER BY {_d2("b.v", "s.c")}, s.cell
            ) AS rn
        FROM nv b, seeds s
    )
    WHERE rn = 1
)
SELECT CAST(cell AS INTEGER) AS cell,
    COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec,
    ROUND(CAST(SUM(CAST(FLOOR(
            sqrt(list_sum(list_transform(v, x -> x * x))) * 1000000.0
        ) AS BIGINT)) AS DOUBLE) / (1000000.0 * COUNT(*)), 6) AS avg_nrm
FROM assign
GROUP BY cell
ORDER BY cell
"""


# ---------------------------------------------------------------------------
# embedding_dim_stats — per-dimension normalization statistics
# ---------------------------------------------------------------------------


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance/extremes profile of the embedding
    corpus — the statistics table every feature-normalization /
    whitening / quantizer-calibration step consumes (and the first
    thing you inspect when an ANN index misbehaves: dead dimensions,
    scale outliers). Floats are quantized to integer micro-units
    FIRST (both engines perform the identical float→int floor), so
    mean/variance come from exact integer power sums — no float
    summation order anywhere; DECIMAL(38,0) sums absorb any corpus
    size. One posexplode pass, one aggregate at dimension grain
    (64 rows out regardless of corpus size).
    """
    e = fan_out(load(spark, sf_dir, "embeddings"), spark, "vec_id")
    dim = e.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long").alias("xq"),
    )
    m = dim.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xq").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,0)")).alias("sxx"),
        F.min("xq").alias("min_micro"),
        F.max("xq").alias("max_micro"),
    )
    n_d = F.col("n").cast("double")
    var = (
        n_d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (n_d * n_d)
    return m.select(
        "dim",
        "n",
        F.floor(F.col("sx").cast("double") / n_d).cast("long").alias("mean_micro"),
        F.floor(var).cast("long").alias("var_micro2"),
        "min_micro",
        "max_micro",
    ).orderBy("dim")


_DIM_STATS_SQL = """
WITH d AS (
    SELECT dim - 1 AS dim, CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xq
    FROM (SELECT UNNEST(embedding) AS x,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings)
),
m AS (
    SELECT dim, COUNT(*) AS n,
           SUM(CAST(xq AS DECIMAL(38,0))) AS sx,
           SUM(CAST(xq * xq AS DECIMAL(38,0))) AS sxx,
           MIN(xq) AS min_micro, MAX(xq) AS max_micro
    FROM d GROUP BY dim
)
SELECT dim, n,
       CAST(FLOOR(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_micro,
       CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)
           AS var_micro2,
       min_micro, max_micro
FROM m
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# embedding_drift_report — distribution drift between corpus cohorts
# ---------------------------------------------------------------------------


def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift between two cohorts (even vs odd
    vec_ids — in production: last week's embeddings vs this week's,
    or model v1 vs v2): per-dimension mean shift in integer
    micro-units, rolled up to the one-row drift report an ML monitor
    alerts on (L1 drift mass, worst dimension, how many dimensions
    moved beyond a threshold). Same exact integer-quantized moments as
    ``embedding_dim_stats``; cohort means subtract exactly, so the
    report is bit-stable. One pass, dimension-grain aggregate, 1 row.
    """
    e = fan_out(load(spark, sf_dir, "embeddings"), spark, "vec_id")
    d = e.select(
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "cohort",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long").alias("xq"),
    )
    per = d.groupBy("dim").agg(
        F.floor(
            F.sum(F.when(F.col("cohort") == 0, F.col("xq"))).cast("double")
            / F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        ).alias("m0"),
        F.floor(
            F.sum(F.when(F.col("cohort") == 1, F.col("xq"))).cast("double")
            / F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        ).alias("m1"),
    )
    shift = F.abs(F.col("m0") - F.col("m1"))
    return per.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(shift).cast("long").alias("l1_drift_micro"),
        F.max(shift).cast("long").alias("max_dim_shift_micro"),
        F.sum((shift > 10000).cast("long")).alias("n_dims_shifted_1pct"),
    )


_DRIFT_SQL = """
WITH d AS (
    SELECT vec_id % 2 AS cohort,
           generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq
    FROM embeddings
),
per AS (
    SELECT dim,
           FLOOR(CAST(SUM(CASE WHEN cohort = 0 THEN xq END) AS DOUBLE)
                 / SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)) AS m0,
           FLOOR(CAST(SUM(CASE WHEN cohort = 1 THEN xq END) AS DOUBLE)
                 / SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)) AS m1
    FROM d GROUP BY dim
)
SELECT COUNT(*) AS n_dims,
       CAST(SUM(ABS(m0 - m1)) AS BIGINT) AS l1_drift_micro,
       CAST(MAX(ABS(m0 - m1)) AS BIGINT) AS max_dim_shift_micro,
       CAST(SUM(CASE WHEN ABS(m0 - m1) > 10000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dims_shifted_1pct
FROM per
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the IVF index against the exact brute-force
    ground truth, per query — the acceptance gate an ANN index must
    pass before it replaces exact search in a retrieval pipeline (the
    similarity-search twin of ``dedup_lsh_recall_eval``). A recall
    regression here means the K/nprobe ladder needs retuning BEFORE a
    100 TB index build, not after.

    Scale: both sides are the existing bounded pipelines (brute force
    over the broadcast query set; IVF's cell equi-join); the eval
    itself is one equi-join on (query, neighbor) + a per-query reduce.
    """
    bf = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    iv = ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(iv, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_recalled"),
        )
        .select(
            "query_id",
            "k",
            "n_recalled",
            F.round(F.col("n_recalled") / F.col("k"), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


_ANN_RECALL_SQL = f"""
WITH bf AS (
    SELECT query_id, neighbor_id FROM ({_ANN_BRUTE_SQL}) t
),
iv AS (
    SELECT query_id, neighbor_id FROM ({_ANN_IVF_SQL}) t
)
SELECT bf.query_id,
    COUNT(*) AS k,
    CAST(SUM(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_recalled,
    ROUND(CAST(SUM(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*), 6) AS recall
FROM bf LEFT JOIN iv USING (query_id, neighbor_id)
GROUP BY bf.query_id
ORDER BY bf.query_id
"""


SEM_COS_THRESHOLD = 0.45  # semantic-duplicate cosine gate
# Cell-population cap (r10, VERDICT r9 #5; r12 rebased onto DISTINCT
# mass, VERDICT r11 #4): above D = SEM_MAX_CELL² distinct vectors the
# sqrt rule's E[cell] = √D exceeds SEM_MAX_CELL and pair work
# Θ(Σ cell²) = Θ(D·√D) turns super-linear, so K switches to
# ceil(D / SEM_MAX_CELL) — cells stay ~SEM_MAX_CELL and pair work stays
# Θ(D·SEM_MAX_CELL), linear.  D (not N) is the right mass: exact-
# duplicate vectors assign identically, so no K can split a dup group
# and raw-N caps leave dup-dense corpora at Σ(g·cell_distinct)² —
# r11's measured 12× wall at the 100-way-dup fixture.  r12 collapses
# dup groups to one representative BEFORE the quantizer (hash groupBy,
# map-side combine), so the quadratic stage never sees duplicate mass
# at all and the cap is sized by the only mass that can pair.
SEM_MAX_CELL = 1000


def _distinct_vectors(nv: DataFrame) -> DataFrame:
    """One min-id representative per exact-duplicate vector group."""
    return nv.groupBy("v").agg(F.min("vec_id").alias("vec_id"))


@shared_stage("embeddings")
def _sem_centroids(
    spark: SparkSession, sf_dir: str, cap: int, dist: DataFrame | None = None
):
    """(centroids, k, D) of SemDeDup's quantizer at cell cap ``cap``.
    Unlike ``_ivf_centroids`` the seeds are hash-selected from the
    DISTINCT-vector table, not the raw corpus (identical on dup-free
    data, different — and correct — under duplication); D rides along
    so the dup-free plan choice needs no extra job after the first
    call."""
    if dist is None:
        dist = _distinct_vectors(_vectors(spark, sf_dir))
    d_n = dist.count()
    k = max(_ivf_k(d_n), -(-d_n // cap))
    return _hash_seed_draw(dist, k), k, d_n


def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023):
    cluster the embedding space with the hash-seeded coarse quantizer,
    then compare vectors only WITHIN their cell and
    drop any vector whose cosine to a lower-id cell-mate reaches
    {SEM_COS_THRESHOLD} — semantic copies that exact/fuzzy TEXT dedup
    cannot see (translations, paraphrases, re-renders). Output: one
    row per dropped vector with its kept representative (the smallest
    matching id) and the cosine to it.

    Scale (r12, VERDICT r11 #4): ALL quadratic work runs over the
    D DISTINCT vectors, never the N raw rows.  Exact-duplicate groups
    collapse to their min-id representative first (hash groupBy on the
    vector — map-side combine, so dup-dense corpora shrink IN the scan
    stage); the quantizer, with K = max(16, ceil(√D), ceil(D /
    {SEM_MAX_CELL})), seeds and assigns only representatives (two-level
    ``_assign_cells_two_level``, O(D·√K) distance evaluations, VERDICT
    r10 #2), the cell equi-join pairs only representatives (Θ(Σ cell²)
    over distinct mass — LINEAR once the cap binds), and membership is
    restored by one linear equi-join at the end.  This is semantics-
    preserving, not an approximation: identical vectors always land in
    the same cell, every member of a dup group matches its
    representative at cosine exactly 1.0 ≥ {SEM_COS_THRESHOLD}, and the
    min-id candidate for EVERY member of a group is the same M =
    min(group rep, matching reps) because group/cell minima coincide
    with representatives — so each member b simply drops iff b > M,
    with cosine 1.0 when M is its own representative and the rep-level
    cosine otherwise.  r11's honest boundary ("cells cannot shrink
    below an exact-duplicate group") is thereby deleted rather than
    capped around: the 100-way-dup fixture that read 12× wall under
    raw-N sizing never reaches the pair join at all.  Candidate
    generation stays an equi-join on the cell id (no cartesian); spill
    assignment (as in ``ann_ivf_topk``) remains the recall knob for
    boundary pairs, kept at 1 to match the published algorithm.
    """
    nv = _vectors(spark, sf_dir)
    dist = _distinct_vectors(nv)
    cents, _k, d_n = _sem_centroids(spark, sf_dir, SEM_MAX_CELL, dist=dist)
    # skew-adaptive plan choice (the AQE pattern, decided from the
    # shared distinct count): with zero duplication the collapse is
    # the IDENTITY, so the groupBy shuffle and the member re-join are
    # pure overhead — run the pair stage over nv directly and emit
    # drops straight from the pairs (bit-identical: every group is a
    # singleton, so rep-level minima ARE row-level minima).
    dup_free = d_n == count_table(spark, sf_dir, "embeddings")
    reps = nv if dup_free else dist.select("vec_id", "v")
    assigned = _assign_cells_two_level(reps, cents)
    nr = assigned.select(
        "vec_id", "cell", "v", _norm(F.col("v")).alias("nrm")
    ).filter(F.col("nrm") > 0)
    a = nr.alias("a")
    b = nr.alias("b")
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x * y), F.lit(0.0), lambda ac, x: ac + x
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    rp = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("ra"),
            F.col("b.vec_id").alias("rb"),
            cos.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= SEM_COS_THRESHOLD)
    )
    if dup_free:
        return (
            rp.groupBy(F.col("rb").alias("vec_id"))
            .agg(
                F.min("ra").alias("kept_id"),
                F.min_by("cos_raw", F.col("ra")).alias("cos_raw"),
            )
            .select("vec_id", "kept_id", F.round("cos_raw", 6).alias("cos_sim"))
            .orderBy("vec_id")
        )
    # matches are needed from BOTH sides: a group pair (ra < rb) also
    # makes ra's members with ids above rb droppable against rb
    bidir = rp.union(
        rp.select(
            F.col("rb").alias("ra"), F.col("ra").alias("rb"), "cos_raw"
        )
    )
    ext = bidir.groupBy("rb").agg(
        F.min("ra").alias("ext_min"),
        F.min_by("cos_raw", F.col("ra")).alias("ext_cos"),
    )
    # per-group minimum candidate M and its cosine (1.0 = own rep)
    grp = (
        nr.select(F.col("vec_id").alias("rep"), F.col("v").alias("gv"))
        .join(ext, F.col("rep") == F.col("rb"), "left")
        .select(
            "gv",
            F.when(F.col("ext_min") < F.col("rep"), F.col("ext_min"))
            .otherwise(F.col("rep"))
            .alias("m"),
            F.when(F.col("ext_min") < F.col("rep"), F.col("ext_cos"))
            .otherwise(F.lit(1.0))
            .alias("mcos"),
        )
    )
    return (
        nv.join(grp, nv["v"] == grp["gv"])
        .filter(F.col("vec_id") > F.col("m"))
        .select(
            "vec_id",
            F.col("m").alias("kept_id"),
            F.round("mcos", 6).alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


_SEM_DEDUP_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
-- distinct-vector collapse (r12): quadratic work sees only the D
-- distinct vectors; members rejoin linearly at the end
dist AS (
    SELECT MIN(vec_id) AS vec_id, v FROM nv GROUP BY v
),
params AS (
    SELECT GREATEST({IVF_MIN_K},
                    CAST(CEIL(SQRT(d)) AS INTEGER),
                    CAST(CEIL(d / {SEM_MAX_CELL}.0) AS INTEGER)) AS k
    FROM (SELECT COUNT(*) AS d FROM dist)
),
seeds AS (
    SELECT v AS c,
        ROW_NUMBER() OVER (
            ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id
        ) - 1 AS cell
    FROM dist
    QUALIFY cell < (SELECT k FROM params)
),
-- two-level quantizer (mirrors _assign_cells_two_level): the first
-- ceil(sqrt(k)) seeds double as coarse centroids
coarse AS (
    SELECT c, cell AS ccell FROM seeds
    WHERE cell < (SELECT CAST(CEIL(SQRT(k)) AS INTEGER) FROM params)
),
fgrp AS (
    SELECT cell, ccell
    FROM (
        SELECT s.cell, co.ccell,
            ROW_NUMBER() OVER (
                PARTITION BY s.cell
                ORDER BY {_d2("s.c", "co.c")}, co.ccell
            ) AS rn
        FROM seeds s, coarse co
    )
    WHERE rn = 1
),
base AS (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM dist
),
vcoarse AS (
    SELECT vec_id, v, nrm, ccell
    FROM (
        SELECT b.vec_id, b.v, b.nrm, co.ccell,
            ROW_NUMBER() OVER (
                PARTITION BY b.vec_id
                ORDER BY {_d2("b.v", "co.c")}, co.ccell
            ) AS rn
        FROM base b, coarse co
    )
    WHERE rn <= {SEM_COARSE_PROBE} AND nrm > 0
),
assign AS (
    SELECT vec_id, v, nrm, cell
    FROM (
        SELECT vc.vec_id, vc.v, vc.nrm, s.cell,
            ROW_NUMBER() OVER (
                PARTITION BY vc.vec_id
                ORDER BY {_d2("vc.v", "s.c")}, s.cell
            ) AS rn
        FROM vcoarse vc
        JOIN fgrp g ON g.ccell = vc.ccell
        JOIN seeds s ON s.cell = g.cell
    )
    WHERE rn <= 1
),
rp AS (
    SELECT a.vec_id AS ra, b.vec_id AS rb,
        list_sum(list_transform(generate_series(1, {_DIM}),
                                i -> a.v[i] * b.v[i]))
            / (a.nrm * b.nrm) AS cos_raw
    FROM assign a
    JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
matched AS (
    SELECT * FROM rp WHERE cos_raw >= {SEM_COS_THRESHOLD}
),
-- both directions: a pair (ra < rb) also drops ra's members above rb
bidir AS (
    SELECT ra, rb, cos_raw FROM matched
    UNION ALL
    SELECT rb AS ra, ra AS rb, cos_raw FROM matched
),
ext AS (
    SELECT rb, MIN(ra) AS ext_min, MIN_BY(cos_raw, ra) AS ext_cos
    FROM bidir GROUP BY rb
),
-- per-group minimum candidate M and its cosine (1.0 = own rep)
grp AS (
    SELECT s.v AS gv,
        CASE WHEN e.ext_min < s.vec_id THEN e.ext_min ELSE s.vec_id END AS m,
        CASE WHEN e.ext_min < s.vec_id THEN e.ext_cos ELSE 1.0 END AS mcos
    FROM (SELECT vec_id, v FROM base WHERE nrm > 0) s
    LEFT JOIN ext e ON e.rb = s.vec_id
)
SELECT mem.vec_id,
    g.m AS kept_id,
    ROUND(g.mcos, 6) AS cos_sim
FROM nv mem
JOIN grp g ON mem.v = g.gv
WHERE mem.vec_id > g.m
ORDER BY vec_id
"""


MRL_DIM = 16  # truncated prefix length evaluated against the full 64


def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation (Kusupati et al., MRL): how
    often does the top-1 neighbor under the FIRST {MRL_DIM} dimensions
    agree with the full-{_DIM}-dim top-1? Truncated prefixes are the
    standard cheap first-pass tier of a two-stage retrieval cascade
    (search at {MRL_DIM}, rerank survivors at {_DIM}); this operator
    measures what that cascade's first stage loses, per query.

    Scale: both passes are the bounded brute-force tier (broadcast
    query set, corpus-linear scoring); at index scale the truncated
    pass IS the cheap tier so the eval costs less than one full
    retrieval. Dimension-sequential fold == the oracle's list_sum, so
    ranks match bit-for-bit.
    """
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    base = em.select("vec_id", _dvec().alias("v"))
    base = base.select(
        "vec_id",
        "v",
        F.slice("v", 1, MRL_DIM).alias("vt"),
        _norm(F.col("v")).alias("nrm"),
        _norm(F.slice("v", 1, MRL_DIM)).alias("nrmt"),
    )
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vt").alias("qvt"),
        F.col("nrm").alias("qnrm"),
        F.col("nrmt").alias("qnrmt"),
    )
    dot_full = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    dot_tr = F.aggregate(
        F.zip_with("vt", "qvt", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = base.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        (dot_full / (F.col("nrm") * F.col("qnrm"))).alias("cos_full"),
        (dot_tr / (F.col("nrmt") * F.col("qnrmt"))).alias("cos_trunc"),
    )
    top = scored.groupBy("query_id").agg(
        F.max_by(
            F.struct("vec_id", "cos_full"),
            F.struct(F.col("cos_full"), -F.col("vec_id")),
        ).alias("bf"),
        F.max_by(
            F.struct(F.col("vec_id").alias("tid"), "cos_trunc"),
            F.struct(F.col("cos_trunc"), -F.col("vec_id")),
        ).alias("bt"),
    )
    return top.select(
        "query_id",
        F.col("bf.vec_id").alias("top1_full_id"),
        F.col("bt.tid").alias("top1_trunc_id"),
        (F.col("bf.vec_id") == F.col("bt.tid")).alias("agree"),
        F.round("bf.cos_full", 6).alias("cos_full"),
        F.round("bt.cos_trunc", 6).alias("cos_trunc"),
    ).orderBy("query_id")


_MRL_COS = (
    "list_sum(list_transform(generate_series(1, {n}), i -> b.{v}[i] * q.{v}[i]))"
    " / (b.{nr} * q.{nr})"
)

_MRL_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
base AS (
    SELECT vec_id, v, v[1:{MRL_DIM}] AS vt,
        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
        sqrt(list_sum(list_transform(v[1:{MRL_DIM}], x -> x * x))) AS nrmt
    FROM nv
),
scored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
        {_MRL_COS.format(n=_DIM, v="v", nr="nrm")} AS cos_full,
        {_MRL_COS.format(n=MRL_DIM, v="vt", nr="nrmt")} AS cos_trunc
    FROM base b
    JOIN base q ON q.vec_id < {N_QUERIES} AND b.vec_id <> q.vec_id
),
ranked AS (
    SELECT query_id, vec_id, cos_full, cos_trunc,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_full DESC, vec_id) AS rf,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_trunc DESC, vec_id) AS rt
    FROM scored
)
SELECT f.query_id,
    f.vec_id AS top1_full_id,
    t.vec_id AS top1_trunc_id,
    f.vec_id = t.vec_id AS agree,
    ROUND(f.cos_full, 6) AS cos_full,
    ROUND(t.cos_trunc, 6) AS cos_trunc
FROM ranked f
JOIN ranked t ON f.query_id = t.query_id AND t.rt = 1
WHERE f.rf = 1
ORDER BY f.query_id
"""


KCENTER_K = 8  # coreset size: the greedy 2-approximation's center count


def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center GREEDY coreset selection (Gonzalez's farthest-point
    2-approximation) over the embedding corpus — the data-pruning
    stage that picks {KCENTER_K} maximally-spread exemplars (diverse
    few-shot pools, eval-set seeding, cluster initialization that
    beats random). Seed = the lowest vec_id; each round adds the
    vector FARTHEST (max min-squared-distance, tie → lowest id) from
    the chosen set, and the selection value is the classic
    non-increasing radius sequence r_t.

    Scale: each of the {KCENTER_K}−1 rounds is ONE corpus pass over
    the persisted working set.  The min-distance is maintained
    INCREMENTALLY (r12): round t computes one dimension-sequential
    JVM fold against the single NEW center and folds it into the
    persisted running minimum with least() — min is associative, so
    least(md_{t−1}, d_t) is bit-identical to the old per-round
    least(d_1..d_t) recompute while doing O(1) instead of O(t) folds
    per row (O(K) total fold work instead of O(K²)).  The LOGICAL
    plan still chains one select per round (analysis cost grows
    linearly with t; ADVICE r12) — only the per-row fold work and the
    physical execution, truncated by the persist, are constant — and
    an evicted partition recomputes through the whole chain, an
    accepted local-mode trade for K={KCENTER_K}.  Only the
    1-row argmax returns to the driver per round.  Driver state is
    {KCENTER_K}×{_DIM} doubles. The oracle unrolls the identical
    greedy rounds as chained CTEs.
    """
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    # persist the projected corpus: all K-1 greedy rounds scan the SAME
    # (vec_id, v) projection — materialize it once instead of re-reading
    # and re-transforming parquet per round (at 100 TB this is the
    # standard persist-the-working-set step before an iterative sweep)
    base = em.select("vec_id", _dvec().alias("v")).persist()
    seed = base.orderBy("vec_id").limit(1).collect()[0]
    centers = [(int(seed["vec_id"]), [float(x) for x in seed["v"]])]
    radii: list[float | None] = [None]
    cur: DataFrame | None = None
    for _t in range(1, KCENTER_K):
        _cid, cv = centers[-1]
        newd = F.aggregate(
            F.zip_with(
                "v",
                F.lit([float(x) for x in cv]),  # Literal, not CreateArray
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        nxt = (
            base.select("vec_id", "v", newd.alias("md"))
            if cur is None
            else cur.select(
                "vec_id", "v", F.least(F.col("md"), newd).alias("md")
            )
        ).persist()
        far = (
            nxt.orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        if cur is not None:
            cur.unpersist()
        cur = nxt
        centers.append((int(far["vec_id"]), [float(x) for x in far["v"]]))
        radii.append(float(far["md"]))
    if cur is not None:
        cur.unpersist()
    base.unpersist()
    rows = [
        (t, cid, round(r, 6) if r is not None else None)
        for t, ((cid, _v), r) in enumerate(zip(centers, radii))
    ]
    return spark.createDataFrame(
        rows, "round int, center_id long, radius2 double"
    ).orderBy("round")


def _kcenter_sql() -> str:
    # single-row center CTEs cross-joined (DuckDB binds these cleanly
    # where correlated scalar subqueries against an outer CTE do not)
    ctes = [
        "nv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "c0 AS (SELECT vec_id, v FROM nv ORDER BY vec_id LIMIT 1)",
    ]
    for t in range(1, KCENTER_K):
        terms = ", ".join(_d2("nv.v", f"c{j}.v") for j in range(t))
        md = f"LEAST({terms})" if t > 1 else terms
        srcs = ", ".join(["nv"] + [f"c{j}" for j in range(t)])
        ctes.append(
            f"c{t} AS (SELECT nv.vec_id AS vec_id, nv.v AS v, {md} AS md "
            f"FROM {srcs} ORDER BY md DESC, nv.vec_id LIMIT 1)"
        )
    selects = ["SELECT 0 AS round, vec_id AS center_id, CAST(NULL AS DOUBLE) AS radius2 FROM c0"]
    for t in range(1, KCENTER_K):
        selects.append(
            f"SELECT {t} AS round, vec_id AS center_id, ROUND(md, 6) AS radius2 FROM c{t}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects) + "\nORDER BY round"
    )


# ---------------------------------------------------------------- PQ path

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (PQ_M * PQ_SUB == the 64-dim embedding)
PQ_KS = 16  # codes per subspace -> 4 bits/subspace, 4 bytes/vector
PQ_SHORTLIST = 50  # ADC shortlist size fed to the exact re-rank stage


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the memory-compression tier of the ANN family (brute-force = exact,
    LSH/IVF = candidate pruning, PQ = 16× vector compression: 64
    float32 dims → 8 four-bit codes).

    Codebooks: the {PQ_KS} corpus vectors with the smallest portable
    md5 hash of their id (the same hash-sampled "data points as
    centroids" initialization as ann_ivf_topk — exactly
    SQL-expressible, no Lloyd corpus passes); subspace m's codebook is
    their dims [m·{PQ_SUB}, (m+1)·{PQ_SUB}).  Encoding is ONE
    Arrow-batched corpus pass (numpy, dimension-sequential
    accumulation == the oracle's SQL fold; ties to the lower code).

    ADC: per query, an {PQ_M}×{PQ_KS} lookup table of exact
    query-to-centroid subspace distances is built driver-side (Q·M·K
    doubles — tiny) and broadcast; each corpus vector's approximate
    distance is then Σ_m lut[m][code_m], a pure JVM fold over the
    8-byte code — the compressed scan never touches the original
    vectors.  Stage two is the standard production cascade: the ADC
    top-{PQ_SHORTLIST} shortlist (per query) joins back to the raw
    vectors — a broadcast of Q·{PQ_SHORTLIST} keys into one corpus
    probe, NOT a second full scan at 100 TB — and exact distances
    re-rank the final top-{TOP_K}.  Measured at sf0.01 the cascade
    recovers recall@5 ≈ 0.5 where raw ADC ranking alone gives ~0.1
    (tests/test_r5_ops.py pins the floor; these near-uniform synthetic
    embeddings are PQ's worst case — no cluster structure for 16
    sampled centroids to exploit, so the shortlist does the work): a
    4-byte-per-vector screen that scans 16× less data, then exact math
    on a bounded shortlist.

    Bit-exactness: subspace distances accumulate dimension-
    sequentially in numpy; the ADC sum folds subspaces in order via
    F.aggregate; the exact re-rank folds zip_with products in dim
    order — all identical to the oracle's nested list_sum folds, so
    codes, distances, and ranks match DuckDB exactly."""
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    base = em.select("vec_id", _dvec().alias("v"))
    seed_rows = (
        base.withColumn("hk", hash32(F.col("vec_id").cast("string")))
        .orderBy("hk", "vec_id")
        .limit(PQ_KS)
        .collect()
    )
    cents = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in seed_rows])

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
            codes = np.zeros((len(V), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                acc = np.zeros((len(V), PQ_KS))
                for d in range(m * PQ_SUB, (m + 1) * PQ_SUB):
                    diff = V[:, d][:, None] - cents[None, :, d]
                    acc += diff * diff
                codes[:, m] = np.argmin(acc, axis=1)  # first-min -> lowest code
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": [list(c) for c in codes.tolist()]}
            )

    enc = base.mapInPandas(encode, schema="vec_id long, codes array<int>")

    q_rows = base.filter(F.col("vec_id") < N_QUERIES).collect()
    lut_rows = []
    for r in q_rows:
        qv = np.asarray(r["v"], dtype=np.float64)
        lut = np.zeros((PQ_M, PQ_KS))
        for m in range(PQ_M):
            for d in range(m * PQ_SUB, (m + 1) * PQ_SUB):
                diff = qv[d] - cents[:, d]
                lut[m] += diff * diff
        lut_rows.append(
            (
                int(r["vec_id"]),
                [float(x) for x in r["v"]],
                [[float(x) for x in row] for row in lut.tolist()],
            )
        )
    probes = spark.createDataFrame(
        lut_rows, "query_id long, qv array<double>, lut array<array<double>>"
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            F.element_at(F.col("lut"), m + 1),
            F.element_at(F.col("codes"), m + 1) + 1,
        ),
    )
    scored = enc.join(
        F.broadcast(probes.drop("qv")), F.col("vec_id") != F.col("query_id")
    ).withColumn("adc_d2", adc)
    wa = W.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id"))
    shortlist = (
        scored.withColumn("srank", F.row_number().over(wa))
        .filter(F.col("srank") <= PQ_SHORTLIST)
        .select("query_id", "vec_id", "adc_d2")
    )
    exact_d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    reranked = (
        base.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(probes.select("query_id", "qv")), "query_id")
        .withColumn("d2", exact_d2)
    )
    w = W.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("adc_d2", 6).alias("adc_d2"),
            F.round("d2", 6).alias("d2"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def _sub_d2(v: str, c: str, m: str) -> str:
    """Subspace-m squared distance: sequential fold over the PQ_SUB dims."""
    idx = f"(({m}) - 1) * {PQ_SUB} + d"
    return (
        f"list_sum(list_transform(generate_series(1, {PQ_SUB}), "
        f"d -> (({v})[{idx}] - ({c})[{idx}]) * (({v})[{idx}] - ({c})[{idx}])))"
    )


_ANN_PQ_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
seeds AS (
    SELECT v AS c,
        ROW_NUMBER() OVER (
            ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id
        ) - 1 AS cell
    FROM nv
    QUALIFY cell < {PQ_KS}
),
cbook AS (SELECT list(c ORDER BY cell) AS cl FROM seeds),
enc AS (
    SELECT vec_id, m, code FROM (
        SELECT b.vec_id, t.m, s.cell AS code,
            ROW_NUMBER() OVER (
                PARTITION BY b.vec_id, t.m
                ORDER BY {_sub_d2("b.v", "s.c", "t.m")}, s.cell
            ) AS rn
        FROM nv b, generate_series(1, {PQ_M}) AS t(m), seeds s
    ) WHERE rn = 1
),
codes AS (
    SELECT vec_id, list(code ORDER BY m) AS codes FROM enc GROUP BY vec_id
),
scored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        list_sum(list_transform(generate_series(1, {PQ_M}), m ->
            list_sum(list_transform(generate_series(1, {PQ_SUB}), d ->
                (q.v[(m - 1) * {PQ_SUB} + d]
                 - cb.cl[b.codes[m] + 1][(m - 1) * {PQ_SUB} + d])
                * (q.v[(m - 1) * {PQ_SUB} + d]
                   - cb.cl[b.codes[m] + 1][(m - 1) * {PQ_SUB} + d])
            )))) AS adc_raw
    FROM codes b
    JOIN nv q ON q.vec_id < {N_QUERIES} AND b.vec_id <> q.vec_id
    CROSS JOIN cbook cb
),
shortlist AS (
    SELECT query_id, neighbor_id, adc_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc_raw ASC, neighbor_id) AS srank
    FROM scored
    QUALIFY srank <= {PQ_SHORTLIST}
),
rerank AS (
    SELECT s.query_id, s.neighbor_id, s.adc_raw,
        list_sum(list_transform(generate_series(1, {PQ_M * PQ_SUB}),
            i -> (b.v[i] - q.v[i]) * (b.v[i] - q.v[i]))) AS d2_raw
    FROM shortlist s
    JOIN nv b ON b.vec_id = s.neighbor_id
    JOIN nv q ON q.vec_id = s.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_raw, d2_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY d2_raw ASC, neighbor_id) AS rank
    FROM rerank
)
SELECT query_id, neighbor_id, ROUND(adc_raw, 6) AS adc_d2,
    ROUND(d2_raw, 6) AS d2, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ------------------------------------------------------------ IVF+PQ

IVFPQ_SHORTLIST = 50  # ADC shortlist fed to the exact re-rank


def _assign_and_encode(base: DataFrame, cents, cents_pq, n_assign: int) -> DataFrame:
    """ONE Arrow-batched corpus pass producing both index artifacts:
    the vector's n_assign nearest IVF cells AND its PQ code word.
    Shares the dimension-sequential accumulation discipline of
    _assign_cells/ann_pq_adc so both quantizations stay bit-identical
    to the oracle's SQL folds."""
    dim = cents.shape[1]

    def work(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
            acc = np.zeros((len(V), len(cents)))
            for d in range(dim):
                diff = V[:, d][:, None] - cents[None, :, d]
                acc += diff * diff
            near = np.argsort(acc, axis=1, kind="stable")[:, :n_assign]
            codes = np.zeros((len(V), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sacc = np.zeros((len(V), PQ_KS))
                for d in range(m * PQ_SUB, (m + 1) * PQ_SUB):
                    diff = V[:, d][:, None] - cents_pq[None, :, d]
                    sacc += diff * diff
                codes[:, m] = np.argmin(sacc, axis=1)
            out = []
            for j in range(n_assign):
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "cell": near[:, j].astype("int32"),
                            "codes": [list(c) for c in codes.tolist()],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return base.mapInPandas(work, schema="vec_id long, cell int, codes array<int>")


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the composed FAISS-style index this module's tiers
    build toward: IVF cells prune WHICH vectors to look at (probed
    fraction shrinks as 1/√N), PQ codes make each look cost 8 table
    lookups on a 16×-compressed representation, and the exact re-rank
    repairs quantization error on a bounded shortlist.

    Both quantizers derive from ONE hash-seeded selection: the IVF
    coarse cells are the K = max(16, ⌈√N⌉) corpus vectors with the
    smallest md5(id) (ann_ivf_topk's quantizer), and the PQ codebook
    is exactly the FIRST {PQ_KS} of those same seeds — so the whole
    index trains with a single top-K-by-hash selection and one fused
    Arrow-batched corpus pass emits (cell assignments, code words)
    together.  This is the flat-PQ variant (codes quantize raw
    vectors); production IVFPQ usually encodes the RESIDUAL v −
    centroid(cell), which needs per-cell LUTs (nprobe× more LUT work
    per query) — the plan shape is identical, so the swap is local.

    Query path: nprobe cells chosen driver-side (Q×K distances —
    tiny), candidates = equi-join on cell id, ADC-scored via the
    broadcast per-query LUT, top-{IVFPQ_SHORTLIST} shortlisted, then
    exact distances on the shortlist pick the final top-{TOP_K}.  At
    100 TB: one compressed probe-limited scan + a broadcast-keyed
    exact probe — never a full-precision full scan."""
    base, cents, k = _hash_seed_cells(spark, sf_dir)
    nprobe = _ivf_nprobe(k)
    cents_pq = cents[:PQ_KS]
    dim = cents.shape[1]
    indexed = _assign_and_encode(base, cents, cents_pq, IVF_ASSIGN)

    q_rows = base.filter(F.col("vec_id") < N_QUERIES).collect()
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r["v"], dtype=np.float64)
        d2 = np.zeros(len(cents))
        for d in range(dim):
            diff = qv[d] - cents[:, d]
            d2 += diff * diff
        lut = np.zeros((PQ_M, PQ_KS))
        for m in range(PQ_M):
            for d in range(m * PQ_SUB, (m + 1) * PQ_SUB):
                diff = qv[d] - cents_pq[:, d]
                lut[m] += diff * diff
        lut_py = [[float(x) for x in row] for row in lut.tolist()]
        qv_py = [float(x) for x in r["v"]]
        for cell in np.argsort(d2, kind="stable")[:nprobe]:
            probe_rows.append((int(r["vec_id"]), int(cell), qv_py, lut_py))
    probes = spark.createDataFrame(
        probe_rows,
        "query_id long, cell int, qv array<double>, lut array<array<double>>",
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            F.element_at(F.col("lut"), m + 1),
            F.element_at(F.col("codes"), m + 1) + 1,
        ),
    )
    cands = (
        indexed.join(F.broadcast(probes.drop("qv")), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("adc_d2", adc)
    )
    wa = W.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("vec_id"))
    shortlist = (
        cands.withColumn("srank", F.row_number().over(wa))
        .filter(F.col("srank") <= IVFPQ_SHORTLIST)
        .select("query_id", "vec_id", "adc_d2")
    )
    exact_d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    qvs = spark.createDataFrame(
        [(r[0], r[2]) for r in probe_rows], "query_id long, qv array<double>"
    ).dropDuplicates(["query_id"])
    reranked = (
        base.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qvs), "query_id")
        .withColumn("d2", exact_d2)
    )
    w = W.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("adc_d2", 6).alias("adc_d2"),
            F.round("d2", 6).alias("d2"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


_ANN_IVFPQ_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
params AS (
    SELECT GREATEST({IVF_MIN_K}, CAST(CEIL(SQRT(n)) AS INTEGER)) AS k,
           GREATEST({IVF_NPROBE_FLOOR},
                    GREATEST({IVF_MIN_K}, CAST(CEIL(SQRT(n)) AS INTEGER)) // 4
           ) AS nprobe
    FROM (SELECT COUNT(*) AS n FROM nv)
),
seeds AS (
    SELECT v AS c,
        ROW_NUMBER() OVER (
            ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id
        ) - 1 AS cell
    FROM nv
    QUALIFY cell < (SELECT k FROM params)
),
pqseeds AS (SELECT c, cell AS code FROM seeds WHERE cell < {PQ_KS}),
cbook AS (SELECT list(c ORDER BY code) AS cl FROM pqseeds),
base AS (SELECT vec_id, v FROM nv),
assign AS (
    SELECT vec_id, cell
    FROM (
        SELECT b.vec_id, s.cell,
            ROW_NUMBER() OVER (
                PARTITION BY b.vec_id
                ORDER BY {_d2("b.v", "s.c")}, s.cell
            ) AS rn
        FROM base b, seeds s
    )
    WHERE rn <= {IVF_ASSIGN}
),
enc AS (
    SELECT vec_id, m, code FROM (
        SELECT b.vec_id, t.m, s.code,
            ROW_NUMBER() OVER (
                PARTITION BY b.vec_id, t.m
                ORDER BY {_sub_d2("b.v", "s.c", "t.m")}, s.code
            ) AS rn
        FROM base b, generate_series(1, {PQ_M}) AS t(m), pqseeds s
    ) WHERE rn = 1
),
codes AS (
    SELECT vec_id, list(code ORDER BY m) AS codes FROM enc GROUP BY vec_id
),
qprobe AS (
    SELECT query_id, cell
    FROM (
        SELECT q.vec_id AS query_id, s.cell,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_d2("q.v", "s.c")}, s.cell
            ) AS pr
        FROM base q, seeds s
        WHERE q.vec_id < {N_QUERIES}
    )
    WHERE pr <= (SELECT nprobe FROM params)
),
cands AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
    FROM assign a
    JOIN qprobe p ON a.cell = p.cell AND a.vec_id <> p.query_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
        list_sum(list_transform(generate_series(1, {PQ_M}), m ->
            list_sum(list_transform(generate_series(1, {PQ_SUB}), d ->
                (q.v[(m - 1) * {PQ_SUB} + d]
                 - cb.cl[b.codes[m] + 1][(m - 1) * {PQ_SUB} + d])
                * (q.v[(m - 1) * {PQ_SUB} + d]
                   - cb.cl[b.codes[m] + 1][(m - 1) * {PQ_SUB} + d])
            )))) AS adc_raw
    FROM cands c
    JOIN codes b ON b.vec_id = c.neighbor_id
    JOIN nv q ON q.vec_id = c.query_id
    CROSS JOIN cbook cb
),
shortlist AS (
    SELECT query_id, neighbor_id, adc_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc_raw ASC, neighbor_id) AS srank
    FROM scored
    QUALIFY srank <= {IVFPQ_SHORTLIST}
),
rerank AS (
    SELECT s.query_id, s.neighbor_id, s.adc_raw,
        list_sum(list_transform(generate_series(1, {PQ_M * PQ_SUB}),
            i -> (b.v[i] - q.v[i]) * (b.v[i] - q.v[i]))) AS d2_raw
    FROM shortlist s
    JOIN nv b ON b.vec_id = s.neighbor_id
    JOIN nv q ON q.vec_id = s.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_raw, d2_raw,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY d2_raw ASC, neighbor_id) AS rank
    FROM rerank
)
SELECT query_id, neighbor_id, ROUND(adc_raw, 6) AS adc_d2,
    ROUND(d2_raw, 6) AS d2, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ml_kmeans_lloyd — fixed-round fully-integer Lloyd iteration
# ---------------------------------------------------------------------------

KM_K = 8
KM_ROUNDS = 2


def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, {KM_ROUNDS} rounds, ENTIRELY in integers —
    the proof that even iterative centroid refinement fits the
    exact-oracle discipline: vectors quantize to micro ints once,
    centroid updates are integer-floor means, and distances are
    Σ(xq−c)² in int64 — so there is NO floating point anywhere and
    both engines replay the identical trajectory (``ann_ivf_topk``
    deliberately avoids Lloyd's corpus passes for its index; this op
    exists for the clustering itself, and the fixed budget is the
    standard mini-batch production compromise).

    Per round: one corpus pass assigns each vector to the nearest of
    {KM_K} centroids (argmin by (d2, cluster) over a plan-literal
    centroid array — map-only), one partial-agg computes per-cluster
    dim sums; the 8×64 centroid ints return to the driver (bounded by
    K·dim, the same scalar-collect class as PCA's 64-dim vector) and
    re-embed as literals.  Output per cluster: size, exact integer
    inertia, centroid checksum."""
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    base = em.select(
        "vec_id",
        F.transform(
            _dvec(), lambda x: F.floor(x * 1_000_000).cast("long")
        ).alias("xq"),
    ).localCheckpoint(eager=False)
    seed_rows = (
        base.withColumn("hk", hash32(F.col("vec_id").cast("string")))
        .orderBy("hk", "vec_id")
        .limit(KM_K)
        .collect()
    )
    cents = [list(r["xq"]) for r in seed_rows]

    def assign(cents_lit: list[list[int]]):
        carr = F.lit(cents_lit)  # ONE literal node (the CreateArray trap)
        cand = F.transform(
            F.sequence(F.lit(1), F.lit(KM_K)),
            lambda k: F.struct(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(_DIM)),
                    F.lit(0).cast("long"),
                    lambda acc, d: acc
                    + (
                        F.element_at(F.col("xq"), d)
                        - F.element_at(F.element_at(carr, k), d)
                    )
                    * (
                        F.element_at(F.col("xq"), d)
                        - F.element_at(F.element_at(carr, k), d)
                    ),
                ).alias("d2"),
                k.alias("k"),
            ),
        )
        return base.withColumn("best", F.array_min(cand)).select(
            "vec_id",
            "xq",
            F.col("best.k").alias("k"),
            F.col("best.d2").alias("d2"),
        )

    assigned = assign(cents)
    for _ in range(KM_ROUNDS - 1):
        # centroid update via posexplode + groupBy(k, d) — r13 REVERT
        # of the r12 groupBy(k)+64-element_at-sum shape, the same
        # finding as embedding_geometric_median: the wide multi-sum
        # aggregate evaluates SLOWER than Generate + hash-agg
        # (A/B in commit 8f30727, tools/ab_kmeans_update.py, over a
        # fixed assignment table: 0.62 s vs 0.91 s per update job,
        # probe 0.333), and the (k, d) partial agg already reduces
        # the exchange to K·DIM rows per task at any corpus size.
        sums = (
            assigned.select(
                "k", F.posexplode("xq").alias("d", "x")
            )
            .groupBy("k", "d")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_k: dict[int, list[int]] = {}
        for r in sums:
            # TRUNCATING division: DuckDB's `//` (and Spark's `div`)
            # truncate toward zero; python's `//` floors — they differ
            # on negative dim sums (measured: ~half the centroid dims
            # here are negative)
            sx, nn = r["sx"], r["n"]
            q = sx // nn if sx >= 0 else -((-sx) // nn)
            by_k.setdefault(r["k"], [0] * _DIM)[r["d"]] = q
        # distinct seed vectors guaranteed at the tested SFs; a
        # duplicate seed (possible only in artificially replicated
        # corpora) would collapse its cluster — documented limitation
        cents = [by_k.get(k + 1, cents[k]) for k in range(KM_K)]
        assigned = assign(cents)
    return (
        assigned.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("d2").alias("inertia"),
        )
        .withColumn(
            "centroid_checksum",
            F.element_at(F.lit([sum(c) for c in cents]), F.col("k")).cast(
                "long"
            ),
        )
        .orderBy("k")
    )


def _kmeans_sql() -> str:
    assign = lambda cent_cte, out: f"""
{out} AS MATERIALIZED (
    SELECT vec_id, xq, k, d2 FROM (
        SELECT b.vec_id, b.xq, c.k,
            list_sum(list_transform(generate_series(1, {_DIM}),
                d -> (b.xq[d] - c.c[d]) * (b.xq[d] - c.c[d]))) AS d2,
            ROW_NUMBER() OVER (
                PARTITION BY b.vec_id
                ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                    d -> (b.xq[d] - c.c[d]) * (b.xq[d] - c.c[d]))) ASC,
                    c.k ASC) AS rn
        FROM base b CROSS JOIN {cent_cte} c
    ) WHERE rn = 1
)"""  # noqa: E731
    return f"""
WITH base AS MATERIALIZED (
    SELECT vec_id,
        list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
    FROM embeddings
),
c0 AS MATERIALIZED (
    SELECT ROW_NUMBER() OVER (
            ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id) AS k,
        xq AS c
    FROM base
    QUALIFY k <= {KM_K}
),{assign("c0", "a1")},
c1 AS MATERIALIZED (
    SELECT k, list(m ORDER BY d) AS c FROM (
        SELECT a.k, t.d,
            CAST(SUM(a.xq[t.d]) AS BIGINT) // COUNT(*) AS m
        FROM a1 a, generate_series(1, {_DIM}) AS t(d)
        GROUP BY a.k, t.d
    ) GROUP BY k
),{assign("c1", "a2")}
SELECT CAST(a.k AS INTEGER) AS k, COUNT(*) AS n_vecs,
    CAST(SUM(a.d2) AS BIGINT) AS inertia,
    CAST(cs.s AS BIGINT) AS centroid_checksum
FROM a2 a
JOIN (SELECT k, list_sum(c) AS s FROM c1) cs ON cs.k = a.k
GROUP BY a.k, cs.s
ORDER BY a.k
"""


# ---------------------------------------------------------------------------
# embedding_random_projection_jl — signed JL projection 64 → 16
# ---------------------------------------------------------------------------

JL_OUT = 16  # output dimensionality


def _jl_signs() -> list[int]:
    """±1 projection matrix entries (row-major, JL_OUT × _DIM),
    derived from a tiny LCG so both engines embed the same literals."""
    out, state = [], 20_240_517
    for _ in range(JL_OUT * _DIM):
        state = (state * 1103515245 + 12345) % (1 << 31)
        out.append(1 if state % 2 == 0 else -1)
    return out


def embedding_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction by a fixed ±1
    sign matrix (Achlioptas' database-friendly projection): 64 dims →
    {JL_OUT}, the cheap front-end for ANN prefilters and sketch
    storage.  For a ±1 matrix R, E‖Rx‖² = {JL_OUT}·‖x‖², so the
    per-vector ratio ‖y‖²/({JL_OUT}‖x‖²) concentrates near 1 — the
    distortion diagnostic emitted alongside each projection
    (``embedding_matryoshka_eval`` measures truncation loss; this is
    its projection-based sibling with a GUARANTEE).

    Exactness: inputs quantize to integer micro-units first, the
    projection is an integer dot with a plan-literal sign matrix, and
    norms/ratios are exact int64 — no float anywhere after the
    quantizer.  Scale: map-only (the sign matrix is a literal, no
    join, no shuffle); output one row per vector."""
    signs = _jl_signs()
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    # F.lit(list) is ONE Literal node; F.array(*lits) is a 1024-child
    # CreateArray an interpreted lambda would rebuild per element (the
    # recorded bloom-filter gotcha: 5.7s -> 1.7s when fixed there)
    base = em.select(
        "vec_id",
        F.transform(
            _dvec(), lambda x: F.floor(x * 1_000_000).cast("long")
        ).alias("xq"),
    )
    sarr = F.lit(signs)
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(JL_OUT - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(1), F.lit(_DIM)),
            F.lit(0).cast("long"),
            lambda acc, d: acc
            + F.element_at(F.col("xq"), d)
            * F.element_at(sarr, j * _DIM + d),
        ),
    )
    staged = base.withColumn("y", proj)
    norm2 = lambda col: F.aggregate(  # noqa: E731
        F.col(col), F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    return staged.select(
        "vec_id",
        norm2("xq").alias("x_norm2"),
        norm2("y").alias("y_norm2"),
        F.aggregate(
            F.col("y"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("y_checksum"),
    ).withColumn(
        # milli ratio via a pre-scaled denominator: the naive
        # (1000*y_norm2) numerator can exceed int64 (y_norm2 ~ 1.6e13
        # on unit-norm vectors already puts 1e6·y over 2^63)
        "ratio_milli",
        F.expr(f"y_norm2 div ({JL_OUT} * (x_norm2 div 1000))"),
    ).orderBy("vec_id")


def _jl_sql() -> str:
    signs = _jl_signs()
    sarr = "[" + ", ".join(str(s) for s in signs) + "]"
    return f"""
WITH sg AS MATERIALIZED (
    SELECT {sarr} AS sg
),
base AS (
    SELECT vec_id,
        list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
    FROM embeddings
),
proj AS (
    SELECT vec_id, xq,
        list_transform(generate_series(0, {JL_OUT - 1}), j ->
            list_sum(list_transform(generate_series(1, {_DIM}), d ->
                xq[d] * sg.sg[j * {_DIM} + d]))) AS y
    FROM base CROSS JOIN sg
)
SELECT vec_id,
    CAST(list_sum(list_transform(xq, v -> v * v)) AS BIGINT) AS x_norm2,
    CAST(list_sum(list_transform(y, v -> v * v)) AS BIGINT) AS y_norm2,
    CAST(list_sum(y) AS BIGINT) AS y_checksum,
    CAST(list_sum(list_transform(y, v -> v * v)) AS BIGINT)
        // ({JL_OUT} * (CAST(list_sum(list_transform(xq, v -> v * v))
                        AS BIGINT) // 1000))
        AS ratio_milli
FROM proj
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# embedding_pq_distortion — PQ reconstruction-error report
# ---------------------------------------------------------------------------


def embedding_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ reconstruction-distortion report — the index-
    quality diagnostic you read before trusting a PQ deployment (the
    compression analog of ``dedup_lsh_recall_eval`` and
    ``ann_recall_eval``): for each of the {PQ_M} subspaces, the
    mean/max squared distance between vectors and their assigned
    codebook centroid.  A subspace whose distortion dwarfs the others
    needs more codes (or OPQ rotation); flat high distortion across
    subspaces means the corpus has no cluster structure for PQ to
    exploit — which is exactly what this synthetic corpus shows.

    Same hash-sampled codebook and dimension-sequential IEEE
    distance fold as ``ann_pq_adc`` (codes and distances mirror the
    oracle bit-for-bit); per-vector subspace distortion is quantized
    to integer nano-units BEFORE summation, so the report aggregates
    in exact int64 regardless of reduction order.  One Arrow-batched
    corpus pass; output is {PQ_M} rows."""
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    base = em.select("vec_id", _dvec().alias("v"))
    seed_rows = (
        base.withColumn("hk", hash32(F.col("vec_id").cast("string")))
        .orderBy("hk", "vec_id")
        .limit(PQ_KS)
        .collect()
    )
    cents = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in seed_rows])

    def encode_d2(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray([np.asarray(x) for x in pdf["v"]], dtype=np.float64)
            out_m, out_d2 = [], []
            for m in range(PQ_M):
                acc = np.zeros((len(V), PQ_KS))
                for d in range(m * PQ_SUB, (m + 1) * PQ_SUB):
                    diff = V[:, d][:, None] - cents[None, :, d]
                    acc += diff * diff
                best = acc.min(axis=1)  # first-min == argmin's value
                out_m.append(np.full(len(V), m + 1, dtype=np.int64))
                out_d2.append(np.floor(best * 1e9).astype(np.int64))
            yield pd.DataFrame(
                {
                    "m": np.concatenate(out_m),
                    "d2_nano": np.concatenate(out_d2),
                }
            )

    per = base.mapInPandas(encode_d2, schema="m long, d2_nano long")
    return (
        per.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr("sum(d2_nano) div count(1)").alias("mean_d2_nano"),
            F.max("d2_nano").alias("max_d2_nano"),
        )
        .orderBy("m")
    )


_PQ_DISTORTION_SQL = f"""
WITH nv AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
seeds AS (
    SELECT v AS c,
        ROW_NUMBER() OVER (
            ORDER BY {sql_hash32("CAST(vec_id AS VARCHAR)")}, vec_id
        ) - 1 AS cell
    FROM nv
    QUALIFY cell < {PQ_KS}
),
best AS (
    SELECT vec_id, m,
        CAST(FLOOR(1000000000.0 * MIN({_sub_d2("v", "c", "m")}))
             AS BIGINT) AS d2_nano
    FROM nv, generate_series(1, {PQ_M}) AS t(m), seeds
    GROUP BY vec_id, m
)
SELECT CAST(m AS BIGINT) AS m,
    COUNT(*) AS n_vecs,
    CAST(SUM(d2_nano) AS BIGINT) // COUNT(*) AS mean_d2_nano,
    CAST(MAX(d2_nano) AS BIGINT) AS max_d2_nano
FROM best
GROUP BY m
ORDER BY m
"""


# ------------------------------------- submodular facility location

FL_ROUNDS = 4       # exemplars selected
FL_CANDS = 4        # stochastic-greedy candidate pool per round


def _fl_candidate_pools(
    base: DataFrame,
) -> tuple[list[list[int]], dict[int, list[float]]]:
    """Every round's candidate pool drawn DISTRIBUTED in ONE job: for
    round r, the top (FL_CANDS + FL_ROUNDS − 1) vec_ids by portable md5
    hash of 'fl{r}:{vec_id}' (id-tiebroken) — a union of
    TakeOrderedAndProject subtrees, ≤ FL_ROUNDS·(FL_CANDS+FL_ROUNDS−1)
    rows to the driver, never the id column.  A ``v`` vector column on
    ``base`` rides along through the TakeOrderedAndProject (VERDICT r7
    #5: fusing the pool-vector fetch into the draw, 6 jobs → 5), so
    the second return value maps every pooled id to its vector.

    Bit-identical to the oracle's per-round WHERE-then-LIMIT: round r
    excludes at most r previously-selected ids, so the first FL_CANDS
    non-excluded ids always sit inside the unfiltered top
    (FL_CANDS + r) ≤ (FL_CANDS + FL_ROUNDS − 1); the caller filters
    the exclusions and truncates to FL_CANDS."""
    from functools import reduce

    k = FL_CANDS + FL_ROUNDS - 1
    carry = ["v"] if "v" in base.columns else []
    parts = []
    for rnd in range(FL_ROUNDS):
        hk = hash32(
            F.concat(F.lit(f"fl{rnd}:"), F.col("vec_id").cast("string"))
        )
        parts.append(
            base.select("vec_id", *carry)
            .withColumn("hk", hk)
            .orderBy("hk", "vec_id")
            .limit(k)
            .select(F.lit(rnd).alias("rnd"), "vec_id", "hk", *carry)
        )
    rows = reduce(DataFrame.unionByName, parts).collect()
    pools: list[list[int]] = [[] for _ in range(FL_ROUNDS)]
    for r in sorted(rows, key=lambda r: (r["rnd"], r["hk"], r["vec_id"])):
        pools[r["rnd"]].append(int(r["vec_id"]))
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["v"]] for r in rows
    } if carry else {}
    return pools, vecs


def sample_facility_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Submodular facility-location data selection (stochastic greedy,
    Mirzasoleiman et al. 2015): pick exemplars maximizing
    Σ_v max_{s∈S} sim(v, s) — REPRESENTATIVENESS, the complementary
    objective to ``sample_coreset_kcenter``'s max-spread (k-center
    grabs outliers; facility location grabs the modes — the usual
    choice when pruning a 100 TB corpus down to what to actually
    train on).

    Exact greedy is O(N²)/round (every candidate needs a corpus sum),
    so each round scores a deterministic 4-candidate pool drawn
    DISTRIBUTED (hash-rank + limit = per-partition top-K, the
    stochastic-greedy trick that keeps (1−1/e−ε) guarantees): ONE
    corpus pass per round computes all candidate gains
    Σ_v max(0, sim_c(v) − cov(v)) as plan-literal JVM folds, sims
    floor-quantized to micro per ROW before the integer sums
    (order-insensitive, bit-exact).  Only the argmax and the
    FL_CANDS pool rows return to the driver (the pool VECTORS ride
    the draw job itself — 5 jobs total: 1 fused draw+fetch +
    FL_ROUNDS gain aggregates).  Center vectors embed as single
    Literal array nodes (r12 — cheaper Catalyst analysis per round
    than CreateArray(64 literals); final plans identical).  Output
    per round: selected id, marginal gain, total coverage after.

    r12 NEGATIVE RESULTS, kept so the next round does not re-try
    them (full A/B evidence in OPTIMIZATION_r12.md): (1) one-pass
    full speculation — all 340 reachable (state, candidate) gain
    sums in one aggregate — measured ~2.7× SLOWER than this form at
    sf0.1 (Catalyst analysis over hundreds of aggregate expressions
    dwarfs the corpus passes saved on small inputs); (2) a persisted
    N×28 quantized-dot PROXY table with chunked 2-round speculation
    (3 jobs, 2 corpus passes) measured +0.8-1.0 s vs this form in
    alternating same-session A/B — the extra parquet scan + proxy
    materialization exceed the per-round savings, with chunk size 1
    vs 2 indistinguishable.  At a true 100 TB the proxy variant's
    2 corpus passes beat these 5; if the engine ever targets that
    regime for THIS op, resurrect the proxy form from the r12
    history (commit 893d611) behind a size switch.

    Scale: K corpus passes over the persisted working set, driver
    state = K×dim doubles + the candidate pool rows; no join, no
    broadcast state, no N² anywhere, no O(N) driver materialization
    (the candidate draw is a TakeOrderedAndProject).
    """
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    base = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).persist()

    def dot_micro(cv: list[float]):
        return F.floor(
            1_000_000.0
            * F.aggregate(
                F.zip_with(
                    "v",
                    F.lit([float(x) for x in cv]),  # Literal, not CreateArray
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).cast("long")

    # pool vectors ride the draw job itself (≤ 28 rows, VERDICT r7 #5)
    pools, vecs = _fl_candidate_pools(base)
    selected: list[tuple[int, list[float]]] = []
    out_rows = []
    coverage = 0
    for rnd in range(FL_ROUNDS):
        chosen_ids = {s for s, _ in selected}
        cands = [c for c in pools[rnd] if c not in chosen_ids][:FL_CANDS]
        cov = (
            F.greatest(*[dot_micro(v) for _s, v in selected], F.lit(0).cast("long"))
            if selected
            else F.lit(0).cast("long")
        )
        gains = base.select(
            *[
                F.greatest(
                    dot_micro(vecs[c]) - cov, F.lit(0).cast("long")
                ).alias(f"g{j}")
                for j, c in enumerate(cands)
            ]
        ).agg(*[F.sum(f"g{j}").alias(f"g{j}") for j in range(len(cands))])
        row = gains.collect()[0]
        best_j = max(
            range(len(cands)), key=lambda j: (int(row[f"g{j}"]), -cands[j])
        )
        gain = int(row[f"g{best_j}"])
        chosen = cands[best_j]
        selected.append((chosen, vecs[chosen]))
        coverage += gain
        out_rows.append((rnd, chosen, gain, coverage))
    base.unpersist()
    return spark.createDataFrame(
        out_rows,
        "round int, selected_id long, gain_micro long, coverage_micro long",
    ).orderBy("round")


def _fl_sql() -> str:
    hashed = (
        "SELECT vec_id, v, CAST(('0x' || substr(md5('fl{r}:' ||"
        " CAST(vec_id AS VARCHAR)), 1, 8)) AS UBIGINT)::BIGINT AS hk"
        " FROM nv"
    )
    dot = (
        "CAST(FLOOR(1000000.0 * list_sum(list_transform("
        "range(1, {dim} + 1), i -> nv.v[i] * {c}.v[i]))) AS BIGINT)"
    )
    ctes = [
        "nv AS MATERIALIZED (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
    ]
    sel_tables: list[str] = []
    finals = []
    for r in range(FL_ROUNDS):
        pool = f"SELECT vec_id, v FROM ({hashed.format(r=r)}) h"
        if sel_tables:
            excl = " AND ".join(
                f"h.vec_id <> (SELECT sid FROM {s})" for s in sel_tables
            )
            pool += f" WHERE {excl}"
        pool += f" ORDER BY hk, vec_id LIMIT {FL_CANDS}"
        ctes.append(f"pool{r} AS MATERIALIZED ({pool})")
        cov = (
            "GREATEST("
            + ", ".join(
                [dot.format(dim=GM_DIMS, c=f"s{j}") for j in range(len(sel_tables))]
                + ["CAST(0 AS BIGINT)"]
            )
            + ")"
        )
        sel_join = "".join(
            f" CROSS JOIN {s} s{j}" for j, s in enumerate(sel_tables)
        )
        ctes.append(
            f"""gain{r} AS MATERIALIZED (
    SELECT c.vec_id AS sid, c.v AS v,
        CAST(SUM(GREATEST({dot.format(dim=GM_DIMS, c="c")} - {cov},
             CAST(0 AS BIGINT))) AS BIGINT) AS g
    FROM pool{r} c CROSS JOIN nv{sel_join}
    GROUP BY c.vec_id, c.v
    ORDER BY g DESC, sid ASC LIMIT 1
)"""
        )
        sel_tables.append(f"gain{r}")
        run = " + ".join(f"(SELECT g FROM gain{j})" for j in range(r + 1))
        finals.append(
            f"SELECT {r} AS round, (SELECT sid FROM gain{r}) AS selected_id,"
            f" (SELECT g FROM gain{r}) AS gain_micro,"
            f" CAST({run} AS BIGINT) AS coverage_micro"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + " UNION ALL ".join(finals)
        + " ORDER BY round"
    )


# ------------------------------------------------ geometric median

GM_DIMS = 64
GM_ITERS = 2          # Weiszfeld refinement rounds after the mean init
GM_W_SCALE = 10**12   # weight quantum: w = GM_W_SCALE div dist_micro


def _trunc_div(a: int, b: int) -> int:
    """Engine div semantics (truncate toward zero) — Python // floors."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def embedding_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension geometric median of the embedding corpus by
    {GM_ITERS} fixed Weiszfeld iterations from the mean — the ROBUST
    centroid: unlike the mean, it is insensitive to the far-out junk
    vectors (dead encoders, truncation artifacts) that a 100 TB
    embedding QC pass is hunting, so median-vs-mean shift per
    dimension is itself the anomaly signal this op emits.

    Weiszfeld: c ← Σ wᵢxᵢ / Σ wᵢ with wᵢ = 1/‖xᵢ−c‖.  Matrix-free and
    integer-exact cross-engine: embeddings quantize to micro ints,
    distances to floor(sqrt) micro ints, weights to GM_W_SCALE div
    dist (duplicate-at-center guarded by max(dist,1)), and the
    weighted per-dim sums aggregate in DECIMAL (Spark) / HUGEINT
    (DuckDB) — exact, order-insensitive.  Only 64 scalars return to
    the driver per round (the PCA power-iteration pattern); the
    oracle unrolls the identical rounds in SQL.

    Output: (dim, median_micro, mean_micro, shift_micro).
    """
    emb = load(spark, sf_dir, "embeddings")
    xq = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000000).cast("long")
    )
    rows = emb.select(xq.alias("xq"))
    rows.cache()
    try:
        # r13 REVERT to posexplode + groupBy(d) (VERDICT r12 #1): the
        # r12 grouping-free 64-column aggregate was a measured 1.87×
        # sf0.1 regression (driver 2.03 → 3.79 s).  A phase-level A/B
        # on a quiet box (commit f2682d4, tools/ab_gm.py) localized it:
        # the no-grouping aggregate of 64 element_at sums is SLOWER
        # than Generate+hash-agg in both halves — mean pass 0.395 vs
        # 0.222 s, Weiszfeld pass 0.768 vs 0.328 s (64 decimal(38,0)
        # sum expressions in one codegen'd no-grouping aggregate
        # evaluate worse than the 64-group hash aggregate the explode
        # feeds, whose map-side partial agg reduces the exchange to 64
        # rows/task at any corpus size).
        sums = (
            rows.select(F.posexplode("xq").alias("d", "xv"))
            .groupBy("d")
            .agg(F.sum("xv").alias("s"), F.count(F.lit(1)).alias("n"))
            .orderBy("d")
            .collect()
        )
        mean = [_trunc_div(int(r["s"]), int(r["n"])) for r in sums]
        c = list(mean)
        for _ in range(GM_ITERS):
            carr = F.lit([int(v) for v in c])  # Literal array<bigint>
            dist2 = F.aggregate(
                F.zip_with("xq", carr, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            )
            w = F.expr(
                f"cast({GM_W_SCALE} as bigint)"
                " div greatest(cast(floor(sqrt(cast(dist2 as double))) as bigint), 1)"
            )
            staged = rows.select(dist2.alias("dist2"), "xq").select(
                w.alias("w"), "xq"
            )
            agg = (
                staged.select("w", F.posexplode("xq").alias("d", "xv"))
                .groupBy("d")
                .agg(
                    # w reaches GM_W_SCALE (1e12) for points at the center,
                    # so w*xv must not multiply in BIGINT (silent wrap at
                    # |xv| >= ~9.2e6 micro); cast w to decimal FIRST —
                    # decimal(20,0)*bigint = decimal(38,0), exact, matching
                    # the oracle's CAST(w AS HUGEINT) * xq[d].
                    F.sum(
                        F.col("w").cast("decimal(20,0)") * F.col("xv")
                    ).alias("num"),
                    F.sum(F.col("w").cast("decimal(20,0)")).alias("den"),
                )
                .select(
                    "d",
                    F.expr("cast(num div den as long)").alias("cnew"),
                )
                .orderBy("d")
                .collect()
            )
            c = [int(r["cnew"]) for r in agg]
    finally:
        rows.unpersist()
    out = spark.createDataFrame(
        [
            (d + 1, int(c[d]), int(mean[d]), abs(int(c[d]) - int(mean[d])))
            for d in range(GM_DIMS)
        ],
        "dim long, median_micro long, mean_micro long, shift_micro long",
    )
    return out.orderBy("dim")


def _gm_sql() -> str:
    parts = [
        """xrows AS (
    SELECT list_transform(embedding,
        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
    FROM embeddings
)""",
        f"""c0 AS (
    SELECT r.d,
        CAST(SUM(CAST(xq[r.d] AS HUGEINT)) AS HUGEINT)
            // CAST(COUNT(*) AS HUGEINT) AS v
    FROM xrows, (SELECT UNNEST(range(1, {GM_DIMS + 1})) AS d) r
    GROUP BY r.d
)""",
    ]
    for k in range(1, GM_ITERS + 1):
        parts.append(f"""w{k} AS (
    SELECT xq,
        CAST({GM_W_SCALE} AS BIGINT) // GREATEST(CAST(FLOOR(SQRT(CAST(
            (SELECT SUM((xq[c.d] - c.v) * (xq[c.d] - c.v)) FROM c{k - 1} c)
            AS DOUBLE))) AS BIGINT), 1) AS w
    FROM xrows
)""")
        parts.append(f"""c{k} AS (
    SELECT r.d,
        CAST(SUM(CAST(w AS HUGEINT) * xq[r.d]) AS HUGEINT)
            // CAST(SUM(CAST(w AS HUGEINT)) AS HUGEINT) AS v
    FROM w{k}, (SELECT UNNEST(range(1, {GM_DIMS + 1})) AS d) r
    GROUP BY r.d
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(c.d AS BIGINT) AS dim,
       CAST(c.v AS BIGINT) AS median_micro,
       CAST(m.v AS BIGINT) AS mean_micro,
       CAST(ABS(c.v - m.v) AS BIGINT) AS shift_micro
FROM c{GM_ITERS} c JOIN c0 m ON m.d = c.d
ORDER BY dim
"""
    )


QUERIES = {
    "sample_facility_location": sample_facility_location,
    "embedding_geometric_median": embedding_geometric_median,
    "embedding_pq_distortion": embedding_pq_distortion,
    "ml_kmeans_lloyd": ml_kmeans_lloyd,
    "embedding_random_projection_jl": embedding_random_projection_jl,
    "embedding_drift_report": embedding_drift_report,
    "ann_pq_adc": ann_pq_adc,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "embedding_dim_stats": embedding_dim_stats,
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_recall_eval": ann_recall_eval,
    "dedup_semantic_cluster": dedup_semantic_cluster,
    "embedding_matryoshka_eval": embedding_matryoshka_eval,
    "sample_coreset_kcenter": sample_coreset_kcenter,
    "embedding_kmeans_rollup": embedding_kmeans_rollup,
}

ORACLES = {
    "sample_facility_location": _fl_sql(),
    "embedding_geometric_median": _gm_sql(),
    "embedding_pq_distortion": _PQ_DISTORTION_SQL,
    "ml_kmeans_lloyd": _kmeans_sql(),
    "embedding_random_projection_jl": _jl_sql(),
    "embedding_drift_report": _DRIFT_SQL,
    "ann_pq_adc": _ANN_PQ_SQL,
    "ann_ivfpq_topk": _ANN_IVFPQ_SQL,
    "embedding_dim_stats": _DIM_STATS_SQL,
    "ann_bruteforce_topk": _ANN_BRUTE_SQL,
    "ann_lsh_bucketed": _ANN_LSH_SQL,
    # oracle-checkable since the quantizer moved to hash-sampled data
    # points (the previous Lloyd-refined float geometry wasn't readably
    # SQL-expressible and forced a rows-only driver row)
    "ann_ivf_topk": _ANN_IVF_SQL,
    "ann_recall_eval": _ANN_RECALL_SQL,
    "dedup_semantic_cluster": _SEM_DEDUP_SQL,
    "embedding_matryoshka_eval": _MRL_SQL,
    "sample_coreset_kcenter": _kcenter_sql(),
    "embedding_kmeans_rollup": _KMEANS_ROLLUP_SQL,
}
