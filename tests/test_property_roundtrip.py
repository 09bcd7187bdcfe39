"""Property-based round-trip: random nested rows → parquet → reader
facade → identical Python dicts.

Mirrors (and strengthens) the reference's test strategy: its generator
fuzzes {str, int, float, struct, list<struct>} column types
(/root/reference/tests/test_parquetbatch.py:99-131) but only golden-
checks first/last rows — and its row aliasing bug made even that
vacuous (SURVEY.md §0.1). Here hypothesis generates the rows and EVERY
row is compared after the round trip, which would have caught the
reference's bug immediately.
"""

from __future__ import annotations

import math
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from parquet_batch_spark.sources.reader import from_path

_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField(
            "st",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("n", T.LongType()),
                    T.StructField("xs", T.ArrayType(T.LongType())),
                ]
            ),
        ),
        T.StructField(
            "ls",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("k", T.StringType()),
                        T.StructField("v", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)

_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=12
)
_i64 = st.integers(min_value=-(2**62), max_value=2**62)
_f = st.floats(allow_nan=False, allow_infinity=False, width=64)

_row = st.tuples(
    _text,
    _i64,
    _f,
    st.tuples(_text, _i64, st.lists(_i64, max_size=4)),
    st.lists(st.tuples(_text, _f), max_size=3),
)


def _to_dict(t) -> dict:
    return {
        "s": t[0],
        "i": t[1],
        "f": t[2],
        "st": {"name": t[3][0], "n": t[3][1], "xs": list(t[3][2])},
        "ls": [{"k": k, "v": v} for k, v in t[4]],
    }


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=1, max_size=20))
def test_nested_roundtrip_every_row(spark, rows):
    expected = [_to_dict(r) for r in rows]
    out = tempfile.mkdtemp(prefix="pbs_prop_")
    try:
        df = spark.createDataFrame(
            [tuple(d.values()) for d in expected], schema=_SCHEMA
        )
        # keep input order recoverable: single partition write
        df.coalesce(1).write.mode("overwrite").parquet(out)
        # sort by the WHOLE row: (s, i) alone is not unique, and two
        # rows equal on it but differing in f/st/ls would make the
        # pairwise asserts depend on parquet read order (ADVICE r1)
        full_key = lambda d: repr((d["s"], d["i"], d["f"], d["st"], d["ls"]))  # noqa: E731
        got = sorted(from_path(spark, out).get_rows_with_args(), key=full_key)
        expected_sorted = sorted(expected, key=full_key)
        assert len(got) == len(expected_sorted)
        for g, e in zip(got, expected_sorted):
            assert g["s"] == e["s"] and g["i"] == e["i"]
            assert math.isclose(g["f"], e["f"], rel_tol=0, abs_tol=0) or g["f"] == e["f"]
            assert g["st"] == e["st"]
            assert g["ls"] == e["ls"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,  # 64-dim vectors are inherently big
    ],
)
@given(
    data=st.lists(
        st.lists(
            st.floats(
                min_value=-1.0, max_value=1.0, allow_nan=False, width=32
            ),
            min_size=64,
            max_size=64,
        ),
        min_size=8,
        max_size=40,
    )
)
def test_cosine_gate_paths_identical_on_random_vectors(spark, tmp_path, data):
    """Property: for ANY small vector corpus (not just the driver's
    near-uniform embeddings), the COS_SMALL_CORPUS single-task scorer
    and the distributed pair join emit identical rows — same candidate
    pairs, same rounded cosines. Random float32 vectors (incl.
    degenerate all-negative / near-zero cases hypothesis likes to
    find) are staged as a tiny embeddings table and both paths run
    against it."""
    import uuid as _uuid

    from pyspark.sql import types as T2

    from parquet_batch_spark.operators import dedup as dedup_mod
    from parquet_batch_spark.operators.dedup import dedup_embedding_cosine

    schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField("label", T2.StringType()),
            T2.StructField("embedding", T2.ArrayType(T2.FloatType())),
        ]
    )
    sf_dir = str(tmp_path / f"cos_{_uuid.uuid4().hex[:8]}")
    rows = [(i, "x", [float(v) for v in vec]) for i, vec in enumerate(data)]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{sf_dir}/embeddings.parquet"
    )

    def run():
        return [
            (r["vec_a"], r["vec_b"], r["cos_sim"])
            for r in dedup_embedding_cosine(spark, sf_dir).collect()
        ]

    # count_table memoizes per sf_dir; unique dirs per example keep it honest
    old = dedup_mod.COS_SMALL_CORPUS
    try:
        dedup_mod.COS_SMALL_CORPUS = 10**9
        small = run()
        dedup_mod.COS_SMALL_CORPUS = 0
        joined = run()
    finally:
        dedup_mod.COS_SMALL_CORPUS = old
    assert small == joined


# ---------------------------------------------------------------------------
# Property: interval coalescing == pure-Python reference on random series
# ---------------------------------------------------------------------------

_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10_000)),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=_events)
def test_interval_coalesce_matches_reference(spark, evs):
    """window_interval_coalesce run end-to-end over a synthetic events
    table must equal the textbook merge-overlapping-intervals
    algorithm for every random series hypothesis produces."""
    import os

    from pyspark.sql import functions as F

    from parquet_batch_spark.operators.windows import (
        IVC_WIDTH_US,
        window_interval_coalesce,
    )

    tmp = tempfile.mkdtemp(prefix="ivc_prop_")
    try:
        df = spark.createDataFrame(
            [(i, t * 1_000_000, u, "view", 1.0, "{}") for i, (u, t) in enumerate(evs)],
            "event_id BIGINT, us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
        ).select(
            "event_id",
            F.timestamp_micros("us").cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        got = {
            r["user_id"]: (r["n_islands"], r["covered_us"])
            for r in window_interval_coalesce(spark, tmp).collect()
        }
        # pure-Python reference: merge [t, t+W) intervals per user
        expect = {}
        by_user = {}
        for u, t in evs:
            by_user.setdefault(u, []).append(t * 1_000_000)
        for u, starts in by_user.items():
            starts.sort()
            islands, covered = 0, 0
            cur_s = cur_e = None
            for s in starts:
                e = s + IVC_WIDTH_US
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    islands += 1
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            covered += cur_e - cur_s
            expect[u] = (islands, covered)
        assert got == expect, (got, expect)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Property: Pareto frontier == brute-force dominance on random points
# ---------------------------------------------------------------------------

_points = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 50)),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pts=_points)
def test_pareto_scan_matches_bruteforce(spark, pts):
    """The sorted-scan frontier construction (the exact plan shape
    agg_pareto_frontier uses: per-x max-y reduce + one running-max
    window) must equal brute-force dominance filtering for every
    random point set."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pts, "x LONG, y LONG")
    per_x = df.groupBy("x").agg(F.max("y").alias("y"))
    prev = F.max("y").over(
        W.orderBy(F.desc("x")).rowsBetween(W.unboundedPreceding, -1)
    )
    got = {
        (r["x"], r["y"])
        for r in per_x.withColumn("p", prev)
        .filter(F.col("p").isNull() | (F.col("y") > F.col("p")))
        .collect()
    }
    # brute force: (x, y) is on the frontier iff no other point
    # dominates it (>= both, > at least one)
    uniq = set(pts)
    expect = {
        (x, y)
        for (x, y) in uniq
        if not any(
            (a >= x and b >= y and (a > x or b > y)) for (a, b) in uniq
        )
    }
    assert got == expect, (sorted(got), sorted(expect))


# ---------------------------------------------------------------------------
# Property: the exact-integer-moment OLS closed form used across
# the stats ops agrees with numpy's lstsq for ARBITRARY integer samples —
# not just the fixture tables. Small deadline-free batches: Spark jobs
# inside hypothesis examples are slow, so examples are few but each
# checks the whole algebra path.
# ---------------------------------------------------------------------------


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-100000, max_value=100000),
        ),
        min_size=3,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_ols_moment_algebra_matches_numpy(spark, pairs):
    import numpy as np
    from pyspark.sql import functions as F

    xs = np.array([p[0] for p in pairs], dtype=float)
    ys = np.array([p[1] for p in pairs], dtype=float)
    if np.var(xs) == 0:
        return
    df = spark.createDataFrame(pairs, "x long, y long")
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).collect()[0]
    n, sx, sy, sxy, sxx = (float(m[c]) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    want_slope, want_intercept = np.polyfit(xs, ys, 1)
    assert math.isclose(slope, want_slope, rel_tol=1e-9, abs_tol=1e-6)
    assert math.isclose(intercept, want_intercept, rel_tol=1e-9, abs_tol=1e-4)
