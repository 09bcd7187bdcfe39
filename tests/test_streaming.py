"""Structured Streaming semantics tests that the batch-equality oracle
cannot express: multi-microbatch replay with watermark-driven late-data
drop, and per-key uniqueness of the stateful dedup.

The reference library has no streaming engine (its "streaming" is
incremental batch iteration, /root/reference/src/parquetreader/
reader.py:35-36) — this is north-star extension surface.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SF_DIR = "/root/testdata/sf0.001"

_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ]
)


def _write_file(path: str, rows, mtime: float) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, path)
    # FileStreamSource orders files by modification time; pin it so the
    # replay order is deterministic.
    os.utime(path, (mtime, mtime))


@pytest.fixture()
def staged_stream_dir(tmp_path):
    """Four time-ordered micro-batch files. The last holds ONE event
    hours late — late relative even to the one-batch-delayed watermark
    Spark uses for row filtering (the drop filter in batch N applies
    the watermark computed from batches ≤ N-1)."""
    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    base = str(tmp_path / "stream_src")
    os.makedirs(base, exist_ok=True)
    now = time.time()
    _write_file(f"{base}/b1.parquet", [(1, t(10, 0), 7), (2, t(10, 20), 7), (3, t(10, 40), 8)], now - 40)
    _write_file(f"{base}/b2.parquet", [(4, t(12, 0), 7)], now - 30)   # wm → 11:50
    _write_file(f"{base}/b3.parquet", [(5, t(13, 0), 7)], now - 20)   # wm → 12:50
    _write_file(f"{base}/b4.parquet", [(6, t(10, 30), 9)], now - 10)  # LATE
    return base


def test_watermark_drops_late_event(spark, staged_stream_dir):
    """Append-mode tumbling count, 10-minute watermark, 4-file replay
    (maxFilesPerTrigger=1): the hours-late event must be dropped by the
    watermark and the finalized 10:00 window must emit exactly 3."""
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged_stream_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1, f"expected exactly the late event dropped, got {dropped}"

    got = {
        r["start"].hour: r["n"]
        for r in spark.table(name).select(F.col("w.start").alias("start"), "n").collect()
    }
    # Only the 10:00 window was finalized (wm 12:50 passed its end) and
    # it counts 3 — the late event_id=6 is excluded. The 12:00/13:00
    # windows are still open at termination, so append mode withholds
    # them — exactly the bounded-state behavior we want at scale.
    assert got == {10: 3}, got


def test_streaming_dedup_unique_keys(spark):
    """dropDuplicatesWithinWatermark yields at most one row per
    (user_id, event_type) under the full replay."""
    from parquet_batch_spark.streaming.windows import streaming_dedup_watermark

    out = streaming_dedup_watermark(spark, SF_DIR)
    dup = out.filter(F.col("n_kept") > 1)
    assert dup.count() == 0
    assert out.count() > 0


def test_stateful_user_stats_matches_batch(spark):
    """applyInPandasWithState final state == batch aggregate at sf0.001."""
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.streaming.windows import streaming_stateful_user_stats

    got = {r["user_id"]: (r["n_events"], r["last_event_id"]) for r in
           streaming_stateful_user_stats(spark, SF_DIR).collect()}
    exp = {r["user_id"]: (r["n"], r["last"]) for r in
           load(spark, SF_DIR, "events")
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("last"))
           .collect()}
    assert got == exp


def test_foreach_batch_incremental_sink(spark, tmp_path):
    """foreachBatch custom sink: each micro-batch appends PARTIAL
    aggregates to parquet; re-aggregating the partials reproduces the
    batch answer exactly. This is the idempotent-append topology for
    sinks without transactional merge (counts are associative, so
    replayed batches only need dedup by batch_id at scale — here the
    availableNow replay is single-pass)."""
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.streaming.windows import _event_stream

    out = str(tmp_path / "partials")

    def upsert(batch_df, batch_id):
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    q = (
        _event_stream(spark, SF_DIR)
        .writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r["event_type"]: r["total"]
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    exp = {
        r["event_type"]: r["count"]
        for r in load(spark, SF_DIR, "events").groupBy("event_type").count().collect()
    }
    assert got == exp


def test_streaming_topk_one_leader_per_window(spark, sf_dir):
    """Exactly one leader per window; the leader's sum is the maximum
    over the batch-computed per-type sums for that window."""
    from pyspark.sql import functions as F

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.functions.numeric import dec
    from parquet_batch_spark.streaming.windows import streaming_windowed_topk

    rows = streaming_windowed_topk(spark, sf_dir).collect()
    starts = [r["window_start"] for r in rows]
    assert len(starts) == len(set(starts))
    batch = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.sum(dec("value")).cast("double").alias("s"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "event_type", "s")
        .collect()
    )
    best: dict = {}
    for b in batch:
        cur = best.get(b["ws"])
        if cur is None or b["s"] > cur[1] or (b["s"] == cur[1] and b["event_type"] < cur[0]):
            best[b["ws"]] = (b["event_type"], b["s"])
    for r in rows:
        t, s = best[r["window_start"]]
        assert r["top_type"] == t and abs(r["sum_value"] - s) < 1e-6


def test_state_store_read_matches_batch(spark):
    """statestore batch source: the read-back aggregation state equals
    the batch aggregate (full codec round-trip check) at sf0.001."""
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.streaming.windows import streaming_state_store_read

    got = {
        r["event_type"]: (r["n_events"], r["max_event_id"])
        for r in streaming_state_store_read(spark, SF_DIR).collect()
    }
    exp = {
        r["event_type"]: (r["n"], r["mx"])
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("mx"))
        .collect()
    }
    assert got == exp


def test_transform_with_state_matches_batch(spark):
    """transformWithStateInPandas (or its protobuf-gated
    applyInPandasWithState fallback) final state == batch aggregate,
    including the micro-quantized value sum."""
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.streaming.windows import (
        streaming_transform_with_state,
    )

    got = {
        r["event_type"]: (r["n_events"], r["sum_value_micro"], r["max_event_id"])
        for r in streaming_transform_with_state(spark, SF_DIR).collect()
    }
    exp = {
        r["event_type"]: (r["n"], r["s"], r["mx"])
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.lit(1_000_000.0) * F.col("value")).cast("long")
            ).alias("s"),
            F.max("event_id").alias("mx"),
        )
        .collect()
    }
    assert got == exp


def test_state_metadata_source_catalog(spark):
    """state-metadata source: one stateStoreSave operator, default
    store, single availableNow batch."""
    from parquet_batch_spark.streaming.windows import (
        streaming_state_metadata_source,
    )

    rows = streaming_state_metadata_source(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["operatorName"] == "stateStoreSave"
    assert r["stateStoreName"] == "default"
    assert r["minBatchId"] == 0 and r["maxBatchId"] == 0


def test_foreach_batch_merge_removes_its_staging_dir(spark):
    """The foreachBatch merge stages partials under the temp dir; the
    compacted result is detached from them and the staging dir removed
    before the op returns, so reading the result afterwards still
    yields the batch aggregate."""
    import glob
    import tempfile

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.streaming.windows import streaming_foreach_batch_merge

    pattern = os.path.join(tempfile.gettempdir(), "pbs_febatch_*")
    before = set(glob.glob(pattern))
    df = streaming_foreach_batch_merge(spark, SF_DIR)
    assert set(glob.glob(pattern)) - before == set()
    got = {r["user_id"]: (r["n_events"], r["max_value"]) for r in df.collect()}
    exp = {
        r["user_id"]: (r["n"], r["mx"])
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert got == exp
