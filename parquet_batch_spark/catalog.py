"""Table catalog over the driver's parquet testdata layout.

One parquet file (or directory of files) per table under a scale-factor
directory. On a real deployment these would be partitioned/bucketed
table roots; the loader is path-based so the same code serves both.
"""

from __future__ import annotations

import functools
import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor: the
# TPC-H spec fixes region at 5 rows and nation at 25 rows regardless of
# SF, so broadcasting is always correct. customer/supplier/part grow
# with SF — broadcastability is decided per-query (AQE converts to
# broadcast when the built side is under the threshold at runtime).
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy; schema from parquet footer).

    ``events.ts`` has shipped as BOTH parquet TIMESTAMP(NANOS) (rounds
    1-3) and TIMESTAMP(MICROS) (round 4) — the generator is outside
    our control, so the loader normalizes EITHER encoding to
    ``timestamp_ntz`` at µs precision: nanos arrive as a raw long
    (``spark.sql.legacy.parquet.nanosAsLong``) and are truncated with
    integer division — exactly what DuckDB's reader does — while
    micros arrive as a native timestamp and only need the ntz cast
    (session tz pinned to UTC first, so the cast is wall-clock
    exact).

    The schema comes from ``table_schema``, so a table version pays
    its schema-inference job once per run, not once per load.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # The caller may hand us a session without our factory configs
        # (the driver builds its own); both confs are runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    confs = tuple(spark.conf.get(k) for k in SCHEMA_CONFS)
    schema = table_schema(spark, sf_dir, name, *confs)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        elif ts_type != "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


# ---------------------------------------------------------------- shared stages

# Plan-shape tests set this to False: a checkpointed plan reads as an
# RDD scan and would hide the join topology the audits exist to pin.
MATERIALIZE_SHARED_STAGES = True

SHARED_STAGES: dict[str, Callable] = {}  # stage name -> stage
# (applicationId, sf_dir, stage name, extra args) -> (fingerprint, result)
_STAGE_CACHE: dict[tuple, tuple[tuple, object]] = {}


def _fingerprint(sf_dir: str, tables: tuple[str, ...]) -> tuple:
    """(path, size, st_mtime_ns) of every file under each table's path.
    A path that cannot be listed locally (a remote URI) contributes
    nothing, so its stages stay keyed by path alone."""
    fp = []
    for t in tables:
        root = table_path(sf_dir, t)
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for path in files:
            st = os.stat(path)
            fp.append((path, st.st_size, st.st_mtime_ns))
    return tuple(fp)


def shared_stage(*tables: str):
    """Share a stage derived from source tables across the operators
    of one run: ``@shared_stage("documents")`` over a
    ``fn(spark, sf_dir, *args, **inputs)``.

    Several operators consume the same derived stage: row counts that
    become plan constants, the stop-shingle list, coarse-quantizer
    centroids, and the LSH candidate, intersection-pair and segment-
    edge tables.  Each is computed once per run and reused, as a
    100 TB pipeline checkpoints its candidate table before pair
    verification or iterative graph passes.

    The key is (applicationId, sf_dir, stage name, extra args); the
    result is stored with a fingerprint of the input tables (``tables``
    plus any table an extra arg names).  When the fingerprint changes
    (data rewritten in place) the stage recomputes and its entry is
    replaced.  Keyword ``inputs`` hand the stage a lazy DataFrame its
    caller already built over the same tables, so a miss pays no
    second schema-inference job; they are not part of the key, and a
    stage called without them builds its own.

    DataFrame results are ``localCheckpoint()``-ed eagerly; with
    ``MATERIALIZE_SHARED_STAGES`` off they are returned as the raw,
    uncached plan.  Plain-data results are cached either way.
    """

    def register(fn: Callable) -> Callable:
        name = fn.__name__.lstrip("_")

        @functools.wraps(fn)
        def stage(spark: SparkSession, sf_dir: str, *args, **inputs):
            key = (spark.sparkContext.applicationId, sf_dir, name, args)
            fp = _fingerprint(sf_dir, tables + tuple(a for a in args if a in TABLES))
            hit = _STAGE_CACHE.get(key)
            if (
                hit is not None
                and hit[0] == fp
                and (MATERIALIZE_SHARED_STAGES or not isinstance(hit[1], DataFrame))
            ):
                return hit[1]
            out = fn(spark, sf_dir, *args, **inputs)
            if isinstance(out, DataFrame):
                if not MATERIALIZE_SHARED_STAGES:
                    return out
                out = out.localCheckpoint()
            _STAGE_CACHE[key] = (fp, out)
            return out

        SHARED_STAGES[name] = stage
        return stage

    return register


def clear_shared_stages(*names: str) -> None:
    """Drop the cached results of the named stages (all when none are
    named), as a fresh process would start."""
    for key in list(_STAGE_CACHE):
        if not names or key[2] in names:
            del _STAGE_CACHE[key]


# Session confs that decide how Parquet types map to Spark types: the
# inferred schema depends on them, so they are part of its key.
SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


@shared_stage()
def table_schema(spark: SparkSession, sf_dir: str, name: str, *confs: str) -> StructType:
    """Inferred schema of a source table under the conf values
    ``confs`` (``SCHEMA_CONFS`` order).  Inference reads the Parquet
    footers in a Spark job; ``load`` reads with this schema instead of
    inferring again, and a rewritten table re-infers through the
    fingerprint."""
    return spark.read.parquet(table_path(sf_dir, name)).schema


@shared_stage()
def count_table(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a source table (parquet footer metadata, one cheap
    job). Several operators derive plan constants from corpus size
    (LSH code width, IVF cell count) at construction time."""
    return load(spark, sf_dir, name).count()


_BYTE_SUFFIX = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Read a Spark byte-size conf ("128MB", "4194304b", plain int) as
    bytes, with a fixed fallback.  Parsing mirrors Spark's
    JavaUtils.byteStringAs: case-insensitive suffix, binary units, the
    full b/k/m/g/t/p ladder, integer-only magnitude.  An unparseable
    value (which Spark itself would reject at read time) is WARNED
    about, not silently defaulted — the estimate this feeds exists to
    match Spark's actual packing (ADVICE r9)."""
    try:
        raw = spark.conf.get(key, None)
    except Exception:  # noqa: BLE001 — unreadable conf: use the default
        raw = None
    if raw is None:
        return default
    s = str(raw).strip().lower()
    num = s.rstrip("bgkmpt")
    suffix = s[len(num):]
    try:
        return int(num) * _BYTE_SUFFIX[suffix or "b"]
    except (ValueError, KeyError):
        logging.getLogger(__name__).warning(
            "unparseable byte conf %s=%r; pack estimate falls back to %d",
            key, raw, default,
        )
        return default


def _spark_pack_estimate(
    sizes: list[int],
    target: int,
    max_partition_bytes: int = 128 << 20,
    open_cost: int = 4 << 20,
) -> int:
    """Partition count Spark's FilePartition.getFilePartitions yields
    for files of the given byte sizes at the given read configs
    (defaults = Spark's: maxPartitionBytes 128 MiB, openCostInBytes
    4 MiB; fan_out reads the live session values — ADVICE r8: a
    deployment overriding them would silently diverge from Spark's
    actual packing), reproduced step-for-step: the split size pads
    every file with the open cost, each file is chunked at the split
    size (only REAL bytes split), and chunks greedy-pack largest-first,
    closing a partition when the next chunk's real bytes would
    overflow it (the open cost is charged per packed chunk, not
    chunked itself — which is why a plain ceil(totalWithCost/split)
    over-counts near the boundary: one 10 MB file at target 4
    estimates 4 but Spark packs 3)."""
    total = sum(sizes) + open_cost * len(sizes)
    split = min(max_partition_bytes, max(open_cost, total // max(target, 1)))
    chunks = []
    for s in sizes:
        n_full, rem = divmod(s, split)
        chunks.extend([split] * n_full)
        # a zero-length file yields NO chunk (Spark's splitFiles loop
        # `0 until length by split` is empty), so it must not charge
        # an open cost at pack time either
        if rem:
            chunks.append(rem)
    chunks.sort(reverse=True)
    est, cur = 0, 0
    for c in chunks:
        if est == 0 or cur + c > split:
            est += 1
            cur = 0
        cur += c + open_cost
    return max(1, est)


def fan_out(df: DataFrame, spark: SparkSession, *cols: str) -> DataFrame:
    """Widen a small scan feeding a computation-heavy derivation.

    A few-MB parquet file arrives as ONE input split, so an expensive
    per-row derivation (shingling, hashing, vector math) would run on a
    single core. Repartitioning to the cluster's parallelism costs a
    tiny shuffle of the raw rows and unlocks full parallelism for the
    derivation. At 100 TB the scan already yields >> cores partitions
    and this is a no-op — the guard makes the helper safe to apply
    unconditionally.

    Pass key columns when downstream groups/joins on them: hash
    partitioning on the key lets Catalyst elide the next shuffle.
    """
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    est = len(files)
    if files:
        # File count alone mis-estimates in BOTH directions: one big
        # file arrives as many 128 MiB splits, and many SMALL files are
        # bin-packed into far fewer partitions (maxPartitionBytes +
        # openCostInBytes), so `len(files) >= target` can still mean an
        # under-parallelized scan.  For stat-able local paths reproduce
        # Spark's own packing exactly (see _spark_pack_estimate).
        # Remote URIs keep the file count (a 100 TB table has >> cores
        # files anyway, and at that scale this helper is a no-op).
        try:
            from urllib.parse import urlparse

            sizes = []
            for uri in files:
                parsed = urlparse(uri)
                if parsed.scheme not in ("file", ""):
                    raise OSError(uri)  # remote: fall back to count
                sizes.append(os.path.getsize(parsed.path))
            # Spark derives the split size from minPartitionNum (conf,
            # else leafNodeDefaultParallelism, else defaultParallelism)
            # — match that, not the spread target.  A malformed conf
            # string degrades to target instead of crashing the query
            # (ADVICE r9: ValueError escaped the OSError-only catch).
            try:
                min_parts = spark.conf.get(
                    "spark.sql.files.minPartitionNum", None
                )
                if min_parts is None:
                    min_parts = spark.conf.get(
                        "spark.sql.leafNodeDefaultParallelism", None
                    )
                min_parts = int(min_parts) if min_parts else target
            except (ValueError, TypeError):
                min_parts = target
            est = _spark_pack_estimate(
                sizes,
                min_parts,
                _bytes_conf(
                    spark, "spark.sql.files.maxPartitionBytes", 128 << 20
                ),
                _bytes_conf(
                    spark, "spark.sql.files.openCostInBytes", 4 << 20
                ),
            )
        except OSError:
            pass
    # est == 0 (non-file-backed plan): partition count is unknowable
    # without materializing the RDD (banned — .rdd conversion costs a
    # full analysis pass).  Callers only hand this helper raw scans or
    # small driver-created frames, so the unconditional spread is the
    # safe default there.
    if est >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() can see them."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
