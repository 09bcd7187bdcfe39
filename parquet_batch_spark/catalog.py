"""Table catalog over the driver's parquet testdata layout.

One parquet file (or directory of files) per table under a scale-factor
directory. On a real deployment these would be partitioned/bucketed
table roots; the loader is path-based so the same code serves both.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterable

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
# (applicationId, sf_dir or paths, stage name, extra args)
#   -> (fingerprint, result)
_STAGE_CACHE: dict[tuple, tuple[tuple, object]] = {}


def _fingerprint(paths: Iterable[str]) -> tuple:
    """(path, size, st_mtime_ns) of every file under each path.  A
    path that cannot be listed locally (a remote URI) contributes
    nothing, so its entries stay keyed by path alone."""
    fp = []
    for root in paths:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for path in files:
            st = os.stat(path)
            fp.append((path, st.st_size, st.st_mtime_ns))
    return tuple(fp)


def _memo(key: tuple, fp: tuple, compute: Callable[[], object]) -> object:
    """``compute()``, cached under ``key`` next to ``fp``, the
    fingerprint of its input files: a changed fingerprint recomputes
    and replaces the entry.

    DataFrame results are ``localCheckpoint()``-ed eagerly; with
    ``MATERIALIZE_SHARED_STAGES`` off they are returned as the raw,
    uncached plan.  Plain-data results are cached either way."""
    hit = _STAGE_CACHE.get(key)
    if (
        hit is not None
        and hit[0] == fp
        and (MATERIALIZE_SHARED_STAGES or not isinstance(hit[1], DataFrame))
    ):
        return hit[1]
    out = compute()
    if isinstance(out, DataFrame):
        if not MATERIALIZE_SHARED_STAGES:
            return out
        out = out.localCheckpoint()
    _STAGE_CACHE[key] = (fp, out)
    return out


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
    stage called without them builds its own.  Results are stored as
    ``_memo`` stores them (DataFrames checkpointed).
    """

    def register(fn: Callable) -> Callable:
        name = fn.__name__.lstrip("_")

        @functools.wraps(fn)
        def stage(spark: SparkSession, sf_dir: str, *args, **inputs):
            key = (spark.sparkContext.applicationId, sf_dir, name, args)
            named = tables + tuple(a for a in args if a in TABLES)
            fp = _fingerprint(table_path(sf_dir, t) for t in named)
            return _memo(key, fp, lambda: fn(spark, sf_dir, *args, **inputs))

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
    "spark.sql.parquet.mergeSchema",
)


@shared_stage()
def table_schema(spark: SparkSession, sf_dir: str, name: str, *confs: str) -> StructType:
    """Inferred schema of a source table under the conf values
    ``confs`` (``SCHEMA_CONFS`` order).  Inference reads the Parquet
    footers in a Spark job; ``load`` reads with this schema instead of
    inferring again, and a rewritten table re-infers through the
    fingerprint."""
    return spark.read.parquet(table_path(sf_dir, name)).schema


def read_parquet(spark: SparkSession, paths: list[str], options: dict) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)``, inferring the
    schema once per dataset version.

    Inference reads the Parquet footers in a Spark job.  The inferred
    schema is memoized like a shared stage: keyed by (applicationId,
    ``paths``, ``options``, ``SCHEMA_CONFS`` values) and stored with
    the fingerprint of every file under ``paths``, so a rewritten or
    added file re-infers.  When a path cannot be listed locally (a
    remote URI or a glob) no fingerprint could see its files change,
    and every call infers."""
    reader = spark.read.options(**options)
    if not all(os.path.exists(p) for p in paths):
        return reader.parquet(*paths)
    confs = tuple(spark.conf.get(k) for k in SCHEMA_CONFS)
    key = (
        spark.sparkContext.applicationId,
        tuple(paths),
        "dataset_schema",
        (tuple(sorted(options.items())), confs),
    )
    schema = _memo(key, _fingerprint(paths), lambda: reader.parquet(*paths).schema)
    return reader.schema(schema).parquet(*paths)


@shared_stage()
def count_table(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a source table (parquet footer metadata, one cheap
    job). Several operators derive plan constants from corpus size
    (LSH code width, IVF cell count) at construction time."""
    return load(spark, sf_dir, name).count()


def fan_out(df: DataFrame, spark: SparkSession, *cols: str) -> DataFrame:
    """Widen a small scan feeding a computation-heavy derivation.

    A few-MB parquet file arrives as ONE input split, so an expensive
    per-row derivation (shingling, hashing, vector math) would run on a
    single core. Repartitioning to the cluster's parallelism costs a
    tiny shuffle of the raw rows and unlocks full parallelism for the
    derivation. At 100 TB the scan already yields >> cores partitions
    and this is a no-op — the guard makes the helper safe to apply
    unconditionally.

    The scan's partition count is Spark's own: the summed
    ``inputRDD`` partitions of the ``FileSourceScanExec`` leaves in
    the frame's pre-AQE physical plan, so every read conf Spark honours
    (maxPartitionBytes, openCostInBytes, minPartitionNum,
    maxPartitionNum) is honoured here too.  Building those RDDs lists
    and splits the files on the driver; it runs no Spark job.  A frame
    with no file scan (driver-created or checkpointed) counts 0 and is
    spread.

    Pass key columns when downstream groups/joins on them: hash
    partitioning on the key lets Catalyst elide the next shuffle.
    """
    target = spark.sparkContext.defaultParallelism
    parts = 0
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            parts += leaf.inputRDD().getNumPartitions()
    if parts >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
