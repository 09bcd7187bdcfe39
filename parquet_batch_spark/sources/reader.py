"""Reference-parity Parquet reader facade.

Re-expresses the COMPLETE public API of the reference library
(SMurphyDev/parquet-batch, src/parquetreader/reader.py) on Spark:

- ``ParquetReader(df)``          ≈ ``ParquetReader(dataset)``    (reader.py:15-29)
- ``from_path(spark, path)``     ≈ ``from_path(parquet_path)``   (reader.py:128-129)
- ``from_dataset(df)``           ≈ ``from_dataset(dataset)``     (reader.py:112-113)
- ``get_rows(columns)``          ≈ reader.py:90-97 — projected, memory-bounded
  row streaming with fixed scan defaults
- ``get_rows_with_args(**kw)``   ≈ reader.py:47-72 — expert passthrough
  (columns / filter / batch sizing knobs)

Semantics: the *documented* contract — "a generator where each
element is a single row from the underlying Dataset" (reader.py:10-11)
— with correct per-row values. The reference's implementation has a
row-aliasing bug (``records = [{}] * num_records``, reader.py:55,
every row in a batch collapses to the last one — SURVEY.md §0.1); we
implement the intended semantics, which is what its docs, README and
test intent describe. Spark Rows are immutable so the bug class
cannot recur.

Memory model parity: the reference streams one Arrow RecordBatch
(+readahead) at a time and pivots it into Python dicts with
``.as_py()`` (reader.py:59-72, 93-96). Here the scan's Arrow record
batches (``Dataset.toArrowBatchRdd``) are served to the driver one
*split* at a time over the same socket protocol ``toLocalIterator``
uses: one Spark job per split, run one after another. The driver JVM
holds one split's Arrow frames at a time, plus the next split's with
prefetch, and a split holds at most
``spark.sql.files.maxPartitionBytes`` (128 MB by default) of Parquet
input. Python decodes and pivots one batch of at most ``batch_size``
rows (``spark.sql.execution.arrow.maxRecordsPerBatch``, 10k by
default) at a time.

The stream ignores core parallelism. Spark normally cuts a scan into
at least ``defaultParallelism`` splits (``maxSplitBytes = max(openCost,
totalBytes / minPartitionNum)``) so every core gets a task, but the
single driver consumes the splits serially, so more splits only add
jobs: on 8,000 cores a 20 GB dataset of 100 MB files would become
5,000 sequential 4 MB jobs. The stream therefore plans its scan with
``spark.sql.files.minPartitionNum=1``, set only while the scan's RDD
is built (a shuffle under the streamed plan runs then too, and plans
its own map-side scan the same way); splits then grow up to
``maxPartitionBytes``, the bound a single large file already hits,
and the same dataset streams in 200 jobs. ``from_path`` reads with a
schema inferred once per dataset version (``catalog.read_parquet``),
so a stream of an unchanged path fires no inference job.

The pivot is column-wise: each column becomes a Python list in one
call, nested structs, arrays and maps recurse through their child
columns and list offsets, and the columns are zipped into per-row
dicts equal to what ``Row.asDict(recursive=True)`` returns; the
per-row dicts themselves are built lazily as the caller iterates.
Streaming 30k rows in 10k-row batches at full width
(string/int/float columns, a struct with a list member, a list
column) grows driver RSS by ~2 MB, against ~0.2 MB for per-row
unpickling of Spark Rows. ``prefetch_partitions`` maps to the
reference's ``batch_readahead`` concept.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Generator, Iterable, Iterator
from contextlib import contextmanager
from itertools import pairwise, repeat
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from parquet_batch_spark.catalog import read_parquet

# ``batch_size`` bounds both the executors' vectorized parquet batch
# and the Arrow batch the driver pivots at once.
_BATCH_SIZE_CONFS = (
    "spark.sql.parquet.columnarReaderBatchSize",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)
_BINARY_AS_BYTES_CONF = "spark.sql.execution.pyspark.binaryAsBytes"
# One scan split per stream job, grown up to maxPartitionBytes.
_MIN_PARTITION_NUM_CONF = "spark.sql.files.minPartitionNum"
# Spark types whose null-free Arrow column converts in one numpy call.
_NUMPY_TYPES = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, StringType,
)


class ParquetReader:
    """Row-streaming facade over a Spark DataFrame scan.

    Mirrors the reference's two-method surface (reader.py:15-97). The
    underlying plan stays fully declarative — projection and filters
    are handed to Catalyst, which pushes them into the parquet scan
    (the reference delegates the same way to the Arrow scanner).
    """

    def __init__(self, df: DataFrame):
        self.df = df

    def get_rows_with_args(
        self,
        columns: list[str] | None = None,
        filter: Column | str | None = None,  # noqa: A002 - reference kwarg name
        batch_size: int | None = None,
        batch_readahead: int | None = None,
        fragment_readahead: int | None = None,
        use_threads: bool | None = None,
        prefetch_partitions: bool | None = None,
        **_ignored: Any,
    ) -> Generator[dict, None, None]:
        """Expert path (reference reader.py:47-72).

        ``columns`` → projection pushdown (reference O4);
        ``filter``  → predicate pushdown (reference O9, the Arrow
        ``filter=`` passthrough).

        Arrow scan-tuning kwargs (reference reader.py:93-96) map to
        their Spark analogs so the reference's documented RAM contract
        actually takes effect here:

        - ``batch_size`` (rows per Arrow batch) → the vectorized
          parquet reader's ``spark.sql.parquet.columnarReaderBatchSize``
          (rows per columnar batch) and the driver-side pivot batch
          ``spark.sql.execution.arrow.maxRecordsPerBatch``, both set for
          the duration of the stream and restored when the generator
          closes;
        - ``batch_readahead`` → ``prefetch_partitions`` (driver
          prefetches the next partition while consuming the current
          one — Spark's unit of readahead is the partition);
        - ``fragment_readahead`` / ``use_threads`` — no per-query Spark
          analog (executor-side IO parallelism is cluster-scheduled);
          accepted for drop-in compatibility with a one-time warning.
        """
        df = self.df
        if filter is not None:
            df = df.filter(filter)
        if columns is not None:
            df = df.select(*columns)
        if fragment_readahead is not None or use_threads is not None:
            warnings.warn(
                "fragment_readahead/use_threads have no Spark analog: "
                "executor-side scan parallelism is cluster-scheduled",
                stacklevel=2,
            )
        if prefetch_partitions is None:
            prefetch_partitions = bool(batch_readahead)
        batch = (
            {} if batch_size is None else dict.fromkeys(_BATCH_SIZE_CONFS, str(batch_size))
        )
        with _scoped_conf(df.sparkSession, batch):
            yield from _arrow_rows(df, prefetch_partitions)

    def get_rows(self, columns: list[str]) -> Generator[dict, None, None]:
        """Primary path (reference reader.py:90-97): projected scan,
        bounded-memory row generator with the reference's documented
        memory-constrained defaults mapped to Spark."""
        return self.get_rows_with_args(
            columns=columns, batch_size=10000, batch_readahead=4
        )


def from_path(
    spark: SparkSession,
    parquet_path: str | os.PathLike | Iterable[str | os.PathLike],
    **options: Any,
) -> ParquetReader:
    """Build a reader from a file, directory, or list of paths
    (reference reader.py:128-129; multi-file datasets per O2).

    ``options`` pass through to the ``DataFrameReader`` — e.g.
    ``ignoreCorruptFiles=True`` / ``pathGlobFilter="*.parquet"`` for
    the reference's ``exclude_invalid_files`` / ``ignore_prefixes``
    convenience (reference tests/test_parquetbatch.py:392-398) without
    dropping to ``from_dataset``."""
    if isinstance(parquet_path, (str, os.PathLike)):
        parquet_path = [parquet_path]
    paths = [os.fspath(p) for p in parquet_path]
    return ParquetReader(read_parquet(spark, paths, options))


def from_dataset(df: DataFrame) -> ParquetReader:
    """Wrap a caller-configured DataFrame (reference reader.py:112-113
    — the 'preconfigured source' path O3: caller controls schema,
    corrupt-file handling, path filters via DataFrameReader options).
    Every column needs an Arrow mapping: all Parquet-readable types
    have one, the calendar and year-month interval types do not."""
    return ParquetReader(df)


def _arrow_rows(df: DataFrame, prefetch_partitions: bool) -> Iterator[dict]:
    """Serve ``df``'s Arrow record batches to the driver one split at
    a time (``toLocalIterator``'s socket protocol, one job per split)
    and pivot each batch into per-row dicts."""
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.traceback_utils import SCCallSiteSync
    from pyspark.util import _local_iterator_from_socket

    spark, schema = df.sparkSession, df.schema
    arrow_schema = to_arrow_schema(
        schema, prefers_large_types=spark._jconf.arrowUseLargeVarTypes()
    )
    # the Row path yields bytes, or bytearray when this conf is off
    as_bytes = spark.conf.get(_BINARY_AS_BYTES_CONF).lower() == "true"
    sc = spark.sparkContext
    with SCCallSiteSync(sc):
        # the scan's splits are planned while its RDD is built
        with _scoped_conf(spark, {_MIN_PARTITION_NUM_CONF: "1"}):
            batches = df._jdf.toArrowBatchRdd()
        sock_info = sc._jvm.PythonRDD.toLocalIteratorAndServe(
            batches, prefetch_partitions
        )
    for frame in _local_iterator_from_socket(sock_info, NoOpSerializer()):
        batch = pa.ipc.read_record_batch(pa.py_buffer(frame), arrow_schema)
        yield from _dicts(schema, batch.columns, batch.num_rows, as_bytes)


@contextmanager
def _scoped_conf(spark: SparkSession, values: dict[str, str]) -> Iterator[None]:
    """Set session confs for the body's duration, then restore each
    prior value (or unset it)."""
    conf = spark.conf
    prior = {k: conf.get(k, None) for k in values}
    for key, value in values.items():
        conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)


def _dicts(
    schema: StructType, columns: list, num_rows: int, as_bytes: bool
) -> Iterator[dict]:
    """Pivot a struct's child columns, then zip them lazily into one
    dict per row."""
    if not schema.fields:
        return ({} for _ in range(num_rows))
    values = [
        _column(c, f.dataType, as_bytes) for c, f in zip(columns, schema.fields)
    ]
    return map(dict, map(zip, repeat(schema.names), zip(*values)))


def _column(arr: Any, dt: DataType, as_bytes: bool) -> list:
    """One Arrow column as the Python values ``Row.asDict(recursive=True)``
    holds for it. Structs, arrays and maps recurse through their child
    columns (list offsets are absolute into the unsliced child)."""
    if not len(arr):
        return []  # Arrow Java may leave an empty list's offsets unwritten
    if isinstance(dt, StructType):
        children = [arr.field(i) for i in range(len(dt.fields))]
        values = list(_dicts(dt, children, len(arr), as_bytes))
    elif isinstance(dt, (ArrayType, MapType)):
        offsets = arr.offsets.to_numpy()
        start, end = int(offsets[0]), int(offsets[-1])
        spans = pairwise((offsets - start).tolist())
        if isinstance(dt, ArrayType):
            items = _column(
                arr.values.slice(start, end - start), dt.elementType, as_bytes
            )
            values = [items[a:b] for a, b in spans]
        else:
            keys = _leaf(arr.keys.slice(start, end - start), dt.keyType, as_bytes)
            items = _column(
                arr.items.slice(start, end - start), dt.valueType, as_bytes
            )
            values = [dict(zip(keys[a:b], items[a:b])) for a, b in spans]
    else:
        return _leaf(arr, dt, as_bytes)
    if arr.null_count:
        for i in arr.is_null().to_numpy(zero_copy_only=False).nonzero()[0].tolist():
            values[i] = None
    return values


def _leaf(arr: Any, dt: DataType, as_bytes: bool) -> list:
    """Python values of a column that is not pivoted through children
    (map keys included: a struct key stays a hashable ``Row``)."""
    if isinstance(dt, TimestampType):
        # UTC micros → local naive datetime through the Row path's own
        # fromInternal: astimezone() would drop fold=1 in a repeated DST hour
        return list(map(dt.fromInternal, arr.cast("int64").to_pylist()))
    if arr.null_count == 0 and isinstance(dt, _NUMPY_TYPES):
        return arr.to_numpy(zero_copy_only=False).tolist()
    values = arr.to_pylist()
    conv = ArrowTableToRowsConversion._create_converter(
        dt, none_on_identity=True, binary_as_bytes=as_bytes
    )
    return values if conv is None else list(map(conv, values))
