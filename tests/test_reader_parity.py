"""Reference-parity tests for the reader facade.

Mirrors the reference's test matrix (FIXTURES.md §A; reference
tests/test_parquetbatch.py:275-330): single exact-fit file, multi-file
even, multi-file uneven (short final batch), nested types — but with
DISTINCT rows per batch (the reference's generator emits identical
rows due to its aliasing bug, tests/test_parquetbatch.py:154; we assert
the documented per-row semantics instead, SURVEY.md §0.1) and full
row-by-row golden checks, not just first/last/count.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_batch_spark.sources import ParquetReader, from_dataset, from_path
from parquet_batch_spark.sources.writer import write_parquet


def _mixed_rows(n: int):
    """Deterministic mixed/nested rows shaped like the reference's
    generator menu (string/int/float/struct/list<struct>)."""
    rows = []
    for i in range(n):
        base = i - n // 2
        rows.append(
            {
                "f_str": f"string_field_{i}",
                "f_int": base,
                "f_float": base / 3.0,
                "f_struct": {
                    "sub_str": f"sub_{i}",
                    "sub_int": i,
                    "sub_float": i / 3.0,
                    "sub_list": list(range(1 + i % 9)),
                },
                "f_list_struct": [
                    {"s": f"elem_{i}_{j}", "v": i * 10 + j} for j in range(1 + i % 4)
                ],
            }
        )
    return rows


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it fired, read from its
    job group once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"reader-{next(_GROUPS)}"
    sc.setJobGroup(group, "reader")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_fixture(tmpdir: str, total: int, rows_per_file: int) -> str:
    rows = _mixed_rows(total)
    table = pa.Table.from_pylist(rows)
    import os

    os.makedirs(tmpdir, exist_ok=True)
    for fi, start in enumerate(range(0, total, rows_per_file)):
        chunk = table.slice(start, rows_per_file)
        pq.write_table(chunk, f"{tmpdir}/part-{fi:03d}.parquet")
    return tmpdir


@pytest.mark.parametrize(
    "total,per_file",
    [(12, 12), (30, 10), (27, 10)],  # exact-fit / even / uneven short-final
    ids=["single-exact", "multi-even", "multi-uneven"],
)
def test_roundtrip_all_rows(spark, tmp_path, total, per_file):
    path = _write_fixture(str(tmp_path / "ds"), total, per_file)
    reader = from_path(spark, path)
    got = sorted(
        reader.get_rows(["f_str", "f_int", "f_float", "f_struct", "f_list_struct"]),
        key=lambda r: r["f_int"],
    )
    want = _mixed_rows(total)
    assert len(got) == total
    # full golden check, including nested struct/list fidelity
    for g, w in zip(got, want):
        assert g == w
    # the reference's own checks (first/last/count) hold a fortiori
    assert got[0] == want[0] and got[-1] == want[-1]


def test_rows_are_distinct_objects(spark, tmp_path):
    """Anti-regression for the reference's aliasing bug (reader.py:55):
    every yielded row must be an independent dict with its own values."""
    path = _write_fixture(str(tmp_path / "ds"), 3, 3)
    rows = list(from_path(spark, path).get_rows(["f_int"]))
    assert len({id(r) for r in rows}) == 3
    assert sorted(r["f_int"] for r in rows) == [-1, 0, 1]


def test_projection_only_selected_columns(spark, tmp_path):
    path = _write_fixture(str(tmp_path / "ds"), 10, 10)
    rows = list(from_path(spark, path).get_rows(["f_str", "f_int"]))
    assert set(rows[0].keys()) == {"f_str", "f_int"}


def test_filter_passthrough(spark, tmp_path):
    """Reference O9: filter= kwarg reaches the scan."""
    path = _write_fixture(str(tmp_path / "ds"), 20, 10)
    rows = list(
        from_path(spark, path).get_rows_with_args(
            columns=["f_int"], filter="f_int >= 5"
        )
    )
    assert sorted(r["f_int"] for r in rows) == list(range(5, 10))


_BATCH_CONF_KEYS = (
    "spark.sql.parquet.columnarReaderBatchSize",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)


def test_batch_size_maps_to_spark_conf(spark, tmp_path):
    """Arrow scan-tuning kwargs take effect via their Spark analogs
    (reference reader.py:93-96): batch_size sets the vectorized
    reader's columnarReaderBatchSize and the driver-side Arrow batch
    (maxRecordsPerBatch) for the scan's duration, and both are
    restored when the generator closes."""
    conf_key = "spark.sql.parquet.columnarReaderBatchSize"
    prior = spark.conf.get(conf_key, None)
    priors = {k: spark.conf.get(k, None) for k in _BATCH_CONF_KEYS}
    path = _write_fixture(str(tmp_path / "ds"), 5, 5)
    gen = from_path(spark, path).get_rows_with_args(columns=["f_int"], batch_size=2)
    first = next(gen)
    assert first is not None
    assert spark.conf.get(conf_key) == "2"
    assert all(spark.conf.get(k) == "2" for k in _BATCH_CONF_KEYS)
    gen.close()
    assert spark.conf.get(conf_key, None) == prior
    assert {k: spark.conf.get(k, None) for k in _BATCH_CONF_KEYS} == priors


def test_batch_size_bounds_driver_batches(spark, tmp_path, monkeypatch):
    """The driver decodes Arrow batches of at most batch_size rows."""
    import parquet_batch_spark.sources.reader as reader_mod

    sizes = []
    pivot = reader_mod._dicts

    def spy(schema, columns, num_rows, as_bytes):
        sizes.append(num_rows)
        return pivot(schema, columns, num_rows, as_bytes)

    monkeypatch.setattr(reader_mod, "_dicts", spy)
    path = _write_fixture(str(tmp_path / "ds"), 12, 12)
    rows = list(from_path(spark, path).get_rows_with_args(columns=["f_int"], batch_size=5))
    assert len(rows) == 12
    assert sizes == [5, 5, 2]


def test_early_abandon_restores_conf_and_releases_stream(spark, tmp_path):
    """Closing a half-read stream restores both batch confs and the
    session's split planning (minPartitionNum) and frees the JVM
    serving thread: the next full stream on the same session returns
    every row."""
    min_parts = "spark.sql.files.minPartitionNum"
    spark.conf.set(min_parts, "2")
    try:
        priors = {k: spark.conf.get(k, None) for k in (*_BATCH_CONF_KEYS, min_parts)}
        path = _write_fixture(str(tmp_path / "ds"), 30, 10)
        reader = from_path(spark, path)
        gen = reader.get_rows_with_args(batch_size=3, prefetch_partitions=True)
        for _row in gen:
            break
        gen.close()
        assert {k: spark.conf.get(k, None) for k in priors} == priors
        rows = sorted(reader.get_rows_with_args(), key=lambda r: r["f_int"])
        assert rows == _mixed_rows(30)
        assert spark.conf.get(min_parts) == "2"
    finally:
        spark.conf.unset(min_parts)


def test_stream_runs_one_job_per_max_partition_bytes_split(spark, tmp_path):
    """A single driver consumes the stream serially, so the scan is
    planned for one consumer: three small files pack into one split
    and stream in exactly one Spark job (with one split per core,
    local[4] would run three)."""
    path = _write_fixture(str(tmp_path / "ds"), 30, 10)
    reader = from_path(spark, path)
    for prefetch in (True, False):
        rows, jobs = _jobs(
            spark,
            lambda p=prefetch: list(reader.get_rows_with_args(prefetch_partitions=p)),
        )
        assert len(rows) == 30
        assert jobs == 1


def test_from_path_infers_schema_once_per_dataset_version(spark, tmp_path):
    """A second ``from_path`` of unchanged files fires no inference
    job; rewriting one file, passing different reader options or
    changing a schema conf infers again, and a glob infers every
    time."""
    path = _write_fixture(str(tmp_path / "ds"), 30, 10)

    def read(**options):
        return _jobs(spark, lambda: from_path(spark, path, mergeSchema="true", **options))

    _, jobs = read()
    assert jobs
    reader, jobs = read()
    assert not jobs
    assert "f_new" not in reader.df.columns
    assert len(list(reader.get_rows(["f_int"]))) == 30

    # one file rewritten in place, with an added column
    table = pq.read_table(f"{path}/part-001.parquet")
    table = table.append_column("f_new", pa.array(range(10), pa.int64()))
    pq.write_table(table, f"{path}/part-001.parquet")
    reader, jobs = read()
    assert jobs
    got = [r["f_new"] for r in reader.get_rows(["f_new"])]
    assert sorted(v for v in got if v is not None) == list(range(10))
    _, jobs = read()
    assert not jobs

    # the same files under different reader options
    _, jobs = read(pathGlobFilter="*.parquet")
    assert jobs
    _, jobs = read(pathGlobFilter="*.parquet")
    assert not jobs

    # ... or under a session conf that changes the inferred schema
    def columns():
        return from_path(spark, path).df.columns

    assert _jobs(spark, columns)[1] and not _jobs(spark, columns)[1]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        merged, jobs = _jobs(spark, columns)
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert jobs and "f_new" in merged

    # a glob is not listed locally: no fingerprint, so every call infers
    glob = f"{path}/part-*.parquet"
    assert all(_jobs(spark, lambda: from_path(spark, glob))[1] for _ in range(2))


def test_use_threads_warns_no_analog(spark, tmp_path):
    import warnings

    path = _write_fixture(str(tmp_path / "ds"), 5, 5)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = list(
            from_path(spark, path).get_rows_with_args(
                columns=["f_int"], use_threads=False, fragment_readahead=1
            )
        )
    assert len(rows) == 5
    assert any("no Spark analog" in str(w.message) for w in caught)


def test_from_path_accepts_pathlike(spark, tmp_path):
    """from_path takes os.PathLike paths, alone or in a list, as the
    reference's ``ds.dataset`` does."""
    _write_fixture(str(tmp_path / "ds"), 8, 4)
    single = list(from_path(spark, tmp_path / "ds").get_rows(["f_int"]))
    assert sorted(r["f_int"] for r in single) == list(range(-4, 4))
    files = sorted((tmp_path / "ds").glob("*.parquet"))
    assert len(files) == 2
    listed = list(from_path(spark, files).get_rows(["f_int"]))
    assert len(listed) == 8


def test_from_path_reader_options(spark, tmp_path):
    """from_path forwards DataFrameReader options, so the reference's
    exclude_invalid_files / ignore_prefixes convenience works without
    dropping to from_dataset."""
    path = _write_fixture(str(tmp_path / "ds"), 8, 4)
    with open(f"{path}/junk.txt", "w") as fh:
        fh.write("not parquet")
    rows = list(
        from_path(
            spark, path, pathGlobFilter="*.parquet", ignoreCorruptFiles="true"
        ).get_rows(["f_int"])
    )
    assert len(rows) == 8


def test_from_dataset_preconfigured(spark, tmp_path):
    """Reference O3: caller-configured source (explicit schema +
    corrupt-file tolerance)."""
    path = _write_fixture(str(tmp_path / "ds"), 8, 4)
    # drop a decoy file that pathGlobFilter must exclude
    with open(f"{path}/junk.txt", "w") as fh:
        fh.write("not parquet")
    df = (
        spark.read.option("pathGlobFilter", "*.parquet")
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
    )
    rows = list(from_dataset(df).get_rows(["f_int"]))
    assert len(rows) == 8


def test_writer_max_records_per_file(spark, tmp_path):
    """Reference O10 (write path): max_rows_per_file → multi-file
    dataset; read-back preserves all rows."""
    import glob

    df = spark.range(100).selectExpr("id", "id * 2 AS dbl")
    out = str(tmp_path / "out")
    write_parquet(df, out, max_records_per_file=30, n_files=1)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == 4  # 30+30+30+10
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert sorted(r["dbl"] for r in back.collect()) == [2 * i for i in range(100)]


def test_writer_partition_by(spark, tmp_path):
    """Hive-partitioned write → partition pruning on read (the scale
    feature the reference lacks; SURVEY.md §4 'partition pruning')."""
    df = spark.range(40).selectExpr("id", "CAST(id % 4 AS INT) AS bucket")
    out = str(tmp_path / "parted")
    write_parquet(df, out, partition_by=["bucket"])
    pruned = spark.read.parquet(out).filter("bucket = 2")
    assert pruned.count() == 10
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "bucket" in plan


def test_hidden_and_corrupt_files_excluded(spark, sf_dir, tmp_path):
    """Reference O3 parity (exclude_invalid_files=True +
    ignore_prefixes=['.', '_'], /root/reference/tests/
    test_parquetbatch.py:392-398): Spark's parquet source skips
    dot/underscore-prefixed files by default, and ignoreCorruptFiles
    drops unreadable ones instead of failing the scan."""
    from parquet_batch_spark.catalog import load

    src = load(spark, sf_dir, "region")
    d = tmp_path / "ds"
    src.write.parquet(str(d))
    n = src.count()
    # hidden + metadata-prefixed + corrupt junk alongside real data
    (d / ".hidden.parquet").write_bytes(b"not parquet at all")
    (d / "_metadata_junk.parquet").write_bytes(b"junk")
    (d / "corrupt.parquet").write_bytes(b"PAR1 but not really")

    # the reference's expert path passes an explicit schema alongside
    # exclude_invalid_files (test_parquetbatch.py:392-398) — same here,
    # since schema inference would otherwise die on the corrupt footer
    back = (
        spark.read.schema(src.schema)
        .option("ignoreCorruptFiles", True)
        .parquet(str(d))
    )
    assert back.count() == n


# ---------------------------------------------------------------- type matrix
# The Arrow stream must yield exactly what the Row path yields:
# ``[r.asDict(recursive=True) for r in df.collect()]``, compared by repr
# (so bytes vs bytearray, int vs float, Decimal scale and NaN all count).

_MATRIX_DDL = (
    "k INT, f_bool BOOLEAN, f_byte TINYINT, f_short SMALLINT, f_int INT, "
    "f_long BIGINT, f_float FLOAT, f_double DOUBLE, f_dec DECIMAL(12,3), "
    "f_dec_wide DECIMAL(38,18), f_str STRING, f_bin BINARY, f_date DATE, "
    "f_ts TIMESTAMP, f_ts_ntz TIMESTAMP_NTZ, "
    "f_struct STRUCT<a: INT, b: STRING, inner: STRUCT<x: DOUBLE, ts: TIMESTAMP, "
    "raw: BINARY>>, "
    "f_arr_struct ARRAY<STRUCT<s: STRING, v: BIGINT>>, "
    "f_arr_int ARRAY<INT>, f_arr_arr ARRAY<ARRAY<STRING>>, "
    "f_map MAP<STRING, STRUCT<p: INT, q: BINARY>>, "
    "f_map_struct_key MAP<STRUCT<id: INT, tag: STRING>, DOUBLE>"
)


def _matrix_rows(n: int) -> list[tuple]:
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import Row

    base_ts = dt.datetime(2021, 3, 14, 1, 59, 26, 535897)
    rows = []
    for i in range(n):
        nul = i % 5 == 0  # every fifth row nulls the scalar columns
        ts = base_ts + dt.timedelta(days=37 * i, microseconds=i)
        if i == 7:  # 01:30 EST, the repeated hour in America/New_York: fold=1
            ts = dt.datetime(2021, 11, 7, 6, 30, tzinfo=dt.timezone.utc)
        rows.append(
            (
                i,
                None if nul else i % 2 == 0,
                None if nul else (i % 256) - 128,
                None if nul else i * 97 - 3000,
                None if nul else i * 7919 - 50_000,
                None if nul else (i - n // 2) * 10**12 + 7,
                None if nul else (float("nan") if i % 7 == 0 else i / 7.0),
                None if nul else (float("nan") if i % 3 == 0 else -i / 3.0),
                None if nul else Decimal(i * 1001 - 20_000).scaleb(-3),
                None if nul else (Decimal(0) if i % 4 == 0 else Decimal(i).scaleb(-18)),
                None if nul else f"str_{i}_é",
                None if nul else bytes([i % 256, 0, 255]),
                None if nul else dt.date(1969, 12, 31) + dt.timedelta(days=i * 11),
                None if nul else ts,
                None if nul else ts,
                None
                if i % 6 == 1
                else Row(
                    a=None if nul else i,
                    b=f"b{i}",
                    inner=None
                    if i % 4 == 2
                    else Row(x=i / 9.0, ts=None if nul else ts, raw=bytes([i % 256])),
                ),
                None
                if i % 6 == 2
                else [
                    None if j == 1 and i % 3 == 0 else Row(s=f"e{i}.{j}", v=None if j == 2 else i * j)
                    for j in range(i % 4)
                ],
                None if i % 6 == 3 else [None if j % 3 == 1 else j for j in range(i % 5)],
                None
                if nul
                else [[f"{i}.{j}.{m}" for m in range(j)] if j != 2 else None for j in range(i % 4)],
                None
                if i % 6 == 4
                else {
                    f"m{j}": None if j == 1 else Row(p=j, q=None if j == 2 else bytes([j]))
                    for j in range(i % 4)
                },
                None if nul else {Row(id=j, tag=None if j else "t"): j / 2.0 for j in range(i % 3)},
            )
        )
    return rows


@pytest.fixture(scope="module")
def matrix_path(spark, tmp_path_factory):
    """The type matrix written as several parquet files (several scan
    partitions)."""
    path = str(tmp_path_factory.mktemp("matrix") / "ds")
    df = spark.createDataFrame(_matrix_rows(60), _MATRIX_DDL)
    df.repartition(3).write.option("maxRecordsPerFile", 11).parquet(path)
    return path


@pytest.fixture
def local_tz():
    """Run with a non-UTC local zone (with DST), so TimestampType
    values must be converted to local naive datetimes as the Row path
    does."""
    import os
    import time

    prior = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if prior is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = prior
    time.tzset()


def _row_path(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


_MAP_COLS = ("f_map", "f_map_struct_key")


def _by_key(rows) -> list[dict]:
    """Rows ordered by ``k``, each map's entries ordered by key: the
    Row path yields map entries in JVM HashMap order, the stream in
    stored order, and neither order is part of the contract."""
    out = []
    for row in sorted(rows, key=lambda r: r["k"]):
        for c in _MAP_COLS:
            if row.get(c) is not None:
                row[c] = dict(sorted(row[c].items(), key=lambda kv: repr(kv[0])))
        out.append(row)
    return out


@pytest.mark.parametrize(
    "conf",
    [
        {},
        {"spark.sql.execution.pyspark.binaryAsBytes": "false"},
        {"spark.sql.execution.arrow.useLargeVarTypes": "true"},
    ],
    ids=["default", "binary-as-bytearray", "large-var-types"],
)
def test_type_matrix_equals_row_path(spark, matrix_path, local_tz, conf):
    """Full width, every type, under the session confs that change
    the Row path's values (binaryAsBytes) or the Arrow encoding
    (useLargeVarTypes)."""
    priors = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(matrix_path)
        assert df.rdd.getNumPartitions() > 1
        want = _by_key(_row_path(df))
        got = _by_key(from_path(spark, matrix_path).get_rows_with_args())
    finally:
        for k, v in priors.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert len(got) == 60
    assert repr(got) == repr(want)


def test_map_entries_keep_stored_order(spark, tmp_path):
    path = str(tmp_path / "maps")
    spark.sql("SELECT map('z', 1, 'a', 2, 'm', 3) AS m").write.parquet(path)
    (row,) = from_path(spark, path).get_rows(["m"])
    assert list(row["m"]) == ["z", "a", "m"]


@pytest.mark.parametrize("prefetch", [True, False], ids=["prefetch", "no-prefetch"])
def test_type_matrix_prefetch_and_batch_size(spark, matrix_path, local_tz, prefetch):
    """Multi-partition input, small driver batches, prefetch on/off.
    ``maxPartitionBytes`` is lowered to the largest file's size, so
    every file is its own split and the stream runs one job each."""
    import os

    df = spark.read.parquet(matrix_path)
    want = _by_key(_row_path(df))
    largest = max(
        os.path.getsize(os.path.join(matrix_path, f))
        for f in os.listdir(matrix_path)
        if f.endswith(".parquet")
    )
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(largest))
    try:
        rows, jobs = _jobs(
            spark,
            lambda: list(
                from_path(spark, matrix_path).get_rows_with_args(
                    batch_size=4, prefetch_partitions=prefetch
                )
            ),
        )
    finally:
        spark.conf.set(key, prior)
    assert jobs > 1
    assert repr(_by_key(rows)) == repr(want)


def test_type_matrix_projection_and_filter(spark, matrix_path, local_tz):
    cols = ["k", "f_ts", "f_struct", "f_map"]
    df = spark.read.parquet(matrix_path).filter("k % 2 = 1").select(*cols)
    want = _by_key(_row_path(df))
    got = _by_key(
        from_path(spark, matrix_path).get_rows_with_args(columns=cols, filter="k % 2 = 1")
    )
    assert len(got) == 30
    assert repr(got) == repr(want)


def test_zero_column_projection_yields_empty_dicts(spark, matrix_path):
    rows = list(from_path(spark, matrix_path).get_rows_with_args(columns=[]))
    assert rows == [{}] * 60
    assert len({id(r) for r in rows}) == 60


def test_filter_matching_no_rows(spark, matrix_path):
    assert list(from_path(spark, matrix_path).get_rows_with_args(filter="k < 0")) == []


def test_ordered_dataset_streams_in_order(spark, matrix_path):
    """Partition order is kept: a globally sorted DataFrame streams in
    sort order."""
    df = spark.read.parquet(matrix_path).orderBy(F.col("k").desc())
    ks = [r["k"] for r in from_dataset(df).get_rows(["k"])]
    assert ks == list(range(59, -1, -1))
