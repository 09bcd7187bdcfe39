"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores),
but every config here is chosen to also be the right default on a
1000-executor cluster reading ~100 TB:

- AQE on (runtime partition coalescing, skew-join splitting) so shuffle
  partition counts self-tune with real data sizes.
- UTC session timezone so results are oracle-comparable (DuckDB
  timestamps are naive/UTC).
- Arrow-accelerated Python interchange for the Pandas-UDF slow path.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark's
  default wraps every ``F.col`` call and ``Column`` operator in a
  call-site capture (an active-session lookup, a conf read, a JVM
  origin set and clear, a Python stack walk that imports IPython and
  retries ``import ipykernel``).  That is most of the Python→JVM round
  trips of building a DataFrame (``F.col``: 13 → 3 round trips,
  ``col % 7``: 11 → 1) and loads IPython into the driver when it is
  installed.  The cost: a Python-side error from DataFrame code no
  longer names the Python line that built the failing expression (the
  JVM query context stays).  It is a static conf, so it only reaches
  a session this factory starts; a session built elsewhere (the one a
  caller hands to ``__spark_entry__.entry``) keeps PySpark's default.
  Turn it back on with
  ``SPARK_GRAFT_CONF="spark.python.sql.dataFrameDebugging.enabled=true"``.

Local-mode assumption (ADVICE r12): operators use
``DataFrame.localCheckpoint`` to truncate iterative/shared-subtree
lineage.  Local checkpoints live in non-replicated executor-local
blocks — correct and cheap on the ``local[n]`` deployments this
engine targets, but on a multi-executor cluster an executor loss
makes an in-flight query fail unrecoverably; a cluster deployment
should swap those sites to reliable ``checkpoint()`` (or persisted
tables) via a shared wrapper if that failure mode matters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(app_name: str = "parquet_batch_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters mirror what a cluster deployment would set via
    spark-submit; only local-mode knobs live here.
    """
    cpus = cpus or _DEF_CPUS
    # Shuffle partitions track the ACTUAL worker count when it is
    # explicit (the $SPARK_GRAFT_CPUS contract — the driver also runs
    # at a lower core count, where planning os.cpu_count() tasks per
    # stage is pure scheduling overhead); "*" keeps the machine size.
    n_shuffle = int(cpus) if str(cpus).isdigit() else (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
        # type for; read as raw nanos and convert in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # static: call-site capture per Column call (see module doc)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Deployment-tuning hook: ``SPARK_GRAFT_CONF="k=v;k=v"`` applies
    # LAST, so any default above can be overridden per environment
    # (cluster submit, config sweeps) without code edits.
    extra = os.environ.get("SPARK_GRAFT_CONF", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
