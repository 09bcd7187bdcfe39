"""Bench-style isolated timing for named ops: warm session, noop sink,
best-of-N adjacent runs (same methodology as bench.py pass 2).  The one
timing loop of the repo; ``tools/ab.py`` runs it once per variant.

    python tools/time_ops.py [-nN] [--sf DIR[,DIR...]] name [name ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, else sf0.1.  Prints one
``cpu_calibration`` line, then one line per (sf, op).  Scale timing
passes ``tools/replicate_10x.py``'s source dir and its 10x copy, e.g.
``--sf SRC_DIR,/tmp/sf0.01_x10``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_TABLES = ("lineitem", "documents", "embeddings", "events", "orders")


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibrate(spark) -> float:
    """Best-of-3 whole-stage-codegen range sum: data-independent, so
    its drift across runs is host CPU drift, not plan drift."""
    cal = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        _sink(spark.range(1 << 31).selectExpr("sum(id) AS s"))
        cal = min(cal, time.monotonic() - t0)
    return cal


def warm(spark, sf: str) -> None:
    """Scan ``sf``'s big tables once and start the Python workers, as
    bench.py does before it times anything."""
    from pyspark.sql import functions as F

    from parquet_batch_spark.catalog import load

    for t in WARM_TABLES:
        _sink(load(spark, sf, t).select(F.count(F.lit(1))))
    _sink(
        spark.range(spark.sparkContext.defaultParallelism).mapInArrow(
            lambda it: it, "id long"
        )
    )


def time_ops(spark, sf_dirs, names, n: int = 2) -> list[tuple[str, str, float]]:
    """Time each op best-of-``n`` per sf dir, after warming that dir;
    returns ``(sf_dir, name, best_s)`` per (sf, op)."""
    from parquet_batch_spark.operators import all_queries

    qs = all_queries()
    out = []
    for sf in sf_dirs:
        warm(spark, sf)
        for name in names:
            runs = []
            for _ in range(n):
                t0 = time.monotonic()
                _sink(qs[name](spark, sf))
                runs.append(round(time.monotonic() - t0, 3))
            print(
                f"{os.path.basename(sf)} {name}: best {min(runs):.3f}  runs {runs}",
                flush=True,
            )
            out.append((sf, name, min(runs)))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("-n", type=int, default=2, help="adjacent runs per op")
    ap.add_argument("--sf", default=SF_DIR, help="comma-separated sf dirs")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    from parquet_batch_spark.session import get_spark

    spark = get_spark("time_ops")
    sf_dirs = args.sf.split(",")
    # calibrate on a warm JVM, as bench.py and older time_ops do, so
    # ab.py's cal column compares across checkouts
    warm(spark, sf_dirs[0])
    print(f"cpu_calibration {calibrate(spark):.3f}", flush=True)
    time_ops(spark, sf_dirs, args.names, args.n)


if __name__ == "__main__":
    main()
