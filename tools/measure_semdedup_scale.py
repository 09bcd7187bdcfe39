"""Measure dedup_semantic_cluster at the 100x dup-dense fixture.

History: under raw-N sizing the sqrt-K rule read ~13x wall at 100x
(ROADMAP r10 scale table) because no K can split an exact-duplicate
group; r11's at-scale cap regime (cells ~= isqrt(N/100)) measured
8.6 s.  r12 (VERDICT r11 #4) collapses exact-duplicate vectors to one
representative BEFORE the quantizer and sizes K from the DISTINCT
count D, so the dup-dense fixture (N = 50,000 raw rows over D = 500
distinct vectors) never reaches the pair join with duplicate mass at
all — this script measures that claim on the PRODUCTION rule, no cap
emulation needed, plus a forced-cap sensitivity point.

    python tools/measure_semdedup_scale.py [x100_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_batch_spark.session import get_spark  # noqa: E402


def main() -> None:
    x100 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf0.01_x100"
    spark = get_spark("semdedup-scale")
    from parquet_batch_spark.catalog import count_table
    from parquet_batch_spark.operators import similarity as sim

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    # warm scans
    mat(sim.load(spark, x100, "embeddings"))
    n = count_table(spark, x100, "embeddings")

    def run(tag: str, cap: int) -> None:
        old = sim.SEM_MAX_CELL
        sim.SEM_MAX_CELL = cap
        try:
            best = float("inf")
            for _ in range(2):
                t0 = time.monotonic()
                mat(sim.dedup_semantic_cluster(spark, x100))
                best = min(best, time.monotonic() - t0)
            _, k, _d = sim._sem_centroids(spark, x100, cap)
            print(
                f"{tag:28s} N={n} K={k} wall={best:6.2f}s",
                flush=True,
            )
        finally:
            sim.SEM_MAX_CELL = old

    # the production rule, no emulation: K sizes from D = distinct mass
    run("distinct-K (production)", sim.SEM_MAX_CELL)
    # sensitivity: force the cap to bind on the distinct table too
    run("distinct-K (cap 20)", 20)


if __name__ == "__main__":
    main()
