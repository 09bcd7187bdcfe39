"""Capture ``explain("formatted")`` for named registry queries.

    python tools/capture_plan.py <out_dir> <suffix> <name> [name ...]

Writes ``<out_dir>/<name>_<suffix>.txt`` per query.  For operators
whose Python body runs driver-side greedy loops (facility location,
k-center, geometric median) the returned DataFrame is only the final
``createDataFrame``, so their per-round job plans are not captured.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    from parquet_batch_spark.operators import all_queries
    from parquet_batch_spark.plans.inspect import explain_formatted
    from parquet_batch_spark.session import get_spark

    spark = get_spark("capture_plan")
    qs = all_queries()
    for name in names:
        txt = explain_formatted(qs[name](spark, SF_DIR))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)", flush=True)


if __name__ == "__main__":
    main()
