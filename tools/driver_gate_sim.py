"""Full driver-gate simulation: a VANILLA SparkSession (none of our
session-factory configs), entry() smoke check, then every registered
query compared against its DuckDB oracle at sf0.01 — the exact shape
of the grading driver's correctness pass, in one fresh process.

    python tools/driver_gate_sim.py [sf_dir[,sf_dir...]] [slice | name ...]

Each sf dir in the comma-separated list gets its own pass.  ``slice``
(e.g. ``0:50`` or ``50:100``) restricts the run to that window of
registry order — the shape of one driver round's 50-entry check
window, for pre-verifying an upcoming window exactly; op names
restrict it to those ops (a spot check at one or more SFs).
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sfs = (args[0] if args else "/root/testdata/sf0.01").split(",")
    import __spark_entry__ as e
    from tests.oracle_harness import compare, duckdb_conn

    qs, osql = e.queries(), e.oracle_sql()
    sel = args[1:]
    if len(sel) == 1 and re.fullmatch(r"\d*:\d*", sel[0]):
        a, _, b = sel[0].partition(":")
        names = list(qs)[int(a or 0): int(b) if b else None]
    elif sel:
        unknown = [n for n in sel if n not in qs]
        if unknown:
            sys.exit(f"unknown ops: {unknown}")
        names = sel
    else:
        names = list(qs)
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "10g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    rows = e.entry(spark).collect()
    print(f"entry(): {len(rows)} rows", flush=True)
    bad = 0
    for sf in sfs:
        con = duckdb_conn(sf)
        t0 = time.monotonic()
        fails = 0
        for i, name in enumerate(names, 1):
            try:
                r = compare(name, qs[name](spark, sf), osql[name], con)
                if not r.ok:
                    fails += 1
                    print(f"[{i}/{len(names)}] FAIL {name}: {r.detail}", flush=True)
            except Exception as exc:  # noqa: BLE001
                fails += 1
                print(f"[{i}/{len(names)}] ERR {name}: {exc}", flush=True)
        wall = time.monotonic() - t0
        print(
            f"driver-gate sim {os.path.basename(sf)}: "
            f"{len(names) - fails}/{len(names)} green in {wall:.0f}s",
            flush=True,
        )
        bad += fails
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
