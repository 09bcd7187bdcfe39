"""Repo benchmark for parquet_batch_spark.

Runs one workload at ``local[nproc]`` from the root of a checkout and
prints every metric by name with its unit, then one JSON line:

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics and writes the run's spans to
``.perfbench_work/traces/``.  Workloads (``llm_curation``,
``row_roundtrip``, and ``tpch_relational``, which BENCHMARK.json leaves
out), op lists and what each metric is expected to move are in
``perfbench/spec.json``.  Self-test: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import JobGroups, Recorder  # noqa: E402
from workloads import WORKLOADS, Failure  # noqa: E402


class Context:
    """What one run shares across its phases: the session, the span
    recorder, the job-group collector and the run's scratch space."""

    def __init__(self, root: str, work: str, seed: int, seconds: int, trace: bool):
        self.root, self.work = root, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.t_start = T_START
        self.cores = len(os.sched_getaffinity(0))
        self.run_id = uuid.uuid4().hex[:12]
        self.rec = Recorder(self.run_id, enabled=trace)
        self.spark = None

    def start_session(self) -> None:
        from parquet_batch_spark.session import get_spark

        with self.rec.span("start", "session") as sp:
            self.spark = get_spark(cpus=str(self.cores))
        self.start_s = sp.dur
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.groups = JobGroups(self.spark, self.run_id, collect=self.trace)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)


def fmt(v) -> str:
    return str(v) if isinstance(v, int) else repr(float(v))


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(HERE, "spec.json")) as f:
        full_spec = json.load(f)
    spec, per_layer = full_spec["workloads"], full_spec["per_layer"]
    printed_only = {k for k, m in full_spec["end_to_end"].items() if m.get("printed_only")}
    ap = argparse.ArgumentParser(description="parquet_batch_spark repo benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(spec))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "parquet_batch_spark", "__init__.py")):
        print("perfbench: parquet_batch_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Keep Spark's block manager and every temp file inside the checkout;
    # the JVM keeps its perf counters in memory instead of /tmp.  cpu_s
    # subtracts the CPU time of live JIT compiler threads, so they are
    # kept alive: one that exits mid-pass would leave seconds of JIT
    # time counted in cpu_s.  The heap starts at a quarter of RAM and
    # never shrinks: left to adapt, G1 sometimes settled on a heap so
    # small that GC threads burned 4 s of CPU in a 7 s pass.
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:+PerfDisableSharedMem",
                      "-XX:-UseDynamicNumberOfCompilerThreads",
                      "-XX:InitialRAMPercentage=25", "-XX:MaxHeapFreeRatio=100"]))
    # Default engine config: no deployment overrides.
    os.environ.pop("SPARK_GRAFT_CONF", None)
    os.environ.pop("SPARK_GRAFT_CPUS", None)

    ctx = Context(root, work, args.seed, args.seconds, bool(args.trace))
    wl = WORKLOADS[args.workload](ctx, spec[args.workload])
    try:
        wl.run()
        if args.trace:
            # A layer the workload never calls did no work: report 0.
            metrics = {name: (0, m["unit"]) for name, m in per_layer.items()}
            metrics.update(wl.per_layer())
            notes = []
            path = os.path.join(root, ".perfbench_work", "traces",
                                f"{args.workload}-seed{args.seed}-{ctx.run_id}.json")
            ctx.rec.dump(path, {"workload": args.workload, "seed": args.seed,
                                "passes": wl.passes, "failures": wl.failures})
            notes.append(f"spans written to {os.path.relpath(path, root)}")
        else:
            metrics, notes = wl.end_to_end()
    except Failure as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 1
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)

    for f in wl.failures:
        print(f"FAILED {f}", file=sys.stderr)
    for i, p in enumerate(wl.passes):
        print(f"pass {i}{' (traced)' if p['traced'] else ''}: wall_s = {p['wall_s']:.4f} s, "
              f"cpu_s = {p['cpu_s']:.2f} s, "
              f"driver_peak_rss_mb = {p['driver_peak_rss_mb']:.1f} MB, "
              f"session.jvm_peak_rss_mb = {p['jvm_peak_rss_mb']:.1f} MB")
        for name, lat in zip(p.get("names", []), p["latencies"]):
            print(f"  op {name}: {lat:.4f} s")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {fmt(value)} {unit}")
    print(f"fail_ratio = {wl.failed / max(wl.attempted, 1)!r} ratio "
          f"({wl.failed} of {wl.attempted} ops failed or mis-checked)")
    for n in notes:
        print(n)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if k not in printed_only
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
