"""The benchmark's workloads.

Every workload is a closed loop with one client: each op starts only
after the previous one finished.  Setup (session start, input
generation, a warm-up pass that also checks every output, and a second
warm-up pass) is untimed; the timed region runs whole passes over the
workload's ops.
The layers are timed from outside the package, around calls into its
public functions, each call under its own Spark job group.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from spans import Recorder, jit_thread_ticks, peak_rss_mb, rss_mb, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
DATAGEN = os.path.join(HERE, "datagen.py")
ROWS = 30_000  # row_roundtrip input: 3 files of 10k rows
PROJECTED = ["field_1", "field_5", "field_7"]


class Failure(Exception):
    pass


def op_order(ops: list[str], seed: int) -> list[str]:
    order = list(ops)
    random.Random(seed).shuffle(order)
    return order


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest nearest-rank percentile with at least ten samples
    beyond it.  Below 20 samples that percentile is under p50, so the
    maximum is reported instead and named as such."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], f"max of {n}"
    p = math.floor(100 * (n - 10) / n)
    return s[math.ceil(p * n / 100) - 1], f"p{p} of {n}"


def start_session_with_inputs(ctx, kind: str, out: str, *extra: str) -> None:
    """Generate inputs in a child process while the JVM starts, so the
    generator neither adds to set-up time serially nor to this
    process's peak RSS."""
    cmd = [sys.executable, DATAGEN, kind, out, "--seed", str(ctx.seed), *extra]
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
    try:
        ctx.start_session()
    finally:
        rc = proc.wait()
    if rc != 0:
        raise Failure(f"input generation failed: {' '.join(cmd)}")


def plan_shape(plan: str) -> dict[str, int]:
    """Parquet scans, scans beyond one per distinct table, and
    exchanges in a physical plan string."""
    scans: list[str] = []
    exchanges = 0
    for line in plan.splitlines():
        m = re.match(r"^[\s:|+\-]*(\w+)", line)
        if not m:
            continue
        node = m.group(1)
        if node == "FileScan" and " parquet " in line:
            loc = re.search(r"Location: \w+(?:\([^)]*\))?\[([^\],]*)", line)
            scans.append(os.path.basename(loc.group(1)) if loc else "?")
        elif node.endswith("Exchange") and not node.startswith("Reused"):
            exchanges += 1
    return {
        "parquet_scans": len(scans),
        "excess_scans": len(scans) - len(set(scans)),
        "exchanges": exchanges,
    }


def _load_oracle_harness(root: str):
    """The repo's DuckDB oracle comparison, imported read-only by path
    (``tests`` is not an installed package)."""
    path = os.path.join(root, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module
    spec.loader.exec_module(mod)
    return mod


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared run skeleton: setup, the timed passes, metrics."""

    def __init__(self, ctx, spec: dict):
        self.ctx = ctx
        self.spec = spec
        self.rec: Recorder = ctx.rec
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []  # one record per timed pass

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    # -- timed region ---------------------------------------------------
    def n_passes(self) -> int:
        return max(1, round(self.ctx.seconds / self.spec["nominal_pass_s"]))

    def run(self) -> None:
        self.setup()
        # One more untimed pass on fresh inputs: after the checking pass
        # the JIT compiler is still busy, which made a first timed pass
        # noisy.  It is not traced, so it adds no spans or counters.
        rec, groups = self.rec, self.ctx.groups
        rec.enabled = groups.collect = False
        t0 = time.perf_counter()
        self.one_pass(0)
        self.warm_s += time.perf_counter() - t0
        rec.enabled = groups.collect = self.ctx.trace
        self.setup_s = time.perf_counter() - self.ctx.t_start
        for i in range(1, self.n_passes() + 1):
            # JIT compilation is warm-up that outlives the warm-up passes
            # and made pass CPU time vary by a third: leave it out.
            before, cpu0 = groups.collect_s, tree_cpu_s()
            jit0 = jit_thread_ticks(self.ctx.jvm_pid)
            with rec.span(f"pass{i}", "bench") as sp:
                result = self.one_pass(i)
            jit1 = jit_thread_ticks(self.ctx.jvm_pid)
            jit_s = sum(t - jit0.get(tid, 0) for tid, t in jit1.items()) / os.sysconf("SC_CLK_TCK")
            result.update(
                traced=self.ctx.trace,
                wall_s=sp.dur,
                cpu_s=tree_cpu_s() - cpu0 - jit_s,
                collect_s=groups.collect_s - before,
                driver_peak_rss_mb=peak_rss_mb(),
                jvm_peak_rss_mb=peak_rss_mb(self.ctx.jvm_pid),
            )
            self.passes.append(result)

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> tuple[dict, list[str]]:
        ps = self.passes
        lat = [x for p in ps for x in p["latencies"]]
        tail_s, tail_name = tail(lat)
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (_median([p["wall_s"] for p in ps]), "s"),
            "cpu_s": (_median([p["cpu_s"] for p in ps]), "s"),
            "query_p50_s": (statistics.median(lat), "s"),
            "query_tail_s": (tail_s, "s"),
            "driver_peak_rss_mb": (peak_rss_mb(), "MB"),
        }
        notes = [f"query_tail_s is the {tail_name} per-op latency samples"]
        return metrics, notes

    def self_times(self) -> dict[str, float]:
        """Per-layer self time per traced pass; session layer from setup."""
        out: dict[str, float] = defaultdict(float)
        n = max(1, len(self.passes))
        for layer, t in self.rec.self_time_by_layer().items():
            out[layer] += t if layer == "session" else t / n
        return out

    def per_layer_common(self) -> dict:
        st = self.self_times()
        m = {
            "session.start_s": (self.ctx.start_s, "s"),
            "session.warm_s": (self.warm_s, "s"),
            "session.jvm_peak_rss_mb": (peak_rss_mb(self.ctx.jvm_pid), "MB"),
            # Compare with wall_s of an untraced run of the same workload.
            "trace.wall_s": (_median([p["wall_s"] for p in self.passes]), "s"),
            # Time a traced pass spends reading counters and plans.
            "trace.overhead_s": (
                _median([p["collect_s"] + p.get("plan_s", 0.0) for p in self.passes]), "s"
            ),
        }
        for layer in ("bench", "session", "operators.build", "operators.run", "plans",
                      "sources.reader", "sources.writer"):
            m[f"self_s.{layer}"] = (st.get(layer, 0.0), "s")
        return m


class QueryWorkload(Workload):
    """``tpch_relational`` and ``llm_curation``: registry ops, timed as
    build (the call that returns the DataFrame) then run (noop sink)."""

    def setup(self) -> None:
        ctx = self.ctx
        base = os.path.join(ctx.work, "base")
        start_session_with_inputs(ctx, "tables", base)
        from parquet_batch_spark.operators import all_oracles, all_queries

        self.queries, oracles = all_queries(), all_oracles()
        self.order = op_order(self.spec["ops"], ctx.seed)
        # llm_curation: every pass reads a fresh copy under a new path,
        # so path-keyed memos are cold on each pass.
        n_dirs = 2 + self.n_passes() if self.spec.get("fresh_copy_per_pass") else 1
        self.dirs = [base]
        for k in range(1, n_dirs):
            d = os.path.join(ctx.work, f"copy{k}")
            shutil.copytree(base, d)
            self.dirs.append(d)
        harness = _load_oracle_harness(ctx.root)
        con = harness.duckdb_conn(base)
        with self.rec.span("warm", "session") as sp:
            for name in self.order:
                self.attempted += 1
                try:
                    df = self.queries[name](ctx.spark, base)
                    res = harness.compare(name, df, oracles[name], con)
                except Exception as ex:  # noqa: BLE001 - a failing op is a result
                    self.fail(f"{name}: check raised {type(ex).__name__}: {ex}")
                    continue
                if not res.ok:
                    self.fail(f"{name}: {res.detail} {res.mismatches[:2]}")
        con.close()
        self.warm_s = sp.dur

    def one_pass(self, i: int) -> dict:
        ctx, rec = self.ctx, self.rec
        sf_dir = self.dirs[1 + i] if len(self.dirs) > 1 else self.dirs[0]
        latencies, ops, plan_s = [], [], 0.0
        for name in self.order:
            self.attempted += 1
            op = {"name": name}
            try:
                with rec.span(name, "bench"):
                    with ctx.groups.group(f"{name}/build") as g, rec.span("build", "operators.build") as sb:
                        df = self.queries[name](ctx.spark, sf_dir)
                    op["build"] = ctx.groups.counters(g)
                    if rec.enabled:
                        from parquet_batch_spark.plans.inspect import executed_plan

                        with rec.span("plan", "plans") as sp:
                            op["plan"] = plan_shape(executed_plan(df))
                        sp.attrs.update(op["plan"])
                        plan_s += sp.dur
                    with ctx.groups.group(f"{name}/run") as g, rec.span("run", "operators.run") as sr:
                        df.write.format("noop").mode("overwrite").save()
                    op["run"] = ctx.groups.counters(g)
                    sb.attrs.update(op["build"])
                    sr.attrs.update(op["run"])
            except Exception as ex:  # noqa: BLE001 - a failing op is a result
                self.fail(f"{name}: pass {i} raised {type(ex).__name__}: {ex}")
                continue
            op.update(build_s=sb.dur, run_s=sr.dur)
            latencies.append(sb.dur + sr.dur)
            ops.append(op)
        return {"latencies": latencies, "names": [o["name"] for o in ops], "ops": ops, "plan_s": plan_s}

    def per_layer(self) -> dict:
        m = self.per_layer_common()
        tr = self.passes

        def per_pass(fn):
            """Median over passes of a per-op quantity summed over a pass."""
            return _median([sum(fn(o) for o in p["ops"]) for p in tr])

        def count(phase, key):
            return per_pass(lambda o: o[phase].get(key, 0))

        build_s = per_pass(lambda o: o["build_s"])
        run_s = per_pass(lambda o: o["run_s"])
        cpu = count("run", "executor_cpu_s")
        m.update(
            {
                "operators.build_s": (build_s, "s"),
                "operators.build_jobs": (count("build", "jobs"), "count"),
                "operators.build_share": (build_s / max(build_s + run_s, 1e-9), "ratio"),
                "operators.run_s": (run_s, "s"),
                "operators.run_jobs": (count("run", "jobs"), "count"),
                "operators.run_stages": (count("run", "stages"), "count"),
                "operators.run_tasks": (count("run", "tasks"), "count"),
                "operators.executor_cpu_s": (cpu, "s"),
                "operators.executor_run_s": (count("run", "executor_run_s"), "s"),
                "operators.core_util": (cpu / max(run_s * self.ctx.cores, 1e-9), "ratio"),
                "operators.shuffle_write_bytes": (count("run", "shuffle_write_bytes"), "bytes"),
                "operators.shuffle_read_bytes": (count("run", "shuffle_read_bytes"), "bytes"),
                "operators.input_bytes": (count("run", "input_bytes"), "bytes"),
                "operators.failed_tasks": (
                    count("build", "failed_tasks") + count("run", "failed_tasks"), "count"
                ),
                "plans.parquet_scans": (per_pass(lambda o: o["plan"]["parquet_scans"]), "count"),
                "plans.excess_scans": (per_pass(lambda o: o["plan"]["excess_scans"]), "count"),
                "plans.exchanges": (per_pass(lambda o: o["plan"]["exchanges"]), "count"),
            }
        )
        return m


class RowDigest:
    """Row count plus an order-insensitive content hash: the sum of the
    rows' hashes.  Both sides yield dicts in schema order, and every
    digest of a run is taken in one process, so ``hash(repr(row))``
    is a stable per-row fingerprint."""

    def __init__(self):
        self.rows = 0
        self.total = 0

    def add(self, row: dict) -> None:
        self.total = (self.total + hash(repr(row))) & (2**64 - 1)
        self.rows += 1

    def key(self) -> tuple[int, int]:
        return self.rows, self.total


def arrow_digests(path: str, projected: list[str]) -> tuple[tuple, tuple]:
    """Full-width and projected digests of a pyarrow read, one batch
    at a time."""
    import pyarrow.dataset as ds

    full, proj = RowDigest(), RowDigest()
    for batch in ds.dataset(path, format="parquet").to_batches():
        for row in batch.to_pylist():
            full.add(row)
            proj.add({k: row[k] for k in projected})
    return full.key(), proj.key()


class RowRoundtrip(Workload):
    """``row_roundtrip``: the reference surface.  A pass writes the
    input with ``write_parquet`` and streams it twice through the row
    facade, once projected and once at full width."""

    def setup(self) -> None:
        ctx = self.ctx
        self.src = os.path.join(ctx.work, "in")
        start_session_with_inputs(ctx, "mixed", self.src, "--rows", str(ROWS))
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.src, f)) for f in os.listdir(self.src)
        )
        with self.rec.span("warm", "session") as sp:
            self.check_pass()
        self.warm_s = sp.dur

    def check_pass(self) -> None:
        """Warm-up pass that checks every output against a pyarrow
        read of the same files: row count and content hash."""
        from parquet_batch_spark.sources.reader import from_path
        from parquet_batch_spark.sources.writer import write_parquet

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, "out_check")
        want_full, want_proj = arrow_digests(self.src, PROJECTED)

        def write():
            write_parquet(spark.read.parquet(self.src), out, max_records_per_file=10_000)
            return arrow_digests(out, [])[0]

        checks = [
            ("write", write, want_full),
            ("stream_projected",
             lambda: self._digest(from_path(spark, self.src).get_rows(PROJECTED)), want_proj),
            ("stream_full",
             lambda: self._digest(from_path(spark, self.src).get_rows_with_args()), want_full),
        ]
        for name, fn, want in checks:
            self.attempted += 1
            try:
                got = fn()
            except Exception as ex:  # noqa: BLE001 - a failing op is a result
                self.fail(f"{name}: check raised {type(ex).__name__}: {ex}")
                continue
            if got != want:
                self.fail(f"{name}: (rows, hash) {got} != pyarrow {want}")
        shutil.rmtree(out, ignore_errors=True)

    @staticmethod
    def _digest(rows) -> tuple[int, int]:
        d = RowDigest()
        for row in rows:
            d.add(row)
        return d.key()

    def _stream(self, label: str, make_rows, layer_rec: dict) -> float:
        """Consume one stream; returns its duration."""
        ctx, rec = self.ctx, self.rec
        watch_rss = rec.enabled
        rss0 = rss_mb() if watch_rss else 0.0
        peak = rss0
        n = 0
        with ctx.groups.group(label) as g, rec.span(label, "sources.reader") as sp:
            rows = make_rows()
            first = None
            for _row in rows:
                n += 1
                if first is None:
                    first = time.perf_counter() - sp.start
                if watch_rss and n % 2000 == 0:
                    peak = max(peak, rss_mb())
        c = ctx.groups.counters(g)
        sp.attrs.update(c, rows=n, first_row_s=first)
        if n != ROWS:
            self.fail(f"{label}: streamed {n} rows, expected {ROWS}")
        layer_rec["rows"] += n
        layer_rec["jobs"] += c.get("jobs", 0)
        layer_rec["stream_s"] += sp.dur
        layer_rec["first_rows"].append(first or sp.dur)
        layer_rec["rss_growth"] = max(layer_rec["rss_growth"], peak - rss0)
        return sp.dur

    def one_pass(self, i: int) -> dict:
        from parquet_batch_spark.sources.reader import from_path
        from parquet_batch_spark.sources.writer import write_parquet

        ctx, rec = self.ctx, self.rec
        spark = ctx.spark
        out = os.path.join(ctx.work, f"out{i}")
        reader = {"rows": 0, "jobs": 0, "stream_s": 0.0, "first_rows": [], "rss_growth": 0.0}
        self.attempted += 3
        with ctx.groups.group("write") as g, rec.span("write", "sources.writer") as sw:
            write_parquet(spark.read.parquet(self.src), out, max_records_per_file=10_000)
        wc = ctx.groups.counters(g)
        latencies = [
            sw.dur,
            self._stream("stream_projected",
                         lambda: from_path(spark, self.src).get_rows(PROJECTED), reader),
            self._stream("stream_full",
                         lambda: from_path(spark, self.src).get_rows_with_args(), reader),
        ]
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        written = sum(os.path.getsize(os.path.join(out, f)) for f in files)
        import pyarrow.parquet as pq

        n_written = sum(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows for f in files)
        if n_written != ROWS:
            self.fail(f"write: pass {i} wrote {n_written} rows, expected {ROWS}")
        shutil.rmtree(out, ignore_errors=True)
        sw.attrs.update(wc, files=len(files), bytes=written)
        return {
            "latencies": latencies,
            "names": ["write", "stream_projected", "stream_full"],
            "rows_per_s": reader["rows"] / reader["stream_s"],
            "write_s": sw.dur,
            "write_rows_per_s": ROWS / sw.dur,
            "writer": {"files": len(files), "bytes": written, "jobs": wc.get("jobs", 0)},
            "reader": reader,
        }

    def end_to_end(self) -> tuple[dict, list[str]]:
        metrics, notes = super().end_to_end()
        ps = self.passes
        first = _median([x for p in ps for x in p["reader"]["first_rows"]])
        notes += [
            f"rows_per_s = {_median([p['rows_per_s'] for p in ps])!r} rows/s (get_rows streams)",
            f"first_row_s = {first!r} s (get_rows call to first dict)",
            f"write_rows_per_s = {_median([p['write_rows_per_s'] for p in ps])!r} rows/s",
        ]
        return metrics, notes

    def per_layer(self) -> dict:
        m = self.per_layer_common()
        tr = self.passes

        def med(fn):
            return _median([fn(p) for p in tr])

        m.update(
            {
                "sources.writer.write_s": (med(lambda p: p["write_s"]), "s"),
                "sources.writer.rows_per_s": (med(lambda p: p["write_rows_per_s"]), "rows/s"),
                "sources.writer.files": (med(lambda p: p["writer"]["files"]), "count"),
                "sources.writer.bytes_per_input_byte": (
                    med(lambda p: p["writer"]["bytes"]) / self.input_bytes,
                    "ratio",
                ),
                "sources.writer.jobs": (med(lambda p: p["writer"]["jobs"]), "count"),
                "sources.reader.first_row_s": (
                    _median([x for p in tr for x in p["reader"]["first_rows"]]),
                    "s",
                ),
                "sources.reader.stream_s": (med(lambda p: p["reader"]["stream_s"]), "s"),
                "sources.reader.rows_per_s": (med(lambda p: p["rows_per_s"]), "rows/s"),
                "sources.reader.rows": (med(lambda p: p["reader"]["rows"]), "count"),
                "sources.reader.jobs": (med(lambda p: p["reader"]["jobs"]), "count"),
                "sources.reader.py_rss_growth_mb": (med(lambda p: p["reader"]["rss_growth"]), "MB"),
            }
        )
        return m


WORKLOADS = {
    "tpch_relational": QueryWorkload,
    "llm_curation": QueryWorkload,
    "row_roundtrip": RowRoundtrip,
}
