"""Span recorder and Spark job-group counter collector.

Spans are kept in memory and written out once, when the run ends.  A
span has a name, the layer it times, start and end (perf_counter
seconds), the id of the span that caused it and the run id shared by
every span of one benchmark run.  Counters read off the status store
are attached to the span whose job group fired the jobs.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans for one run.  A disabled recorder still times the
    block (the caller needs the duration) but keeps nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_time_by_layer(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        its interval that its children cover (children run one after
        another, so their intervals do not overlap)."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.dur
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.layer] += max(0.0, sp.dur - child_time[sp.id])
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans], **extra}, f)


# Stage-level counters summed over the jobs of one job group.
STAGE_COUNTERS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
)


class JobGroups:
    """Runs each timed call under its own Spark job group and, when
    enabled, reads the group's job, stage and task counters from
    ``statusTracker`` and the JVM ``statusStore`` (both work with the
    UI disabled)."""

    def __init__(self, spark, run_id: str, collect: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.collect = collect
        self.collect_s = 0.0  # time spent reading counters
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"{self.run_id}/{self._n}/{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counters(self, gid: str) -> dict[str, float]:
        if not self.collect:
            return {}
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        # Job-end events reach the status store through the listener
        # bus; drain it so the last stage's metrics are in.
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        out = dict.fromkeys(("jobs", "failed_jobs", *STAGE_COUNTERS), 0)
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            if info is None:
                continue
            out["failed_jobs"] += info.status == "FAILED"
            for sid in info.stageIds:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["input_bytes"] += sd.inputBytes()
        self.collect_s += time.perf_counter() - t0
        return out


def peak_rss_mb(pid: int | str = "self") -> float:
    """``VmHWM`` (peak resident set) of a process, in MB."""
    return _status_kb(pid, "VmHWM") / 1024


def rss_mb() -> float:
    return _status_kb("self", "VmRSS") / 1024


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(f"{key} not in /proc/{pid}/status")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by this process and every live descendant: the Python driver,
    the JVM and its Python workers.  Unlike wall time it does not grow
    while the host withholds the CPU (steal time)."""
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while scanning
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        children[int(fields[1])].append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


def jit_thread_ticks(pid: int) -> dict[int, int]:
    """CPU clock ticks used so far by each live JIT compiler thread of a
    JVM, by thread id.  The time of a thread that has exited is lost, so
    the JVM must keep its compiler threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # thread exited while scanning
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(tid)] = int(fields[11]) + int(fields[12])
    return out
