"""Registry integrity: the driver checks roughly the first 50 entries,
so ordering is coverage policy — guard it against silent drift.

The window is computed (``current_window``), not hand-pinned: the
mechanical stalest-first rotation (VERDICT r9 #2)."""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

import parquet_batch_spark
from parquet_batch_spark.operators import (
    _WINDOW_SIZE,
    _entry_green,
    _last_checked,
    _stalest_window,
    all_oracles,
    all_queries,
    current_window,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ever_checked() -> set[str]:
    """Driver-checked names recorded in CORRECTNESS_r*.json artifacts."""
    checked: set[str] = set()
    for f in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        if re.match(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(f)):
            checked.update(json.load(open(f)))
    return checked


MAX_MODULE_LINES = 4333


def test_no_package_module_exceeds_line_limit():
    """A process that compiles from source peaks in memory with its largest module."""
    pkg = os.path.dirname(os.path.abspath(parquet_batch_spark.__file__))
    long_modules = {}
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            n = sum(1 for _ in f)
        if n > MAX_MODULE_LINES:
            long_modules[os.path.relpath(path, pkg)] = n
    assert not long_modules, long_modules


def test_unimportable_registry_module_raises(monkeypatch):
    """A registry module that does not import fails the registry
    instead of silently dropping its ops from ``all_queries()``."""
    import parquet_batch_spark.operators as ops

    missing = "parquet_batch_spark.operators.no_such_module"
    monkeypatch.setattr(ops, "_MODULES", [*ops._MODULES, missing])
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        ops.all_queries()
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        ops.all_oracles()


def test_window_names_exist_and_are_unique():
    qs = all_queries()
    window = current_window()
    missing = [n for n in window if n not in qs]
    assert not missing, f"window names not in registry: {missing}"
    assert len(set(window)) == len(window), "duplicate window entries"
    assert len(window) == _WINDOW_SIZE


def test_window_is_registry_prefix():
    window = current_window()
    assert list(all_queries())[: len(window)] == window


def test_every_oracle_has_a_query():
    qs, os_ = all_queries(), all_oracles()
    orphans = [n for n in os_ if n not in qs]
    assert not orphans, f"oracles without queries: {orphans}"
    # every query is oracle-checked — fail loudly if a rows-only entry
    # sneaks in (ann_ivf_topk, the last one, gained an oracle in r4
    # when its quantizer moved to hash-sampled data points)
    rows_only = sorted(set(qs) - set(os_))
    assert rows_only == [], rows_only


def test_certification_closes_after_this_window():
    """The standing invariant that replaces every per-round hand-pinned
    composition test: every registry entry must either already appear
    in a committed CORRECTNESS artifact or sit in THIS round's window —
    i.e. once the current window lands green, certification is total.
    Holds for r10 by the pre-staged composition and trivially for every
    round after."""
    names = set(all_queries())
    covered = _ever_checked() | set(current_window())
    uncovered = sorted(names - covered)
    assert uncovered == [], f"entries certification can never reach: {uncovered}"


def test_stalest_window_policy_mechanics():
    """Unit-test the pure rotation policy: changed ops lead, then
    stalest-first (never-checked = round 0), ties broken by module
    order, truncated to the window size."""
    names = [f"op{i}" for i in range(8)]
    seen = {"op0": 3, "op1": 1, "op3": 1, "op4": 2, "op6": 5}
    # op2, op5, op7 never checked -> lead in name order; then r1 ties
    # (op1 before op3 by order), r2, r3, r5
    assert _stalest_window(names, seen, [], size=8) == [
        "op2", "op5", "op7", "op1", "op3", "op4", "op0", "op6",
    ]
    # changed ops jump to slot 1 regardless of staleness; window truncates
    assert _stalest_window(names, seen, ["op6"], size=4) == [
        "op6", "op2", "op5", "op7",
    ]
    # changed names not in the registry are ignored
    assert _stalest_window(names, seen, ["ghost"], size=2) == ["op2", "op5"]


def test_rotation_takes_over_once_r10_lands(monkeypatch):
    """Simulate the post-r10 world: with a seen-map where every entry is
    checked (r10 closes certification), ``current_window`` must return
    the stalest-first computation over module order."""
    import parquet_batch_spark.operators as ops

    names_mod = _module_order()
    seen = dict(_last_checked())
    future = {n: seen.get(n, 10) for n in names_mod}  # r10 catches the rest
    monkeypatch.setattr(ops, "_last_checked", lambda: tuple(future.items()))
    monkeypatch.setattr(ops, "_CHANGED_THIS_ROUND", {})
    got = ops.current_window(list(names_mod))
    assert got == _stalest_window(names_mod, future, [])
    assert len(got) == _WINDOW_SIZE
    # the window is entirely the stalest cohort: no entry outside the
    # window is staler than any entry inside it
    cutoff = max(future[n] for n in got)
    outside = [n for n in names_mod if n not in set(got)]
    assert all(future[n] >= cutoff for n in outside)


def test_changed_ops_auto_retire_once_their_round_lands(monkeypatch):
    """ADVICE r10 #1 + r11 #1: a _CHANGED_THIS_ROUND entry leads the
    window until THE OP ITSELF passes a driver check of its round or
    later — per-op, so an artifact that merely exists (op skipped, or
    recorded failing) does NOT retire it; when the op's own green row
    lands, it retires with NO manual reset."""
    import parquet_batch_spark.operators as ops

    monkeypatch.setattr(
        ops, "_CHANGED_THIS_ROUND", {"op_old": 10, "op_new": 11}
    )
    # the op itself certified at its round -> retired; the other leads
    assert ops._active_changed({"op_old": 10}) == ["op_new"]
    # both ops certified at (or after) their rounds -> head empty
    assert ops._active_changed({"op_old": 10, "op_new": 12}) == []
    # an r10 artifact that SKIPPED op_old does not retire it (the
    # pre-r11 global-max bug: {"x": 10} used to retire op_old silently)
    assert ops._active_changed({"x": 10}) == ["op_old", "op_new"]
    # certified BEFORE the change round -> still active
    assert ops._active_changed({"op_old": 9, "op_new": 11}) == ["op_old"]
    # no artifacts at all (fresh clone) -> everything leads
    assert ops._active_changed({}) == ["op_old", "op_new"]


def test_failed_artifact_rows_do_not_certify():
    """ADVICE r11 #1 second half: _last_checked must ignore artifact
    rows whose driver check failed — a rows_match=False / err row is a
    reason to KEEP the op at the window head, not retire it."""
    from parquet_batch_spark.operators import _entry_green

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 5, "oracle_rows": 5, "err": None}
    assert _entry_green(ok)
    assert not _entry_green({**ok, "rows_match": False})
    assert not _entry_green({**ok, "schema_match": False})
    assert not _entry_green({**ok, "hash_match": False})
    assert not _entry_green({**ok, "err": "boom"})
    # rows-only (weaker) checks omit hash_match -> still certifying
    assert _entry_green({"rows_match": True, "err": None})
    # legacy list-form artifacts record bare names
    assert _entry_green(None)


def test_changed_entries_not_born_retired():
    """ADVICE r11 #2: an entry added to _CHANGED_THIS_ROUND after its
    round's CORRECTNESS artifact already landed is born retired and
    never leads the window — the silent-gap failure mode inverted.
    Every RETIRED entry must therefore have actually been certified
    (green at round >= its change round); a violation means the entry
    should have been mapped to latest_artifact + 1."""
    import parquet_batch_spark.operators as ops

    seen = dict(_last_checked())
    latest = max(seen.values(), default=0)
    born_retired = [
        n for n, rnd in ops._CHANGED_THIS_ROUND.items()
        if rnd <= latest and seen.get(n, 0) < rnd
    ]
    assert born_retired == [], (
        f"changed ops retired without ever being certified at their "
        f"change round — map them to {latest + 1}: {born_retired}"
    )
    # the LIVE registry state: entries certified by the latest committed
    # artifact are the freshest ops in the registry, so once retired from
    # the head they cannot appear anywhere in the stalest-first window
    seen = dict(_last_checked())
    latest = max(seen.values(), default=0)
    live_active = set(ops._active_changed(seen))
    retired_fresh = [
        n
        for n, r in ops._CHANGED_THIS_ROUND.items()
        if r <= latest and seen.get(n, 0) == latest
    ]
    window = set(current_window())
    leaked = [n for n in retired_fresh if n in window and n not in live_active]
    assert leaked == [], f"certified changed-ops still occupy the window: {leaked}"


def _module_order() -> list[str]:
    from parquet_batch_spark.operators import _raw_queries

    return list(_raw_queries())
