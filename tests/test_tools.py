"""The dev tools under ``tools/`` (not an installed package, so each
script is loaded by path): the one timing loop and the one A/B driver."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name: str):
    path = os.path.join(REPO, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"tools_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_time_ops_one_result_per_sf_and_op(spark, sf_smoke, sf_dir, capsys):
    time_ops = _load_tool("time_ops")
    sfs, ops = [sf_smoke, sf_dir], ["scan_count", "q1_pricing_summary"]
    got = time_ops.time_ops(spark, sfs, ops, n=1)
    assert [(sf, op) for sf, op, _ in got] == [(sf, op) for sf in sfs for op in ops]
    assert all(best > 0 for _, _, best in got)
    printed = [ln for ln in capsys.readouterr().out.splitlines() if ": best " in ln]
    assert len(printed) == len(sfs) * len(ops)


def test_ab_parses_variants_and_alternates_order():
    ab = _load_tool("ab")
    conf = "spark.a=1;spark.b=2"
    base, other = ab.parse_variant("base"), ab.parse_variant(f"pf:/x/parent:{conf}")
    assert base == ab.Variant("base", REPO, "")
    assert other == ab.Variant("pf", "/x/parent", conf)
    assert ab.parse_variant(f"c::{conf}") == ab.Variant("c", REPO, conf)
    order = [(rep, v.label) for rep, v in ab.schedule([base, other], 3)]
    assert order == [
        (0, "base"), (0, "pf"), (1, "pf"), (1, "base"), (2, "base"), (2, "pf"),
    ]
    # current and older time_ops output formats both parse
    out = "cpu_calibration 0.512\nsf0.1 q1: best 1.250  runs [1.25]\nq2: best 0.5  runs [0.5]\n"
    assert ab.parse_times(out) == {"_cal": 0.512, "q1": 1.25, "q2": 0.5}
