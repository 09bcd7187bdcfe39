"""Self-test of the benchmark's seeding, counters and helpers.

    python3 -m pytest perfbench/tests -q

The counter test starts a local Spark session (about 20 s).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
from spans import JobGroups, Recorder  # noqa: E402
from workloads import op_order, plan_shape, tail  # noqa: E402

SPEC = json.load(open(os.path.join(BENCH, "spec.json")))["workloads"]


@pytest.mark.parametrize("workload", ["tpch_relational", "llm_curation"])
def test_seed_sets_order_not_op_set(workload):
    ops = SPEC[workload]["ops"]
    a, b = op_order(ops, 1), op_order(ops, 2)
    assert sorted(a) == sorted(b) == sorted(ops)
    assert op_order(ops, 1) == a
    assert any(op_order(ops, s) != a for s in range(2, 10))


def test_seed_sets_table_values_not_shape():
    t1, t2 = datagen.tables(1), datagen.tables(2)
    assert t1.keys() == t2.keys()
    for name in t1:
        assert t1[name].schema == t2[name].schema
        assert t1[name].num_rows == t2[name].num_rows
    assert not t1["lineitem"].equals(t2["lineitem"])
    assert not t1["documents"].equals(t2["documents"])
    assert datagen.tables(1)["lineitem"].equals(t1["lineitem"])


def test_seed_sets_mixed_values():
    a, b = datagen.mixed(1, 500), datagen.mixed(2, 500)
    assert a.schema == b.schema and not a.equals(b)
    assert datagen.mixed(1, 500).equals(a)
    assert len(set(a.column("field_2").to_pylist())) == 500  # rows distinct


def test_tail_rule():
    assert tail([1.0, 3.0, 2.0]) == (3.0, "max of 3")
    value, name = tail([float(i) for i in range(1, 101)])
    assert name == "p90 of 100" and value == 90.0  # ten samples beyond


def test_plan_shape_counts_scans_and_exchanges():
    plan = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=false",
            "+- HashAggregate(keys=[k#1])",
            "   +- Exchange hashpartitioning(k#1, 4)",
            "      :- FileScan parquet [k#1] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/lineitem.parquet], X",
            "      +- BroadcastExchange HashedRelationBroadcastMode",
            "         +- FileScan parquet [k#2] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/lineitem.parquet], X",
        ]
    )
    assert plan_shape(plan) == {"parquet_scans": 2, "excess_scans": 1, "exchanges": 2}


def test_self_time_subtracts_children():
    rec = Recorder("r", enabled=True)
    with rec.span("pass", "bench"):
        with rec.span("build", "operators.build"):
            pass
    st = rec.self_time_by_layer()
    total = rec.spans[0].dur
    assert st["bench"] + st["operators.build"] == pytest.approx(total)


@pytest.fixture(scope="module")
def spark():
    from parquet_batch_spark.session import get_spark, stop_spark

    s = get_spark(cpus="2")
    yield s
    stop_spark()


def test_known_query_has_job_stage_task_counters(spark, tmp_path):
    from parquet_batch_spark.operators import all_queries

    datagen.write_tables(str(tmp_path), seed=3, sf=0.001)
    groups = JobGroups(spark, "selftest", collect=True)
    with groups.group("tpch_q3/build"):
        df = all_queries()["tpch_q3"](spark, str(tmp_path))
    with groups.group("tpch_q3/run") as g:
        df.write.format("noop").mode("overwrite").save()
    c = groups.counters(g)
    assert c["jobs"] > 0 and c["stages"] > 0 and c["tasks"] > 0
    assert c["executor_run_s"] >= 0 and c["input_bytes"] > 0


def test_benchmark_json_matches_spec():
    """Names and units in BENCHMARK.json are the ones the runner emits."""
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = json.load(open(os.path.join(BENCH, "spec.json")))
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v["unit"] for k, v in spec["per_layer"].items()
    }
    gated = {k: v["unit"] for k, v in spec["end_to_end"].items() if not v.get("printed_only")}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == gated
    for w in bench["workloads"]:
        assert spec["workloads"][w["name"]]["why"] == w["why"]
