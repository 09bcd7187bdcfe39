"""The engine session's defaults and the driver process it leaves behind."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest
from conftest import REPO, SF_SMOKE
from pyspark.sql import functions as F

_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_turns_off_call_site_capture(spark):
    assert spark.conf.get(_DEBUGGING) == "false"


def _round_trips(monkeypatch, build) -> int:
    """Python→JVM commands sent while ``build()`` runs.  Releases of
    earlier objects (``m d`` commands, sent whenever Python frees a
    JVM reference) are not the call's cost and are not counted."""
    import py4j.clientserver
    import py4j.protocol as proto

    sent: list[str] = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
    return sum(not c.startswith(release) for c in sent)


def test_column_calls_cost_few_round_trips(spark, monkeypatch):
    """With call-site capture on, every ``F.col`` and ``Column``
    operator also looks up the active session, reads a conf and sets
    and clears the JVM origin (13 and 11 round trips)."""
    held = [F.col("w") % 7]  # the first Column call caches the conf
    # results stay in ``held`` so no release lands in the window
    assert _round_trips(monkeypatch, lambda: held.append(F.col("x"))) <= 3
    assert _round_trips(monkeypatch, lambda: held.append(F.col("x") % 7)) <= 4


_CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
from parquet_batch_spark.session import get_spark
from parquet_batch_spark.operators.dedup import dedup_minhash_lsh
from parquet_batch_spark.operators.sources_ext import _IO_ROOT, source_csv_roundtrip

spark = get_spark(cpus="1")
dedup_minhash_lsh(spark, {sf!r})
ipython = "IPython" in sys.modules
source_csv_roundtrip(spark, {sf!r}).collect()
print(json.dumps({{"ipython": ipython, "io_root": _IO_ROOT, "staged": os.path.isdir(_IO_ROOT)}}))
"""


@pytest.fixture(scope="module")
def engine_process() -> dict:
    """One engine driver process, run to exit: it builds a minhash
    dedup, stages a CSV round trip and reports what it saw."""
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, sf=SF_SMOKE)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(
    importlib.util.find_spec("IPython") is None, reason="IPython is not installed"
)
def test_engine_driver_never_imports_ipython(engine_process):
    assert engine_process["ipython"] is False


def test_staged_io_dir_removed_at_exit(engine_process):
    assert engine_process["staged"], engine_process
    assert not os.path.exists(engine_process["io_root"]), engine_process
