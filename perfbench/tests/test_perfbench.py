"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

Short runs of every workload (sf0.001, sf0.01 for order_backfill, 200
lines/s for dau_live; each in its own process, the way the benchmark is
invoked) check that every metric of ``BENCHMARK.json``
is printed with its unit; a run against a deliberately wrong oracle
checks that the correctness gate fails; a tree without the engine
checks that the benchmark refuses to run. The short runs start Spark,
so the module takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["order_backfill"]


def args(workload: str) -> list[str]:
    if workload == "dau_live":
        # 200 log lines a second; 8 s leaves the last slice a trigger
        # interval to show at the endpoint
        return ["--workload", workload, "--seed", "5", "--seconds", "8", "--rate", "200"]
    # at sf0.001 two order slices join to no rows at all, and an empty
    # oracle cannot lose a row
    sf = "0.01" if workload == "order_backfill" else "0.001"
    return ["--workload", workload, "--seed", "5", "--seconds", "4", "--sf", sf]


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def _check_metrics(out: dict, names: list[dict], positive: bool) -> None:
    assert list(out["metrics"]) == [m["name"] for m in names]
    for m in names:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert math.isfinite(got["value"]), m["name"]
        if positive:
            assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_short_run_prints_every_end_to_end_metric(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args(workload), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    out = _result(proc)
    assert out["correct"] is True, out
    _check_metrics(out, SPEC["end_to_end"], positive=True)


_TAMPERED = """
import sys
sys.path.insert(0, {bench!r})
import oracle, run
sys.exit(run.main({argv!r}, tamper=oracle.drop_one_row))
"""


@pytest.mark.parametrize("workload", WORKLOADS)
def test_dropped_oracle_row_fails_the_gate(workload):
    """One row dropped from the oracle side of the comparison makes the
    run incorrect; the traced run still prints every per-layer metric."""
    argv = [*args(workload), "--trace", "1"]
    proc = subprocess.run(
        [sys.executable, "-c", _TAMPERED.format(bench=BENCH, argv=argv)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    out = _result(proc)
    assert out["correct"] is False
    assert out["failed"] >= 1
    _check_metrics(out, SPEC["per_layer"], positive=False)
    spans = os.path.join(BENCH, "results", f"{workload}-seed5-spans.jsonl")
    with open(spans) as f:
        first = json.loads(f.readline())
    assert {"id", "name", "parent", "start", "end"} <= set(first)


def test_refuses_a_tree_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("tmp", "results", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args(WORKLOADS[0])],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_compare_detects_a_dropped_row():
    import oracle

    t = pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert oracle.compare(t, t.take([2, 0, 1])) == []
    assert oracle.compare(t, oracle.drop_one_row(t)) != []
    assert oracle.compare(t, t.set_column(1, "v", pa.array([0.5, 1.25, 2.5]))) != []


def test_inputs_are_a_function_of_the_seed():
    import datagen

    a = datagen.generate(3, 0.001, ("events", "lineitem"))
    b = datagen.generate(3, 0.001, ("lineitem",))
    c = datagen.generate(4, 0.001, ("lineitem",))
    assert a["lineitem"].equals(b["lineitem"])
    assert not a["lineitem"].equals(c["lineitem"])
