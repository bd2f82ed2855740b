"""Smoke pass of every workload on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced, in its own process, as
the benchmark command does.  The test checks the output contract: every
metric that BENCHMARK.json names is printed with its unit, and every op's
output matched its expected answer.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"]
    out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        printed = res["metrics"]
        for m in SPEC[section]:
            assert printed[m["name"]]["unit"] == m["unit"], m["name"]
            assert isinstance(printed[m["name"]]["value"], (int, float)), m["name"]
        assert set(printed) == {m["name"] for m in SPEC[section]}
        if trace == 0:
            assert printed["ok_frac"]["value"] == 1.0


def test_refuses_without_the_program(tmp_path):
    """Outside a checkout of the program the command fails without a result."""
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    cmd = [sys.executable, "perfbench/run.py", "--workload", "tpch", "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout.strip() == ""
