"""Toy-size smoke run of every workload, untraced and traced, through the
same command line the benchmark is run with."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8"))


def _run(cwd, workload, trace, seed=3):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_toy_run(workload, trace):
    p = _run(REPO, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "skewed_channels":
        vals = {k: v["value"] for k, v in result["metrics"].items()}
        for stage in ("assemble", "exact", "sign", "candidates", "verify", "containment",
                      "prefix", "cluster"):
            assert vals[f"{stage}.jobs"] > 0 and vals[f"{stage}.wall_s"] > 0, stage
        assert vals["check.recall"] >= 0.99
    assert not os.path.exists(os.path.join(REPO, ".perfbench"))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "skewed_channels", 0)
    assert p.returncode != 0
    assert not p.stdout.strip()
