"""End-to-end smoke runs of the benchmark CLI (about a minute each)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [(w, 0) for w in sorted(workloads.WORKLOADS)] + [(w, 1) for w in sorted(workloads.WORKLOADS)],
)
def test_smoke_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = workloads.PER_LAYER if trace else workloads.END_TO_END
    assert set(out["metrics"]) == set(want)
    for name, m in out["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], (int, float))
    if trace:
        value = {k: m["value"] for k, m in out["metrics"].items()}
        assert value["execute.jobs"] > 0 and value["catalyst.optimization_s"] > 0
        if workload == "stream-drain":
            assert value["streaming.batches"] > 0
        else:
            assert value["ml.jobs"] > 0 and value["ml.train_rmse"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    proc = _run(tmp_path, "stream-drain", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
