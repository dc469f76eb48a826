import pytest

import stats
import workloads


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = stats.tail(xs)
    assert t["value"] == 90.0
    assert t["beyond"] == 10 and not t["floored"]
    assert t["pct"] == 90.0 and t["n"] == 100


def test_tail_moves_with_sample_count():
    t = stats.tail([float(i) for i in range(1, 41)])  # 40 samples
    assert t["value"] == 30.0 and t["pct"] == 75.0 and t["beyond"] == 10


def test_tail_skips_ties_at_the_cut():
    xs = [1.0] * 20 + [5.0] * 12  # the 11th-largest ties with ten above it
    t = stats.tail(xs)
    assert t["beyond"] >= 10
    assert sum(1 for x in xs if x > t["value"]) >= 10


@pytest.mark.parametrize("n", [1, 5, 11, 20, 21])
def test_tail_floors_at_median_without_enough_samples(n):
    xs = [float(i) for i in range(n)]
    t = stats.tail(xs)
    assert t["floored"] and t["value"] == stats.median(xs) and t["pct"] == 50.0


def test_tail_reported_once_above_median():
    xs = [float(i) for i in range(22)]
    t = stats.tail(xs)
    assert not t["floored"] and t["value"] > stats.median(xs)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


@pytest.mark.parametrize("name", ["setup_s", "execute.s_per_job", "a-b.c_9", "9x"])
def test_metric_name_accepts(name):
    assert stats.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "µs"])
def test_metric_name_rejects(name):
    with pytest.raises(ValueError):
        stats.check_metric_name(name)


def test_every_reported_metric_name_and_unit_is_valid():
    import re

    for name, unit in workloads.UNITS.items():
        stats.check_metric_name(name)
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit)


def test_benchmark_json_matches_the_workloads_and_metrics():
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    bounds = [m["bound"] for m in spec["end_to_end"]]
    assert all(0 < b <= 0.25 for b in bounds)
    assert e2e["setup_s"]["bound"] == max(bounds)
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])


def test_a_pass_repeats_query_ops_and_runs_a_model_op_once():
    wl = workloads.WORKLOADS["batch-heavy"]
    ops = wl.pass_ops()
    for name in wl.ops:
        want = 1 if name in workloads.ML_OPS else wl.query_reps
        assert ops.count(name) == want
    assert len(ops) == sum(1 if n in workloads.ML_OPS else wl.query_reps for n in wl.ops)
