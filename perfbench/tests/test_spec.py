"""BENCHMARK.json, the harness and the tracer agree."""

import json
import os

from perfbench import harness, run
from perfbench import steady as steady_mod
from perfbench.tracing import layer_self_seconds, self_times
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS) == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER


def test_tail_level_keeps_ten_samples_beyond():
    assert harness.tail_level(200) == 0.9
    assert harness.tail_level(40) == 0.75
    assert harness.tail_level(12) == 0.5
    assert harness.tail_level(harness.MIN_SAMPLES) > 0.5
    assert abs(harness.quantile([1.0, 2.0, 3.0], 0.5) - 2.0) < 1e-9
    assert harness.quantile([7.0], 0.5) == 7.0


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "name": "bench.op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "spark_ops.x", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "writers.y", "parent": 1, "start": 5.0, "end": 9.0},
        {"id": 4, "name": "spark_ops.z", "parent": 3, "start": 6.0, "end": 7.0},
    ]
    assert self_times(spans) == {1: 3.0, 2: 3.0, 3: 3.0, 4: 1.0}
    assert layer_self_seconds(spans) == {"bench": 3.0, "spark_ops": 4.0, "writers": 3.0}


def test_steadiness_check_names_metric_and_workload():
    spec = {"end_to_end": [
        {"name": "run_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.2},
    ]}

    def runs(run_s, setup_s):
        return [
            {"workload": "w", "seed": i, "returncode": 0, "correct": True,
             "metrics": {"run_s": {"value": r}, "setup_s": {"value": s}}}
            for i, (r, s) in enumerate(zip(run_s, setup_s))
        ]

    steady = runs([1.0, 1.01, 0.99, 1.0], [2.0, 2.1, 1.9, 2.0])
    assert steady_mod.analyse(spec, [steady, steady]) == []
    wide_setup = runs([1.0, 1.01, 0.99, 1.0], [2.0, 3.0, 1.0, 2.0])
    assert any(p.startswith("w setup_s: spread") for p in steady_mod.analyse(spec, [wide_setup, steady]))
    wide = runs([1.0, 1.5, 0.6, 1.0], [2.0, 2.0, 2.0, 2.0])
    slower = runs([1.2, 1.21, 1.19, 1.2], [2.0, 2.0, 2.0, 2.0])
    problems = steady_mod.analyse(spec, [wide, slower])
    assert any(p.startswith("w run_s: spread") for p in problems)
    assert any(p.startswith("w run_s: second median worse") for p in problems)
