"""The summary line and the metric names it shares with BENCHMARK.json."""

import json
import os

import pytest

import run

BENCH = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_summary_line_shape():
    line = run.summary_line(True, 3, 0, {"setup_s": (12.5, "s")})
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"]["setup_s"] == {"value": 12.5, "unit": "s"}
    assert "\n" not in line


def test_summary_line_bound_holds_for_the_per_layer_set():
    metrics = {k: (123456.789012345678, u) for k, u in run.PER_LAYER.items()}
    line = run.summary_line(True, 1, 0, metrics)
    assert len(line) < run.SUMMARY_MAX_CHARS


def test_summary_line_over_the_bound_raises():
    metrics = {f"m{i:04d}": (1.0, "s") for i in range(100)}
    with pytest.raises(ValueError):
        run.summary_line(True, 1, 0, metrics)


@pytest.mark.skipif(not os.path.exists(BENCH), reason="no BENCHMARK.json")
def test_metric_names_and_units_match_benchmark_json():
    with open(BENCH) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
