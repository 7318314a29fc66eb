"""Smoke test of the benchmark (`run.py`) at tiny size.

    python3 -m pytest perfbench/test_smoke.py

Runs every workload once per trace mode and checks the output contract:
the last stdout line is the result object, every metric BENCHMARK.json
names for that mode is present with its unit, and every check passed.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_reported_with_its_unit(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


def test_benchmark_json_matches_the_metric_tables():
    sys.path.insert(0, HERE)
    import scenario
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} \
        == scenario.E2E
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} \
        == scenario.LAYERS
    assert {w["name"] for w in BENCH["workloads"]} == set(scenario.WORKLOADS)


def test_refuses_to_run_without_the_engine(tmp_path):
    """A checkout holding only the benchmark exits non-zero, silently."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(
                open(os.path.join(HERE, name), "rb").read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "steady",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert p.stdout == ""
