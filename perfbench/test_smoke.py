"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own benchmark process (one Spark session each), so
the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
         "--seconds", "1", "--size", "tiny", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(out: dict, spec: list) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for v in out["metrics"].values():
        assert isinstance(v["value"], float)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_and_outputs(workload):
    out = bench("--workload", workload, "--trace", "0")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


# spans each workload's path must record, and spans its path bypasses
PATH_SPANS = {
    "validate_fused": (["infer.census_s", "infer.states_s", "checks.fused_s",
                        "catalog.append_violations_s"],
                       ["clustered.check_s"]),
    "validate_clustered": (["infer.census_s", "clustered.check_s",
                            "infer.finalize_s", "catalog.append_violations_s"],
                           ["checks.fused_s", "infer.states_s"]),
}


@pytest.mark.parametrize("workload", sorted(PATH_SPANS))
def test_traced_run_prints_every_layer_metric(workload):
    out = bench("--workload", workload, "--trace", "1")
    assert out["correct"]
    assert_metrics(out, SPEC["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    ran, bypassed = PATH_SPANS[workload]
    for name in ran:
        assert m[name] > 0, name
    for name in bypassed:
        assert m[name] == 0, name
    assert m["pipeline.clustered_path"] == float(workload == "validate_clustered")
    assert m["spark.tasks"] > 0 and m["failed_op_share"] == 0


def test_wrong_expected_count_fails_every_op():
    out = bench("--workload", "validate_clustered", "--trace", "0",
                "--corrupt-expected")
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 2


def test_self_time_subtracts_overlapping_children():
    spans = [{"start": 0.0, "end": 10.0, "parent": None},
             {"start": 1.0, "end": 4.0, "parent": 0},
             {"start": 3.0, "end": 5.0, "parent": 0},
             {"start": 2.0, "end": 3.0, "parent": 1},
             {"start": 8.0, "end": 12.0, "parent": 0}]
    assert tracing.self_time(spans, 0) == pytest.approx(10 - 4 - 2)
    assert tracing.self_time(spans, 1) == pytest.approx(2)
