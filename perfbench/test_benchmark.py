"""Toy-size self-test of the benchmark: every named metric is emitted with its
unit, outputs check out, and counts repeat for a repeated seed.

    python3 -m pytest perfbench/test_benchmark.py -q

Each case is one toy run of ``run.py`` (about a minute each on 4 cores).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
STAGES = (
    "entity_extraction", "identifier_extraction", "edge_building", "edge_merge",
    "label_propagation", "membership_update", "golden_profile", "output_write",
)


@functools.cache
def toy_run(workload: str, trace: int, seed: int = 1) -> tuple[dict, dict]:
    """(result, detail) of one toy run; each argument set runs once."""
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--toy",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(workload, trace):
    result, detail = toy_run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert result["attempted"] >= 1
    named = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_stage_that_ran_has_jobs(workload):
    metrics = toy_run(workload, 1)[0]["metrics"]
    ran = [s for s in STAGES if metrics[f"stage.{s}.wall_s"]["value"] > 0]
    assert "entity_extraction" in ran and "output_write" in ran
    for s in ran:
        assert metrics[f"stage.{s}.jobs"]["value"] > 0, s


def test_layers_each_workload_exercises():
    retail = toy_run("retail_full", 1)[0]["metrics"]
    chat = toy_run("transcripts_incr", 1)[0]["metrics"]
    assert retail["graph.cc_distributed"]["value"] == 1
    assert retail["graph.cc_rounds"]["value"] > 1
    assert retail["scoring.candidate_pairs"]["value"] == 0
    assert chat["graph.cc_distributed"]["value"] == 0
    assert chat["scoring.candidate_pairs"]["value"] > 0
    assert chat["run.incr_jobs"]["value"] > 0
    for m in (retail, chat):
        assert m["check.rerun_f1"]["value"] == 1.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat_for_a_seed(workload):
    first = toy_run(workload, 0)[1]["counts"]
    again = toy_run(workload, 1)[1]["counts"]
    assert first == again


def test_fails_without_the_engine(tmp_path):
    """With only the benchmark's own files present, a run fails fast and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
