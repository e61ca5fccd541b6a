"""BENCHMARK.json names what the benchmark prints, and the benchmark
refuses to run without the engine."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from perfbench.harness import END_TO_END
from perfbench.layers import PER_LAYER
from perfbench.workloads import NAMES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_printed_metrics():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(NAMES)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == list(PER_LAYER)
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25
    assert len(json.dumps(b)) < 64 * 1024


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark the
    run exits non-zero and prints no result."""
    b = _bench()
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in b["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, *b["command"][1:], "--workload", NAMES[0], "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
