"""A short run of each workload, untraced and traced: every operation
checks out, every metric is printed, and the run leaves nothing behind
in the working tree. Each run starts its own Spark JVM (30-90 s)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.harness import END_TO_END
from perfbench.layers import PER_LAYER
from perfbench.workloads import NAMES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _status() -> list[str] | None:
    """Changed, untracked and ignored paths, so a write to .indexes/,
    .fixtures/ or a leftover run directory shows. Bytecode caches and the
    per-checkout artifact cache are expected to appear."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "status", "--porcelain", "--ignored", "--untracked-files=all"],
                         cwd=ROOT, capture_output=True, text=True, check=True).stdout
    skip = ("__pycache__", ".bench_build/perfbench/artifacts/")
    return sorted(line for line in out.splitlines() if not any(k in line for k in skip))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", NAMES)
def test_workload_smoke(workload, trace):
    before = _status()
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = END_TO_END if trace == 0 else PER_LAYER
    assert {k: v["unit"] for k, v in res["metrics"].items()} == dict(names)
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert _status() == before
