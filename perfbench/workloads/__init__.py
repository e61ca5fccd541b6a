"""Workload interface and registry.

A workload is a closed loop with one client: the harness issues an
operation, waits for it to finish, then issues the next. Operations come
in *rounds*; every round holds a fixed number of operations of each
class in an order the seed shuffles, so every run times the same mix
and only the order and the generated inputs change with the seed. A run
times as many whole rounds as fit in ``--seconds`` at the workload's
nominal round time (at least one), so every run times the same amount
of work.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Op:
    kind: str
    #: request class the class latencies are grouped by
    cls: str
    args: dict = field(default_factory=dict)
    op_id: str = ""


@dataclass
class Done:
    """An executed operation: its output (or error) and where it ran."""

    op: Op
    latency: float
    output: Any = None
    error: str | None = None
    #: workload-side state captured right after the op, for the checks
    state: dict = field(default_factory=dict)


@dataclass
class WarmGroup:
    """Warm-up operations that run in order in one thread, after an
    optional ``prepare`` step: set-up work only these operations need.
    The harness runs a workload's groups side by side, so two groups must
    not touch the same engine state (an index, a table, a model)."""

    ops: list[Op]
    prepare: Callable[["Context"], None] | None = None


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


ENGINE = "loan_approval_prediction_data_engineering_ml_pipeline_spark"


@dataclass
class Context:
    spark: Any
    data_dir: str
    run_dir: str
    tracer: Any
    #: prebuilt artifacts of this workload, when it has any
    artifacts: str | None = None


class Workload:
    """Base class; subclasses fill in the hooks."""

    name = ""
    #: operations per round
    round_size = 0
    #: nominal seconds per round on the sizing host (4 cores)
    round_s = 1.0

    def rounds_for(self, seconds: float) -> int:
        """Whole rounds that fit in ``seconds`` at the nominal round time."""
        return max(1, int(seconds // self.round_s))

    def artifacts_key(self, root: str, data_dir: str) -> str | None:
        """Digest naming this workload's prebuilt artifacts, or None when
        it has none. Artifacts are built once per checkout by
        :meth:`build_artifacts` in a process of their own."""
        return None

    def build_artifacts(self, ctx: Context, dest: str) -> None:
        raise NotImplementedError

    def setup(self, ctx: Context, rnd: random.Random) -> None:
        """Per-run set-up (counted in setup_s)."""

    def warm_groups(self, rnd: random.Random) -> list[WarmGroup]:
        """Run before timing starts (counted in setup_s): at least one
        operation of every class, because a first call costs several times
        a steady one. Groups run concurrently, so the cold first calls of
        independent classes overlap. The default is one round in one
        group."""
        return [WarmGroup(self.round_ops(rnd, -1))]

    def round_ops(self, rnd: random.Random, r: int) -> list[Op]:
        raise NotImplementedError

    def execute(self, ctx: Context, op: Op) -> Any:
        """The timed operation; returns what the checks need."""
        raise NotImplementedError

    def after(self, ctx: Context, done: Done) -> None:
        """Untimed bookkeeping after an operation: record the state the
        checks need and, when traced, notes for the per-layer metrics."""

    def prepare_checks(self, ctx: Context, done: list[Done]) -> None:
        """The part of the checks that needs Spark. :meth:`check` runs
        after it, while the session stops."""

    def check(self, ctx: Context, done: list[Done]) -> list[str | None]:
        """One entry per operation: None when its output is correct,
        else a one-line reason. Spark is not available here."""
        raise NotImplementedError


#: workload name -> (module, class). serve_mixed comes first: its first
#: run in a checkout also builds its artifacts.
WORKLOADS = {
    "serve_mixed": ("serve", "ServeMixed"),
    "olap_mix": ("olap", "OlapMix"),
}
NAMES = tuple(WORKLOADS)


def get(name: str) -> Workload:
    import importlib

    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(f"{__name__}.{module}"), cls)()
