"""Seed determinism (the same seed gives the same operation sequence and
the same generated inputs; another seed gives another) and the warm-up
groups, which run side by side."""

from __future__ import annotations

import os
import random
import threading
import time

import pytest

from perfbench import harness
from perfbench.tracer import NullTracer
from perfbench.workloads import Context, Op, WarmGroup, Workload, olap, serve


def _warm_ops(wl, rnd):
    return [op for group in wl.warm_groups(rnd) for op in group.ops]

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.01")


def _serve_ops(seed: int, rounds: int = 3):
    wl = serve.ServeMixed()
    rnd = random.Random(seed)
    wl.load_inputs(DATA, rnd)
    ops = _warm_ops(wl, rnd)
    for r in range(rounds):
        ops += wl.round_ops(rnd, r)
    return [(op.kind, op.cls, repr(op.args)) for op in ops]


def _olap_ops(seed: int, rounds: int = 3):
    """The warm-up and ``rounds`` rounds, as two lists."""
    wl = olap.OlapMix()
    rnd = random.Random(seed)
    wl.load_inputs(DATA, rnd)
    warm = [(op.kind, repr(op.args)) for op in _warm_ops(wl, rnd)]
    ops = []
    for r in range(rounds):
        ops += wl.round_ops(rnd, r)
    return warm, [(op.kind, repr(op.args)) for op in ops]


def test_serve_mixed_is_a_function_of_the_seed():
    a, b, c = _serve_ops(7), _serve_ops(7), _serve_ops(8)
    assert a == b
    assert a != c


def test_serve_round_has_a_fixed_class_mix():
    wl = serve.ServeMixed()
    rnd = random.Random(3)
    wl.load_inputs(DATA, rnd)
    for r in range(6):
        kinds = [op.kind for op in wl.round_ops(rnd, r)]
        assert sorted(kinds) == sorted(["ivf_query"] * serve.IVF_PER_ROUND
                                       + ["score", "bm25_query", "ivf_upsert", "bm25_upsert"])
        assert len(kinds) == wl.round_size
        # a probe of each index reads the snapshot its write left
        assert "ivf_query" in kinds[kinds.index("ivf_upsert") + 1:]
        assert "bm25_query" in kinds[kinds.index("bm25_upsert") + 1:]


def test_serve_writes_draw_held_out_rows_only():
    wl = serve.ServeMixed()
    wl.load_inputs(DATA, random.Random(1))
    held_e, held_d = serve.held_out_ids(DATA)
    assert len(held_e) == len(held_d) == serve.HELD_OUT
    assert not set(held_e) & wl.ivf_ids
    assert not set(held_d) & set(wl.corpus)
    seen = set()
    for _ in range(serve.HELD_OUT // serve.BATCH):
        batch = next(wl.ivf_queue)
        assert len(batch) == serve.BATCH and set(batch) <= set(held_e)
        seen |= set(batch)
    assert seen == set(held_e)  # one pass ingests every held-out vector once


def test_olap_mix_order_is_seeded_and_each_round_runs_every_query():
    a, b, c = _olap_ops(7), _olap_ops(7), _olap_ops(8)
    assert a == b
    assert a != c
    warm, timed = a
    n = len(olap.QUERIES + olap.VERSIONED)
    assert set(k for k, _ in warm) == set(olap.QUERIES + olap.VERSIONED)
    for i in range(0, len(timed), n):
        assert sorted(k for k, _ in timed[i:i + n]) == sorted(olap.QUERIES + olap.VERSIONED)


def test_olap_mix_merge_batches_update_base_rows_and_insert_new_ones():
    wl = olap.OlapMix()
    wl.load_inputs(DATA, random.Random(5))
    base = set(wl.base_ids)
    seen_new = set()
    for r in range(3):
        for op in wl.round_ops(random.Random(r), r):
            if op.kind != "versioned_merge":
                continue
            ids = [row["event_id"] for row in op.args["rows"]]
            assert len(ids) == len(set(ids)) == olap.MERGE_UPDATES + olap.MERGE_INSERTS
            new = {i for i in ids if i not in base}
            assert len(new) == olap.MERGE_INSERTS and min(new) >= olap.NEW_ID_BASE
            assert not new & seen_new  # inserted keys are never reused
            seen_new |= new


def test_warm_up_groups_keep_each_piece_of_state_in_one_group():
    """Warm-up groups run concurrently: every operation on an index, the
    model or the versioned table sits in one group, and every operation
    class is warmed."""
    wl = serve.ServeMixed()
    rnd = random.Random(2)
    wl.load_inputs(DATA, rnd)
    kinds = [{op.kind for op in g.ops} for g in wl.warm_groups(rnd)]
    for family in ({"ivf_query", "ivf_upsert"}, {"bm25_query", "bm25_upsert"}, {"score"}):
        assert [k & family for k in kinds if k & family] == [family]
    assert set().union(*kinds) == {"ivf_query", "ivf_upsert", "bm25_query", "bm25_upsert", "score"}

    wl = olap.OlapMix()
    rnd = random.Random(2)
    wl.load_inputs(DATA, rnd)
    kinds = [{op.kind for op in g.ops} for g in wl.warm_groups(rnd)]
    assert [k for k in kinds if k & set(olap.VERSIONED)] == [set(olap.VERSIONED)]
    assert set().union(*kinds) == set(olap.QUERIES + olap.VERSIONED)


class _Sleepy(Workload):
    """Operations that sleep; records which thread ran each."""

    def execute(self, ctx, op):
        time.sleep(op.args["s"])
        return threading.current_thread().name


def test_warm_up_runs_groups_side_by_side_in_order():
    ctx = Context(spark=None, data_dir="", run_dir="", tracer=NullTracer())
    groups = [WarmGroup([Op(f"g{g}", "c", {"s": 0.2}) for _ in range(2)]) for g in range(3)]
    t0 = time.perf_counter()
    done, walls = harness.warm_up(ctx, _Sleepy(), groups)
    assert time.perf_counter() - t0 < 1.0  # not 6 x 0.2 s one after another
    assert [d.op.kind for d in done] == ["g0", "g0", "g1", "g1", "g2", "g2"]
    assert len({d.output for d in done}) == 3 and not any(d.error for d in done)
    assert all(0.4 <= w < 1.0 for w in walls)


def test_warm_up_raises_a_failed_prepare_step():
    def prepare(ctx):
        raise RuntimeError("no model")

    ctx = Context(spark=None, data_dir="", run_dir="", tracer=NullTracer())
    groups = [WarmGroup([Op("a", "c", {"s": 0})]), WarmGroup([], prepare=prepare)]
    with pytest.raises(RuntimeError, match="no model"):
        harness.warm_up(ctx, _Sleepy(), groups)
