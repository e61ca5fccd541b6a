"""Per-layer metrics from a traced run.

Unless a metric says otherwise, a time or a count is the mean per
operation over the operations that have the named span; a ratio is
taken over sums. A metric whose layer the workload does not call reads
0. See README.md for the end-to-end metric each one should move.
"""

from __future__ import annotations

from . import stats
from .tracer import OpRecord, Span, Tracer, self_time
from .workloads import Done

#: (name, unit) of every per-layer metric, in report order
PER_LAYER = (
    ("session.start_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_driver_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_job_s", "s"),
    ("plans.build_tasks", "count"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"),
    ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.input_bytes", "B"),
    ("exec.slot_util", "ratio"),
    ("exec.scan_rows_per_result_row", "ratio"),
    ("py4j.calls", "count"),
    ("py4j.s", "s"),
    ("ml.fit_s", "s"),
    ("ml.score_s", "s"),
    ("ml.score_jobs", "count"),
    ("ml.score_py4j_calls", "count"),
    *(
        (f"operators.{fam}.{m}", unit)
        for fam in ("similarity", "retrieval")
        for m, unit in (
            ("probe_build_s", "s"),
            ("probe_exec_s", "s"),
            ("probe_jobs", "count"),
            ("first_probe_after_write_s", "s"),
            ("upsert_s", "s"),
            ("upsert_jobs", "count"),
            ("upsert_bytes_per_delta_byte", "ratio"),
        )
    ),
    ("operators.similarity.scan_rows_per_result_row", "ratio"),
    ("sources.versioned.commit_s", "s"),
    ("sources.versioned.merge_s", "s"),
    ("sources.versioned.read_s", "s"),
    ("sources.versioned.files_scanned", "count"),
    ("sources.versioned.files_skipped_frac", "ratio"),
    ("sources.versioned.bytes_written_per_user_byte", "ratio"),
    ("sources.versioned.live_bytes_per_user_byte", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("streaming.rows_per_s", "1/s"),
    ("proc.gc_s", "s"),
    ("proc.jvm_rss_mb", "MB"),
    ("proc.heap_peak_mb", "MB"),
    ("class.score_p50_s", "s"),
    ("class.ann_p50_s", "s"),
    ("class.bm25_p50_s", "s"),
    ("class.write_p50_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.unspanned_s", "s"),
)

#: the probe operation kind of each index family
PROBE_KIND = {"similarity": "ivf_query", "retrieval": "bm25_query"}


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _named(ops: list[OpRecord], name: str, kinds: tuple[str, ...] | None = None):
    """(op, span, self time) for every span called ``name``."""
    for op in ops:
        if kinds is not None and op.kind not in kinds:
            continue
        for i, sp in enumerate(op.spans):
            if sp.name == name:
                kids = [c for c in op.spans if c.parent == i]
                yield op, sp, self_time(sp, kids)


def _c(sp: Span, key: str) -> float:
    return sp.counters.get(key, 0)


def per_layer(tracer: Tracer, *, untraced: list[Done], traced: list[Done],
              cores: int, gc_s: float, jvm_rss_mb: float,
              heap_peak_mb: float) -> dict:
    ops = tracer.ops
    setup = {sp.name: sp for sp in tracer.setup_spans}
    v: dict[str, float] = {}

    v["session.start_s"] = setup["session.start"].duration

    build = list(_named(ops, "plans.build"))
    v["plans.build_s"] = _mean([t for _, _, t in build])
    v["plans.build_job_s"] = _mean([_c(sp, "job_s") for _, sp, _ in build])
    v["plans.build_driver_s"] = _mean([max(0.0, t - _c(sp, "job_s")) for _, sp, t in build])
    v["plans.build_jobs"] = _mean([_c(sp, "jobs") for _, sp, _ in build])
    v["plans.build_tasks"] = _mean([_c(sp, "tasks") for _, sp, _ in build])

    ex = list(_named(ops, "exec"))
    v["exec.s"] = _mean([sp.duration for _, sp, _ in ex])
    for key, metric in (
        ("jobs", "exec.jobs"), ("stages", "exec.stages"), ("tasks", "exec.tasks"),
        ("executor_run_s", "exec.executor_run_s"), ("executor_cpu_s", "exec.executor_cpu_s"),
        ("shuffle_read_bytes", "exec.shuffle_read_bytes"),
        ("shuffle_write_bytes", "exec.shuffle_write_bytes"),
        ("spill_bytes", "exec.spill_bytes"), ("input_bytes", "exec.input_bytes"),
    ):
        v[metric] = _mean([_c(sp, key) for _, sp, _ in ex])
    v["exec.slot_util"] = _ratio(
        sum(_c(sp, "executor_run_s") for _, sp, _ in ex),
        sum(sp.duration for _, sp, _ in ex) * cores,
    )
    v["exec.scan_rows_per_result_row"] = _ratio(
        sum(_c(sp, "input_records") for _, sp, _ in ex),
        sum(op.notes.get("result_rows", 0) for op, _, _ in ex),
    )

    v["py4j.calls"] = _mean([op.notes["py4j_calls"] for op in ops])
    v["py4j.s"] = _mean([op.notes["py4j_s"] for op in ops])

    v["ml.fit_s"] = setup["ml.fit"].duration if "ml.fit" in setup else 0.0
    score = list(_named(ops, "ml.score"))
    v["ml.score_s"] = _mean([sp.duration for _, sp, _ in score])
    v["ml.score_jobs"] = _mean([_c(sp, "jobs") for _, sp, _ in score])
    v["ml.score_py4j_calls"] = _mean([sp.py4j_calls for _, sp, _ in score])

    for fam, probe_kind in PROBE_KIND.items():
        pre = f"operators.{fam}."
        pb = list(_named(ops, pre + "probe_build"))
        pe = list(_named(ops, "exec", (probe_kind,)))
        up = list(_named(ops, pre + "upsert"))
        probes = [op for op in ops if op.kind == probe_kind]
        v[pre + "probe_build_s"] = _mean([sp.duration for _, sp, _ in pb])
        v[pre + "probe_exec_s"] = _mean([sp.duration for _, sp, _ in pe])
        v[pre + "probe_jobs"] = _mean([
            sum(_c(sp, "jobs") for sp in op.spans if sp.group) for op in probes
        ])
        v[pre + "first_probe_after_write_s"] = _mean(
            [op.wall for op in probes if op.notes.get("first_after_write")]
        )
        v[pre + "upsert_s"] = _mean([sp.duration for _, sp, _ in up])
        v[pre + "upsert_jobs"] = _mean([_c(sp, "jobs") for _, sp, _ in up])
        v[pre + "upsert_bytes_per_delta_byte"] = _ratio(
            sum(op.notes.get("bytes_written", 0) for op, _, _ in up),
            sum(op.notes.get("delta_bytes", 0) for op, _, _ in up),
        )
        if fam == "similarity":
            v[pre + "scan_rows_per_result_row"] = _ratio(
                sum(_c(sp, "input_records") for _, sp, _ in pe),
                sum(op.notes.get("result_rows", 0) for op, _, _ in pe),
            )

    pre = "sources.versioned."
    writes = [op for op in ops if op.kind in ("versioned_append", "versioned_merge")]
    reads = [op for op in ops if op.kind == "versioned_read"]
    v[pre + "commit_s"] = _mean([sp.duration for _, sp, _ in _named(ops, pre + "commit")])
    v[pre + "merge_s"] = _mean([sp.duration for _, sp, _ in _named(ops, pre + "merge")])
    v[pre + "read_s"] = _mean([op.wall for op in reads])
    v[pre + "files_scanned"] = _mean([op.notes.get("files_scanned", 0) for op in reads])
    v[pre + "files_skipped_frac"] = 1.0 - _ratio(
        sum(op.notes.get("files_scanned", 0) for op in reads),
        sum(op.notes.get("files_total", 0) for op in reads),
    ) if reads else 0.0
    v[pre + "bytes_written_per_user_byte"] = _ratio(
        sum(op.notes.get("bytes_written", 0) for op in writes),
        sum(op.notes.get("user_bytes", 0) for op in writes),
    )
    last = writes[-1].notes if writes else {}
    v[pre + "live_bytes_per_user_byte"] = _ratio(
        last.get("live_bytes", 0), last.get("live_user_bytes", 0)
    )

    batches = [b for op in ops for query in op.streams for b in query]
    streams = [op for op in ops if op.streams]
    v["streaming.batches"] = _ratio(len(batches), len(streams))
    v["streaming.batch_s"] = _mean([b["batch_s"] for b in batches])
    v["streaming.rows_per_s"] = _ratio(
        sum(b["rows"] for b in batches), sum(b["batch_s"] for b in batches)
    )

    v["proc.gc_s"] = gc_s
    v["proc.jvm_rss_mb"] = jvm_rss_mb
    v["proc.heap_peak_mb"] = heap_peak_mb

    for cls in ("score", "ann", "bm25", "write"):
        lat = [d.latency for d in untraced if d.op.cls == cls]
        v[f"class.{cls}_p50_s"] = stats.median(lat) if lat else 0.0
    v["trace.overhead_s"] = (
        stats.median([d.latency for d in traced]) - stats.median([d.latency for d in untraced])
    )
    v["trace.unspanned_s"] = _mean([op.unspanned() for op in ops])
    return {name: {"value": v[name], "unit": unit} for name, unit in PER_LAYER}

