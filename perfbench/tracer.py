"""Span and counter recorder for the traced run.

Everything here is measured from outside the engine: spans wrap the
calls the benchmark makes into the engine's layers, Spark counters come
from the driver's in-process status store (which works with
``spark.ui.enabled=false``), and py4j round trips are counted by
wrapping the gateway client's ``send_command`` in this process.

A span gets its own Spark job group,
``bench:<workload>:<op>:<phase>``, so the jobs that run inside it are
attributed to it. The store is read after every operation, outside the
timed section, so stages are counted before the store evicts them.
Spans stay in memory; the caller turns them into metrics at the end.

:class:`NullTracer` has the same interface and does nothing; untimed
runs use it so that end-to-end metrics carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Iterator

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "job_s", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "input_records",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str = ""
    group: str | None = None
    py4j_calls: int = 0
    py4j_s: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover; children
    that overlap each other are counted once."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` on the instance, so every proxy object sharing the
    client goes through the wrapper. Counts only while ``active``."""

    def __init__(self, gateway_client) -> None:
        self.client = gateway_client
        self.calls = 0
        self.seconds = 0.0
        self.active = False
        self._orig = None

    def install(self) -> None:
        orig = self.client.send_command

        def counted(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        self._orig = orig
        self.client.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            del self.client.send_command  # drop the instance override
            self._orig = None


class SparkCounters:
    """Per-job-group counters read from the driver's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        gw = self.sc._gateway
        self.no_status = gw.jvm.java.util.ArrayList()
        self.no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self.bus.waitUntilEmpty(30_000)

    def group(self, group: str) -> dict:
        out = dict.fromkeys(COUNTER_KEYS, 0)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        intervals = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self.store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        out["jobs"] = len(job_ids)
        if intervals:
            out["job_s"] = covered(
                intervals, min(a for a, _ in intervals), max(b for _, b in intervals)
            )
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self.no_status, False, self.no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
        return out


@dataclass
class OpRecord:
    op_id: str
    kind: str
    cls: str
    start: float
    end: float = 0.0
    spans: list[Span] = field(default_factory=list)
    notes: dict = field(default_factory=dict)
    streams: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def top_spans(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def unspanned(self) -> float:
        """Operation wall time no top-level span accounts for."""
        return self.wall - covered(
            [(s.start, s.end) for s in self.top_spans()], self.start, self.end
        )


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    traced = False

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None) -> Iterator[None]:
        yield

    def begin_op(self, op_id: str, kind: str, cls: str) -> None:
        pass

    def end_op(self) -> None:
        pass

    def note(self, key: str, value: float) -> None:
        pass


class Tracer:
    """Records spans, job-group counters, py4j calls and streaming
    progress for each operation (and for set-up work outside any op)."""

    traced = True

    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.counters = SparkCounters(spark)
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)
        self.setup_spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._op: OpRecord | None = None
        self._stack: list[int] = []  # indexes of the open spans
        self._stream_patch = None

    # -- lifecycle -------------------------------------------------------
    def install(self) -> None:
        self.py4j.install()
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig_start = DataStreamWriter.start
        tracer = self

        def start(writer, *args, **kwargs):
            query = orig_start(writer, *args, **kwargs)
            if tracer._op is not None:
                open_span = tracer._stack[-1] if tracer._stack else None
                tracer._op.streams.append((query, open_span))
            return query

        DataStreamWriter.start = start
        self._stream_patch = (DataStreamWriter, orig_start)

    def uninstall(self) -> None:
        self.py4j.uninstall()
        if self._stream_patch is not None:
            cls, orig = self._stream_patch
            cls.start = orig
            self._stream_patch = None

    # -- spans -----------------------------------------------------------
    def _spans(self) -> list[Span]:
        return self._op.spans if self._op is not None else self.setup_spans

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None) -> Iterator[None]:
        spans = self._spans()
        op_id = self._op.op_id if self._op is not None else f"setup-{name}"
        group = None
        if phase is not None:
            group = f"bench:{self.workload}:{op_id}:{phase}"
            self._set_group(group, name)
        sp = Span(name=name, start=time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None, op_id=op_id, group=group)
        spans.append(sp)
        self._stack.append(len(spans) - 1)
        calls0, secs0 = self.py4j.calls, self.py4j.seconds
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self.py4j.calls - calls0
            sp.py4j_s = self.py4j.seconds - secs0
            self._stack.pop()
            if group is not None:
                self._set_group(f"bench:{self.workload}:idle", "")
            if self._op is None:  # set-up spans are read right away
                self._read_counters([sp])

    @contextlib.contextmanager
    def _uncounted(self) -> Iterator[None]:
        """Keep the tracer's own py4j calls out of the counts (py4j calls
        are counted inside operations only)."""
        was, self.py4j.active = self.py4j.active, False
        try:
            yield
        finally:
            self.py4j.active = was

    def _set_group(self, group: str, description: str) -> None:
        with self._uncounted():
            self.sc.setJobGroup(group, description)

    # -- operations ------------------------------------------------------
    def begin_op(self, op_id: str, kind: str, cls: str) -> None:
        self._op = OpRecord(op_id=op_id, kind=kind, cls=cls, start=time.perf_counter())
        self._op_calls0 = (self.py4j.calls, self.py4j.seconds)
        self.py4j.active = True

    def end_op(self) -> None:
        """Close the current operation and read its counters. The caller
        excludes this from timed work."""
        op = self._op
        op.end = time.perf_counter()
        self.py4j.active = False
        op.notes["py4j_calls"] = self.py4j.calls - self._op_calls0[0]
        op.notes["py4j_s"] = self.py4j.seconds - self._op_calls0[1]
        self._op = None
        self._read_counters(op.spans)
        # a streaming query runs its batches under its own job group (the
        # run id); charge them to the span that started the query
        queries, op.streams = op.streams, []
        for query, idx in queries:
            if idx is not None:
                with self._uncounted():
                    extra = self.counters.group(str(query.runId))
                sp = op.spans[idx]
                sp.counters = {k: sp.counters.get(k, 0) + v for k, v in extra.items()}
            op.streams.append(_progress(query))
        self.ops.append(op)

    def note(self, key: str, value: float) -> None:
        """Attach a measured value to the current (or last) operation."""
        target = self._op if self._op is not None else self.ops[-1]
        target.notes[key] = target.notes.get(key, 0) + value

    def _read_counters(self, spans: list[Span]) -> None:
        grouped = [s for s in spans if s.group is not None]
        if not grouped:
            return
        with self._uncounted():
            self.counters.drain()
            for sp in grouped:
                sp.counters = self.counters.group(sp.group)


def _progress(query) -> list[dict]:
    """Per-batch progress of a finished streaming query, from the public
    ``StreamingQuery.recentProgress``."""
    return [
        {"rows": int(p.numInputRows), "batch_s": p.batchDuration / 1e3}
        for p in query.recentProgress
    ]
