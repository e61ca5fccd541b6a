"""One run of one workload: set-up, warm-up, timed closed loop(s),
output checks and metrics."""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
import traceback
from typing import Callable

from . import layers, stats
from .tracer import NullTracer, Span, Tracer
from .workloads import Context, Done, WarmGroup, Workload

#: op_tail_s is the highest percentile with this many samples above it.
#: Ten, as the design asked, needs about 100 operations to give a tail;
#: a run times 10 or 22, so the tail is the second slowest operation.
TAIL_MIN_ABOVE = 1

#: (name, unit) of every end-to-end metric, in report order
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)


def vm_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1e3


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the peak usage of the JVM's heap memory pools."""
    mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    ) / 2**20


def run_loop(ctx: Context, wl: Workload, ops: list, prefix: str) -> tuple[list[Done], float]:
    """Closed loop with one client over ``ops``. Returns the executed
    operations and their summed latency; bookkeeping between operations
    is not timed."""
    done: list[Done] = []
    busy = 0.0
    for op in ops:
        op.op_id = f"{prefix}{len(done)}.{op.kind}"
        ctx.tracer.begin_op(op.op_id, op.kind, op.cls)
        t0 = time.perf_counter()
        try:
            out, err = wl.execute(ctx, op), None
        except Exception as exc:  # a failed operation is counted, not fatal
            out, err = None, f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        lat = time.perf_counter() - t0
        busy += lat
        ctx.tracer.end_op()
        d = Done(op=op, latency=lat, output=out, error=err)
        wl.after(ctx, d)
        done.append(d)
    return done, busy


def warm_up(ctx: Context, wl: Workload,
            groups: list[WarmGroup]) -> tuple[list[Done], list[float]]:
    """Run the warm-up groups side by side, one thread each. Returns their
    operations group by group and each group's wall time. A group's
    ``prepare`` step runs in its thread first; an error there is raised
    here."""
    results: list[list[Done]] = [[] for _ in groups]
    walls = [0.0] * len(groups)
    errors: list[BaseException] = []

    def work(i: int, group: WarmGroup) -> None:
        t0 = time.perf_counter()
        try:
            if group.prepare is not None:
                group.prepare(ctx)
            results[i], _ = run_loop(ctx, wl, group.ops, f"w{i}.")
        except BaseException as exc:
            errors.append(exc)
        walls[i] = time.perf_counter() - t0

    threads = [threading.Thread(target=work, args=(i, g), name=f"warm-{i}", daemon=True)
               for i, g in enumerate(groups)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return [d for r in results for d in r], walls


def rounds(wl: Workload, rnd: random.Random, n: int) -> list:
    return [op for r in range(n) for op in wl.round_ops(rnd, r)]


BUILD_SPANS = "build_spans.json"


def build(spark, wl: Workload, dest: str, *, run_dir: str, data_dir: str) -> None:
    """Build a workload's artifacts into ``dest``, traced, and record the
    build's spans next to them for the traced runs to report."""
    tracer = Tracer(spark, wl.name)
    ctx = Context(spark=spark, data_dir=data_dir, run_dir=run_dir, tracer=tracer)
    tracer.install()
    try:
        wl.build_artifacts(ctx, dest)
    finally:
        tracer.uninstall()
    spans = [{"name": sp.name, "duration": sp.duration, "counters": sp.counters}
             for sp in tracer.setup_spans]
    with open(os.path.join(dest, BUILD_SPANS), "w") as f:
        json.dump(spans, f)


def build_spans(artifacts: str) -> list[Span]:
    with open(os.path.join(artifacts, BUILD_SPANS)) as f:
        return [Span(d["name"], start=0.0, end=d["duration"], op_id="build",
                     counters=d["counters"]) for d in json.load(f)]


def run(spark, wl: Workload, args, *, run_dir: str, data_dir: str, cores: int,
        artifacts: str | None, t_session: float, t_process_start: float,
        release: Callable[[], None]) -> tuple[dict, list[str]]:
    """One run. ``release`` stops the Spark session; it is called, in a
    thread of its own, once the checks need Spark no more."""
    rnd = random.Random(args.seed)
    tracer = Tracer(spark, wl.name) if args.trace else None
    ctx = Context(spark=spark, data_dir=data_dir, run_dir=run_dir,
                  tracer=tracer or NullTracer(), artifacts=artifacts)
    if tracer:
        tracer.install()
        tracer.setup_spans.append(
            Span("session.start", start=t_process_start, end=t_process_start + t_session,
                 op_id="setup")
        )
        if artifacts:
            tracer.setup_spans += build_spans(artifacts)
    wl.setup(ctx, rnd)
    t_setup = time.perf_counter()
    if tracer:
        tracer.uninstall()
        ctx.tracer = NullTracer()
    groups = wl.warm_groups(rnd)
    warm, walls = warm_up(ctx, wl, groups)
    t_ready = time.perf_counter()
    setup_s = t_ready - t_process_start

    n_rounds = wl.rounds_for(args.seconds)
    timed, busy = run_loop(ctx, wl, rounds(wl, rnd, n_rounds), "u")
    traced: list[Done] = []
    if tracer:
        tracer.install()
        ctx.tracer = tracer
        gc0 = jvm_gc_s(spark)
        traced, _ = run_loop(ctx, wl, rounds(wl, rnd, n_rounds), "t")
        gc_s = jvm_gc_s(spark) - gc0
        tracer.uninstall()
        ctx.tracer = NullTracer()

    rss_py = vm_kb("self", "VmHWM") / 1024
    rss_jvm = vm_kb(jvm_pid(spark), "VmHWM") / 1024
    heap_peak_mb = jvm_heap_peak_mb(spark) if tracer else 0.0

    # the checks' Spark work first; the session then stops while the
    # rest of the checks run
    every = warm + timed + traced
    wl.prepare_checks(ctx, every)
    stopping = threading.Thread(target=release, name="release-spark")
    stopping.start()
    try:
        verdicts = wl.check(ctx, every)
    finally:
        stopping.join()
    failures = [(d, v) for d, v in zip(every, verdicts) if v is not None]
    for d, v in failures[:10]:
        print(f"FAILED {d.op.op_id}: {v}", file=sys.stderr)

    lat = [d.latency for d in timed]
    for d in timed:  # the timed sequence, for a reader of the log
        print(f"timed {d.op.op_id:<28} {d.latency:.4f} s", file=sys.stderr)
    tail_pct = stats.tail_percentile(len(lat), TAIL_MIN_ABOVE)
    report = [
        f"workload {wl.name}  seed {args.seed}  cores {cores}  trace {args.trace}",
        f"ops timed {len(timed)} in {busy:.3f} s ({n_rounds} rounds of {wl.round_size}); "
        f"op_tail_s is p{tail_pct} of {len(lat)} ops ({TAIL_MIN_ABOVE} above it)",
        f"set-up {setup_s:.3f} s: session {t_session:.3f} s, workload set-up "
        f"{t_setup - t_process_start - t_session:.3f} s, warm-up {t_ready - t_setup:.3f} s "
        f"({len(warm)} ops in concurrent groups of "
        + ", ".join(f"{w:.1f}" for w in walls) + " s)",
    ]
    for cls in sorted({d.op.cls for d in timed}):
        c = [d.latency for d in timed if d.op.cls == cls]
        report.append(f"  class {cls:<8} n={len(c):<4} p50 {stats.median(c):.4f} s")
    report.append(f"failed_frac {len(failures) / len(every):.4f} "
                  f"({len(failures)} of {len(every)} checked ops)")

    if tracer:
        report += [f"  setup span {sp.name:<28} {sp.duration:.3f} s  jobs {sp.counters.get('jobs', 0)}"
                   for sp in tracer.setup_spans]
        metrics = layers.per_layer(tracer, untraced=timed, traced=traced,
                                   cores=cores, gc_s=gc_s, jvm_rss_mb=rss_jvm,
                                   heap_peak_mb=heap_peak_mb)
    else:
        values = {
            "setup_s": setup_s,
            "ops_per_s": len(timed) / busy,
            "op_p50_s": stats.median(lat),
            "op_tail_s": stats.percentile(lat, tail_pct),
            "peak_rss_mb": rss_py + rss_jvm,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    report += [f"{k:<46} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    result = {
        "correct": not failures,
        "attempted": len(every),
        "failed": len(failures),
        "metrics": metrics,
    }
    return result, report
