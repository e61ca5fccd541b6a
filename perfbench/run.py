"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run works in a fresh directory under
``.bench_build/perfbench/`` (index dir, Spark local dirs, tables,
checkpoints, warehouse); it is deleted at the end, so the repository's
own ``.indexes/`` and ``.fixtures/`` are never written. A workload with
prebuilt artifacts (serve_mixed's indexes and model) builds them on its
first run in a checkout, in a child process, into
``.bench_build/perfbench/artifacts/``; later runs reuse them.

Untraced (``--trace 0``) runs give the end-to-end metrics. A traced run
(``--trace 1``) times the same loop once untraced and once traced and
gives the per-layer metrics, including the difference between the two
(tracing overhead). Human-readable lines go first; the last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEMORY = "1g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - process_age_s()


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-into", metavar="DIR",
                   help="only build the workload's artifacts into DIR")
    args = p.parse_args(argv)
    if args.build_into is None and (args.seed is None or args.seconds is None):
        p.error("--seed and --seconds are required")
    return args


def isolate(run_dir: str, cores: int) -> None:
    """Point every writer at the run directory before Spark starts."""
    for sub in ("idx", "local", "work", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "idx"),
        "SPARK_GRAFT_SF_DIR": DATA_DIR,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM (the launcher too): no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    os.chdir(os.path.join(run_dir, "work"))


def start_spark(run_dir: str, cores: int, workload: str):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import get_spark

    work = os.path.join(run_dir, "work")
    return get_spark(
        app_name=f"perfbench-{workload}",
        cpus=str(cores),
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def ensure_artifacts(wl) -> str | None:
    """Path of the workload's prebuilt artifacts, building them first in
    a child process when this checkout has none yet."""
    key = wl.artifacts_key(ROOT, DATA_DIR)
    if key is None:
        return None
    path = os.path.join(BUILD_DIR, "artifacts", f"{wl.name}-{key}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl.name, "--build-into", tmp]
    subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, check=True, timeout=900)
    try:
        os.replace(tmp, path)
    except OSError:  # another run published the same artifacts first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    if not os.path.isfile(os.path.join(ROOT, workloads.ENGINE, "__init__.py")):
        print(f"engine package {workloads.ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"benchmark data not found at {DATA_DIR}", file=sys.stderr)
        return 2
    try:
        wl = workloads.get(args.workload)
    except KeyError:
        print(f"unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2

    # Everything the JVM, Spark and libraries print goes to stderr; the
    # report is written to the saved stdout at the end, so the JSON
    # result is the last line there.
    out_fd = os.dup(1)
    os.dup2(2, 1)

    # a first run's artifact build is not part of its set-up time
    t0 = time.perf_counter()
    artifacts = None if args.build_into else ensure_artifacts(wl)
    t_start = T_PROCESS_START + (time.perf_counter() - t0)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD_DIR, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    isolate(run_dir, cores)
    spark = None

    def release() -> None:
        nonlocal spark
        session, spark = spark, None
        if session is not None:
            stop_spark(session)

    try:
        spark = start_spark(run_dir, cores, args.workload)
        if args.build_into:
            harness.build(spark, wl, args.build_into, run_dir=run_dir, data_dir=DATA_DIR)
            return 0
        result, report = harness.run(
            spark, wl, args, run_dir=run_dir, data_dir=DATA_DIR, cores=cores,
            artifacts=artifacts, t_session=time.perf_counter() - t_start,
            t_process_start=t_start, release=release,
        )
    finally:
        try:
            release()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
    with os.fdopen(out_fd, "w") as out:
        for line in report:
            out.write(line + "\n")
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
