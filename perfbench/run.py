"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 7 --trace 0

Runs one workload (see workloads.py) on inputs generated from --seed,
checks every answer against the NumPy oracle, and prints as its last
stdout line one JSON object: correct, attempted, failed and metrics —
the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1. Works from any directory: the repository root is found from
this file's location and handed to Spark's Python workers.

Everything the run writes stays under ``<repo>/.perfbench``: the
per-run work directory (corpus, catalog roots, Spark scratch) is
deleted at the end; span dumps and untraced-run summaries are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"  # driver JVM heap; local mode runs the executors in it


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python
    workers under it, and wait until every one of them has exited."""
    from pyspark import SparkContext

    from spans import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in kids) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import pisa_spark  # noqa: F401  (fails fast outside a full checkout)
    import workloads
    from spans import RssSampler

    if args.workload not in workloads.RUNNERS:
        ap.error(f"--workload must be one of {sorted(workloads.RUNNERS)}")
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "PISA_SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata file: the JVM would write it under /tmp
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    os.environ.update(settings)
    print("settings:", json.dumps(settings), flush=True)
    print(
        f"workload {args.workload} ({workloads.RUNNERS[args.workload].__doc__}),"
        f" seed {args.seed}, {args.seconds:g} s, trace {args.trace};"
        f" one closed-loop client on local[{cpus}]",
        flush=True,
    )
    os.makedirs(settings["TMPDIR"])
    try:
        with RssSampler() as rss:
            from pisa_spark.session import get_spark

            spark = get_spark(app_name="perfbench")
            try:
                result = workloads.run(
                    args.workload, spark, work, OUT_DIR, args.seed,
                    args.seconds, bool(args.trace), t_start, rss,
                )
            finally:
                t_stop = time.perf_counter()
                stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    t_end = time.perf_counter()
    print(
        f"wall {t_end - t_start:.1f} s, of which stopping Spark"
        f" {t_end - t_stop:.1f} s",
        flush=True,
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
