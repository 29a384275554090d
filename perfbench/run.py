"""Repo benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload board_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The program under test is the
``trello_github_etl_spark`` package next to this directory; it runs in
one process on ``local[<cpus>]`` and is driven only through its public
functions. Inputs are generated from ``--seed``, outputs are checked,
and the last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``; spans are also written to ``.perfbench_out/``).
Scratch files go to ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("board_etl", "registry_sf01")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "trello_github_etl_spark", "__init__.py")):
        print(f"perfbench: no trello_github_etl_spark package under {ROOT}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    cpus = len(os.sched_getaffinity(0))
    # read at import time by the program; workers need both packages
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = work_dir
    # keep every JVM's scratch files, perf-data file included, out of
    # /tmp; keep JIT compiler threads alive, so that their CPU, which
    # the CPU metrics leave out, stays readable per thread
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work_dir} "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    sys.path.insert(0, ROOT)

    # the program first, so nothing later can resolve it from elsewhere
    import trello_github_etl_spark  # noqa: F401

    from perfbench import workloads

    try:
        result = workloads.run(
            args.workload,
            args.seed,
            args.seconds,
            bool(args.trace),
            work_dir,
            os.path.join(ROOT, ".perfbench_out"),
        )
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_jvm() -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    # the JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
