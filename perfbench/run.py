"""sparkcrawl benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload crawl_bulk --seed 0 --seconds 30 --trace 0

Run from the root of a repository checkout.  The benchmark starts one
Spark session on ``local[<cores>]``, builds its inputs from ``--seed``,
sets up the workload, then repeats the workload's unit of work (one
crawl, or one pass over the analytics leaves) while the next unit is
expected to end within ``--seconds`` of measured time, at least once.
It checks every output and prints, as the last line of stdout, one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones.  Logs go to stderr.  The exit code is
0 only when every output check passed; all state lives in a fresh
directory under ``.perfbench_work/`` in the checkout and is removed on
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_bulk", "crawl_cuckoo", "analytics_warm")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def box_cores() -> int:
    """CPUs this process may run on (what ``env -u OMP_NUM_THREADS
    nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_heap_gb() -> int:
    """A quarter of physical memory, within 2..8 GB: the driver JVM
    shares the box with the Python workers."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return max(2, min(8, kb // (4 << 20)))


def make_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("sparkcrawl-perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", f"{driver_heap_gb()}g")
        # no JVM perf-data file in /tmp: the run writes only under `work`
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # per-round / per-leaf rollups read every job and stage of the run
        # back from the status store: never let it drop one
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit: the gateway JVM ends when its stdin pipe closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # a smaller shape of the same workload, for the benchmark's self-test
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkcrawl", "rounds.py")):
        log(f"no sparkcrawl package in {ROOT}: run from a repository checkout")
        return 2
    t_start = time.time()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import sparkcrawl from the checkout, and every
    # tempfile user (sources._scratch among them) writes under the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    spark = None
    try:
        import workloads
        cores = box_cores()
        spark = make_session(work, cores)
        spark.range(1).count()  # the JVM and first job are set-up too
        session_s = time.time() - t_start
        log(f"session local[{cores}] up in {session_s:.1f}s")
        result = workloads.run(
            args.workload, spark, work, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), tiny=args.tiny, session_s=session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for err in result.errors:
        log(f"CHECK FAILED: {err}")
    print(json.dumps(result.as_json()), flush=True)
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
