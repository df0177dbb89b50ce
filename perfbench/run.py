"""Spatial benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload window_query --seed 1 --seconds 6 --trace 0

Run from the repository root. It starts a ``local[N]`` Spark session
(N = usable cores), generates seeded inputs, sets up the workload's lake
(three times; the median is ``setup_s``), loops the workload's operation
for ``--seconds``, checks every result against a NumPy oracle and prints
human-readable lines followed by one JSON result line. ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones.

Everything it writes stays under ``.perfbench_work/`` (removed at exit)
and, for traced runs, ``.perfbench_out/`` (span files).
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
WORKLOADS = ("window_query", "zone_join", "z2_ingest")


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap keeps the JVM's resident set from depending on
        # when the collector chose to grow it
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from tracing import descendants

    workers = descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "geomesa_hive_spark", "__init__.py")):
        print(f"perfbench: no geomesa_hive_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers are started by the JVM and find the package through this
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))

    from workloads import run_workload

    from geomesa_hive_spark import register_all

    spark = start_spark(work, cores)
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        register_all(spark)
        spans = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
        result, lines = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), work, jvm_pid, cores, spans
        )
    finally:
        stop_spark(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
