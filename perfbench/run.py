"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_jdbc --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout (the directory holding ``flink_job_spark``).
It generates the workload's inputs from ``--seed``, sets up several times
(reporting the median as ``setup_s``), runs one cold op and an untimed
warm-up, then measures ops in a closed loop for ``--seconds`` seconds of op
time, checking every op's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer ones.
The line before it holds the details (host, sample counts, tail percentile,
per-op failures).

``--inject 1`` corrupts the first measured op (see README.md) to show that
the output gate counts it.

Everything the run writes (targets, checkpoints, Derby DB, ``derby.log``,
``spark-warehouse``, Spark scratch space) lives under ``.perfbench_work/`` in
the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import traceback

from workloads import nproc

WORK_DIR = ".perfbench_work"
# driver heap, well below the memory of a small shared host; the JVM starts
# at this size (-Xms) so that heap resizing adds no run-to-run noise
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_jdbc", "stream_resume", "query_mix"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--inject", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def other_spark_jvms() -> list[int]:
    """PIDs of Spark driver JVMs already running on this host."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(pid))
    return pids


def configure_env(root: str, work: str, cpus: int) -> None:
    """Session sizing and scratch locations, set before the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                      "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers (the paged DataSource) import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)


def stop_spark() -> None:
    """Stop the session and its JVM, and wait for the JVM to exit. Each step
    runs even if the one before failed (the JVM may already be gone)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    with contextlib.suppress(Exception):
        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()
    if gw is None:
        return
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def host_info(cpus: int) -> dict:
    import duckdb
    import pyspark

    return {"nproc": cpus, "loadavg": os.getloadavg(), "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0]}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_job_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds flink_job_spark/",
              file=sys.stderr)
        return 2
    cpus = nproc()
    others = other_spark_jvms()
    base = os.path.join(root, WORK_DIR)
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    configure_env(root, work, cpus)
    sys.path.insert(0, root)
    os.chdir(work)  # derby.log, spark-warehouse and metastore_db land here
    try:
        import measure

        correct, attempted, failed, metrics, details = measure.run(args, work)
    finally:
        os.chdir(root)
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(base)
    details["host"] = host_info(cpus)
    details["other_spark_jvms"] = others
    if others:
        print(f"perfbench: WARNING {len(others)} other Spark JVM(s) were live: {others}",
              file=sys.stderr)
    print(json.dumps(details, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # on SIGTERM, unwind through main's cleanup: stop the JVM, drop the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
