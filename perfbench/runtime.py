"""Process plumbing for one benchmark run: the run directory, the Spark
session and its shutdown, Spark work counters per phase, and memory."""

from __future__ import annotations

import os
import resource
import shlex
import shutil
import subprocess
import sys
import tempfile
from contextlib import contextmanager

# The host sizing every run uses: one local Spark executor per core the
# process may run on, and a driver heap cap far below the 32g default of
# ``lshrs_spark.session`` (the benchmark's data is tens of MB).  The heap
# starts at its cap: letting G1 grow it on demand made warm query_batch
# times and the JVM's peak RSS vary by about 15% from run to run.
DRIVER_MEM = "1g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def make_run_dir(root: str) -> str:
    """A fresh directory under ``<root>/.perfbench`` for the index, the
    store, the Spark warehouse and ``SPARK_LOCAL_DIRS``; the caller
    removes it at exit."""
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run = tempfile.mkdtemp(prefix="run-", dir=base)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run, sub))
    return run


def configure_env(run_dir: str, cpus: int) -> None:
    """Point every scratch location Spark, the JVM and the Python
    workers use into ``run_dir``; must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote("spark.sql.warehouse.dir=" +
                              os.path.join(run_dir, "warehouse")),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session, then end the py4j-launched JVM and wait for it,
    so no process outlives the run (the JVM exits when its stdin
    closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    base = os.path.dirname(run_dir)
    try:
        os.rmdir(base)  # only when no other run or trace is in it
    except OSError:
        pass


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> tuple[float, float]:
    """Driver Python ``ru_maxrss`` and the JVM's ``VmHWM``, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


class SparkPhases:
    """Tags Spark jobs with one job group per benchmark phase and reads
    jobs, stages, tasks and failed tasks back from ``statusTracker()``
    (which works with the UI disabled)."""

    IDLE = "perfbench-idle"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sc.setJobGroup(self.IDLE, self.IDLE)

    @contextmanager
    def phase(self, name: str):
        self.sc.setJobGroup(f"perfbench-{name}", name)
        try:
            yield
        finally:
            self.sc.setJobGroup(self.IDLE, self.IDLE)

    def counters(self, name: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(f"perfbench-{name}"))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            st = tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}

