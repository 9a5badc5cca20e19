"""Run hygiene: private directories, environment, session start and a
clean stop of every process the run starts.

* Spark runs on ``local[nproc]`` through ``SPARK_GRAFT_CPUS`` (nproc is
  the CPU affinity of this process, not ``OMP_NUM_THREADS``).
* ``SPARK_LOCAL_DIRS``, the warehouse and the event log live in a
  private run directory that is removed at exit.
* The repo root is put on ``PYTHONPATH`` before the JVM starts, so
  Python workers import ``stockify_spark`` whatever the working
  directory is.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
CANARY_ROWS = 5_000_000
CANARY_REPEATS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """A private scratch directory for one run, removed by :meth:`close`."""

    def __init__(self) -> None:
        os.makedirs(WORK, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=WORK)
        self.cpus = nproc()
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(run: RunDir, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": run.sub("warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run.sub("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(run: RunDir, event_log: bool):
    # looked up on the module at call time, so a traced run's wrapper
    # around session.get_spark sees the call
    from stockify_spark import session

    spark = session.get_spark("perfbench", extra_conf=spark_conf(run, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    on a virtual machine, steal is the time its CPUs waited for the host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def canary_ms(spark) -> float:
    """A fixed CPU-bound job, best of a few tries; its time shows a
    loaded machine. Recorded in the run's output, never a metric."""
    best = float("inf")
    for _ in range(CANARY_REPEATS):
        t0 = time.perf_counter()
        spark.range(0, CANARY_ROWS, 1, nproc()).selectExpr("sum(hash(id))").collect()
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM (and with
    it the Python worker daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
