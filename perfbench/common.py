"""Run context shared by the workloads: owned scratch, Spark session, stamp, statistics."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import tempfile
import time
import uuid

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench", "out")
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench", "scratch")
# A run counts as contended when other processes kept this many cores busy
# in the half second before it started (a quarter of a 4-core box).
CONTENDED_BUSY_CORES = 1.0


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def busy_cores(window_s: float = 0.5) -> float:
    """Cores kept busy over ``window_s`` seconds, from /proc/stat."""

    def sample():
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        idle = vals[3] + vals[4]
        return sum(vals) - idle, sum(vals)

    b0, t0 = sample()
    time.sleep(window_s)
    b1, t1 = sample()
    return (b1 - b0) / max(1, t1 - t0) * os.cpu_count()


class Scratch:
    """A fresh directory tree the run owns: TMPDIR, Spark local dirs, inputs, work.

    The environment points every temp-file user at it before Spark starts;
    ``close`` removes the whole tree.
    """

    def __init__(self, root: str | None = None):
        self.root = root or os.path.join(SCRATCH_PARENT, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tmp = os.path.join(self.root, "tmp")
        self.spark_local = os.path.join(self.root, "spark-local")
        self.inputs = os.path.join(self.root, "inputs")
        self.work = os.path.join(self.root, "work")
        self.eventlog = os.path.join(self.root, "eventlog")
        for d in (self.tmp, self.spark_local, self.inputs, self.work):
            os.makedirs(d, exist_ok=root is not None)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.spark_local
        tempfile.tempdir = self.tmp

    def bytes_left(self) -> int:
        """Bytes the program and its engine left under TMPDIR and the Spark local dirs."""
        return tree_bytes(self.tmp) + tree_bytes(self.spark_local)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_PARENT)
        except OSError:
            pass


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def session_confs(scratch: Scratch, trace: bool) -> dict[str, str]:
    from perfbench.trace import event_log_confs

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": scratch.spark_local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch.tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(scratch.work, "warehouse"),
    }
    if trace:
        confs.update(event_log_confs(scratch.eventlog))
    return confs


def start_spark(scratch: Scratch, trace: bool, app: str):
    from velib_lakehouse_spark.session import get_spark

    spark = get_spark(app_name=app, cpus=cpus(), extra_confs=session_confs(scratch, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers under it) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from pyspark import SparkContext

    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stamp(seed: int) -> dict:
    import pyspark

    busy = busy_cores()
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpus_used": cpus(),
        "pyspark": pyspark.__version__,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g"),
        "loadavg_1m_before": os.getloadavg()[0],
        "busy_cores_before": round(busy, 3),
        "contended": busy >= CONTENDED_BUSY_CORES,
    }


def tail(values: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above it, and that percentile.

    With fewer than twenty samples no percentile above the median has ten
    samples beyond it, so the median is returned (percentile 50).
    """
    xs = sorted(values)
    n = len(xs)
    pct = 50
    for p in range(99, 50, -1):
        if n - math.ceil(n * p / 100) >= 10:
            pct = p
            break
    return float(np.percentile(xs, pct)), pct


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def write_json(name: str, obj) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, name)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    return path


def log(msg: str) -> None:
    print(msg, flush=True)


class Outcome:
    """What one workload run measured.

    ``samples`` are the timed operations' latencies; ``units`` the work
    they completed correctly (events landed, requests answered in time,
    queries run) over ``units_base_s`` seconds.  ``named`` holds the
    workload's own metric names, ``layers`` the traced per-layer values.
    """

    def __init__(self, setup_s: float):
        self.setup_s = setup_s
        self.samples: list[float] = []
        self.units = 0.0
        self.units_base_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.named: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}

    def record(self, problems: list[str]) -> bool:
        """Count one operation or check, failed when it has problems; True when it passed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        return not problems
