"""Shared run context: host pinning, the Spark session's lifetime and
the correctness ledger every workload reports into."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

from .trace import NullTracer, Tracer


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory_gb() -> int:
    """A quarter of the host's memory, between 1 and 8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return 2
    return max(1, min(8, kb // (4 * 1024 * 1024)))


def cpu_ticks() -> tuple[int, int] | None:
    """(all, stolen) CPU ticks from /proc/stat, where the host has one."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(vals), vals[7] if len(vals) > 7 else 0


def host_note(start: tuple[int, int] | None) -> str:
    """One line on how busy the host was: CPU time stolen by the
    hypervisor since ``start`` and the load average."""
    end = cpu_ticks()
    steal = ""
    if start and end and end[0] > start[0]:
        steal = f"steal={100.0 * (end[1] - start[1]) / (end[0] - start[0]):.1f}% "
    return f"# host: {steal}load1={os.getloadavg()[0]:.2f}"


def log(msg: str) -> None:
    print(f"[nrtbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Bench:
    work: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    spark: object = None
    tracer: object = field(default_factory=NullTracer)
    attempted: int = 0
    failed: int = 0
    # timed iterations (perf_counter intervals) the per-layer figures
    # are normalised by
    windows: list = field(default_factory=list)
    # per-layer figures a workload measures itself (trace runs only)
    extras: dict = field(default_factory=dict)
    # lines printed before the result, e.g. the tail's percentile and n
    notes: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        """One correctness check; a failure counts in ``failed``."""
        self._count(ok)
        if not ok:
            log(f"check failed: {what}")
        return ok

    def _count(self, ok: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += not ok

    def op(self, fn, what: str):
        """Run one operation; an exception counts as a failed operation
        and returns None."""
        try:
            out = fn()
        except Exception as e:  # the run reports the failure and goes on
            self._count(False)
            log(f"operation failed: {what}: {type(e).__name__}: {e}")
            return None
        self._count(True)
        return out

    # -- Spark ----------------------------------------------------------------

    def start_spark(self) -> None:
        from nrtwithdeltalake_spark.session import build_spark

        conf = {
            "spark.driver.memory": f"{driver_memory_gb()}g",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
            })
        self.spark = build_spark(app_name="nrtbench", master=f"local[{self.cpus}]",
                                 shuffle_partitions=self.cpus, extra_conf=conf)
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def prepare_host(repo: str, work: str) -> int:
    """Pin the environment before the JVM starts: Python workers import
    the package from the repo root, Spark and Python keep temporary
    files in the work directory. Returns the CPU count to use."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = host_cpus()
    paths = [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included, keeps its temporary
    # files here and writes no perf-data files to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def now() -> float:
    return time.perf_counter()
