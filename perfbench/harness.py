"""Engine session set-up shared by every workload, and small helpers around
the engine's public surfaces (session factory, status tracker)."""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from bigdata_streaming_absa_vehicle_spark.session import get_spark

from measure import median, tree

#: cold set-ups per run; setup_s is their median
SETUPS = 3
#: engine cores, unless the environment sets them
CPUS = 4


@dataclass
class SetupTimes:
    start_s: list[float] = field(default_factory=list)
    warmup_s: list[float] = field(default_factory=list)

    def total_median(self) -> float:
        return median([a + b for a, b in zip(self.start_s, self.warmup_s)])


class Engine:
    """Owns the SparkSession of a run. `setup()` builds a session with the
    engine's factory (launching the JVM when none runs) and runs the
    workload's warm-up; `restart()` stops the session and builds a new one
    (a new SparkContext in the same JVM)."""

    def __init__(self, warmup: Callable, extra_conf: dict[str, str]) -> None:
        self.warmup = warmup
        self.extra_conf = extra_conf
        self.spark = None
        self.times = SetupTimes()

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.extra_conf)
        t1 = time.perf_counter()
        self.warmup(self.spark)
        t2 = time.perf_counter()
        self.times.start_s.append(t1 - t0)
        self.times.warmup_s.append(t2 - t1)

    def setup_repeatedly(self) -> None:
        """SETUPS cold set-ups: each launches the JVM, and every one but the
        last shuts it down again; the last session stays for the run."""
        for i in range(SETUPS):
            if i:
                self.stop()
                self.shutdown_jvm()
            self.setup()

    def restart(self, extra_conf: dict[str, str] | None = None) -> None:
        """A fresh session with different configuration; not timed as set-up."""
        self.stop()
        self.spark = get_spark("perfbench", extra_conf={**self.extra_conf, **(extra_conf or {})})

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        """End the JVM the session factory launched and every other process
        under this one (the JVM's Python workers), and wait for each to
        exit. Sessions are stopped first, so nothing is left for the JVM's
        shutdown hooks to save."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap_descendants()


#: prctl option that re-parents orphaned descendants to the caller
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent ends (a Python worker of a stopped JVM) is re-parented
    here rather than to init, so `reap_descendants` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants() -> None:
    """Kill every process still running under this one and wait until each
    has ended. Grandchildren whose parents die are re-parented here (see
    `adopt_orphans`) and are waited for in a later round."""
    me = os.getpid()
    while True:
        for pid in tree(me)[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def isolate(out_dir: str) -> dict[str, str]:
    """Point every scratch path of the engine (shuffle and state-store
    working files, JVM and Python temp files) inside `out_dir`, and fix the
    resources a run gets, so runs on different hosts compare. Returns the
    session configuration that carries the JVM-side temp directory. The
    driver heap stays at the engine's own setting."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(CPUS, len(os.sched_getaffinity(0)))))
    # -XX:-UsePerfData: no hsperfdata file, which the JVM writes under /tmp
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
