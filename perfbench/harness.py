"""Session lifecycle, timing, memory and output checks shared by the workloads.

The session is the engine's own (``session.get_spark``): every engine default
stays, AQE included.  Only the master, the memory settings and the local
directories are overridden, so the benchmark fits a small machine and writes
nothing outside its work directory.
"""

from __future__ import annotations

import os
import subprocess
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tracing import Tracer

# Driver heap, with off-heap memory off: the whole JVM stays well inside the
# physical memory of a 4-core, 15 GB machine shared with other processes.
# The heap starts at its full size, so no run pays for growing it.
DRIVER_MEMORY = "2g"
OFF_HEAP = "false"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """One driver JVM; its SparkContext can be restarted with another
    master or with the event log on, without paying a second JVM start."""

    def __init__(self, work: str, tracer: Tracer):
        self.work = work
        self.tracer = tracer
        self.spark = None
        self._jvm_pid = None
        self.java_version = None
        for sub in ("local", "tmp", "warehouse", "events"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)

    def conf(self, event_log: bool) -> dict[str, str]:
        from uncharted_ta1_spark.session import _DEFAULTS

        java_opts = _DEFAULTS["spark.driver.extraJavaOptions"]
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"{java_opts} -Xms{DRIVER_MEMORY}",
            "spark.memory.offHeap.enabled": OFF_HEAP,
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self, master: str, *, event_log: bool = False) -> float:
        """Start (or restart) the SparkContext; returns the seconds taken
        until a first trivial job has run."""
        from uncharted_ta1_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            master=master, app_name="perfbench", extra_conf=self.conf(event_log)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.tracer.attach(self.spark.sparkContext)
        if self._jvm_pid is None:
            jvm = self.spark.sparkContext._jvm
            self._jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
            self.java_version = jvm.java.lang.System.getProperty("java.version")
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        """Driver JVM plus this Python process, peak resident sets."""
        return vm_hwm_mb(self._jvm_pid) + vm_hwm_mb("self")

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM process has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def noop(df: DataFrame) -> None:
    """Execute a plan fully, discarding its rows."""
    df.write.format("noop").mode("overwrite").save()


def digest(df: DataFrame) -> tuple[int, int, int]:
    """(rows, leaking rows, order-free content hash) of a feature output in
    one job.  A leaking row matched a state row later than its probe."""
    row_hash = F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
    leak = F.when(F.col("asof_event_epoch") > F.col("ts_epoch"), 1).otherwise(0)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(leak).alias("leak"),
        F.sum(row_hash).alias("h"),
    ).first()
    return int(r["n"]), int(r["leak"] or 0), int(r["h"] or 0)


def timed_loop(window_s: float, min_reps: int, op) -> list[float]:
    """Run ``op()`` back to back (closed loop, one client) until ``window_s``
    has passed and at least ``min_reps`` ran; returns each call's seconds."""
    times: list[float] = []
    t_end = time.perf_counter() + window_s
    while len(times) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        op()
        times.append(time.perf_counter() - t0)
    return times


class Tally:
    """Attempted and failed operations; a failed correctness check counts
    as a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok
