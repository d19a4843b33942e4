"""Shared pieces of the benchmark: settings, the Spark session factory used
by every workload, spans, percentiles, process age and memory readings."""

from __future__ import annotations

import json
import os
import resource
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
# Cores of the local master every workload runs on.
CPUS = 4


def load_config() -> dict:
    """The fixed ``hot_path`` settings."""
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start stamp
    (clock-tick resolution), so that interpreter start-up and imports count."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]); 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    ok: bool = True


@dataclass
class Tracer:
    """Spans kept in memory around each public call, written out at exit."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, name: str, start: float, end: float, parent: str | None = None, ok: bool = True):
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(Span(name, start, end, parent, self.run_id, ok))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set (MB) of this Python process, of the driver JVM and
    its direct children, and their sum."""
    py_kb = max(_hwm_kb("self"), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        jvm_kb = _hwm_kb(proc.pid)
        try:  # spark-submit may run the JVM as a child of the launcher
            with open(f"/proc/{proc.pid}/task/{proc.pid}/children") as f:
                jvm_kb += sum(_hwm_kb(c) for c in f.read().split())
        except OSError:
            pass
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0, "total": (py_kb + jvm_kb) / 1024.0}


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    processes started by the JVM (Python workers) stay reachable by
    :func:`stop_processes` after the JVM has exited."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    pids: list[int] = []
    for task in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{task}/children") as f:
                pids += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return pids


def _reap(timeout_s: float) -> bool:
    """Wait up to ``timeout_s`` for every child to end; True if none is left."""
    deadline = time.time() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return True
        if time.time() >= deadline:
            return not _children()
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop the Spark session and its JVM, then every other process this one
    started (or adopted), and wait until each has ended."""
    proc = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if _reap(0.0):
            return
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        _reap(wait_s)


def new_session(app: str, extra_conf: dict):
    """Build a session through the package's factory. Called after
    :func:`stop_processes`, it gets a new SparkContext, so
    session-scoped caches start empty."""
    from cognitive_score_bigdata_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        **extra_conf,
    }
    spark = get_spark(app, master=f"local[{CPUS}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def session_facts(spark) -> dict:
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "cwd": os.getcwd(),
        "app_id": spark.sparkContext.applicationId,
    }
