"""Helpers shared by the benchmark workloads: sample statistics, the
per-run work directory, the process environment Spark needs, and the
run report."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO_ROOT, ".perfbench")

# Spark driver heap for the benchmark's session (``get_spark`` defaults to
# 16g, more than a small host has to spare).
DRIVER_MEM = "2g"
# Spark task slots: every core this process may run on.
CPUS = len(os.sched_getaffinity(0))
# fewest samples a latency window needs to count (see windowed_pct)
MIN_WINDOW = 1000


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of ``values``; 0.0 when
    empty."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return float(s[k])


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def windowed_pct(samples: list[tuple[float, float]], width_s: float, q: float) -> float:
    """Median over ``width_s`` windows of each window's q-th percentile.

    ``samples`` are ``(due time in s, value)``; a window holds the samples
    due within it, and windows with fewer than ``MIN_WINDOW`` samples (the
    ragged last one) are left out.  One noisy second on a shared host then
    moves one window, not the figure."""
    windows: dict[int, list[float]] = {}
    for due, v in samples:
        windows.setdefault(int(due // width_s), []).append(v)
    full = [w for w in windows.values() if len(w) >= MIN_WINDOW]
    return median([pct(w, q) for w in full or list(windows.values())])


class WorkDir:
    """A fresh scratch directory for one run, inside the checkout, that
    also hosts the run's temp files, Spark local dirs and warehouse.
    Removed on close."""

    def __init__(self, workload: str):
        self.path = os.path.join(OUT_DIR, f"work-{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_env(work: WorkDir) -> None:
    """Point every temp/output location of this process, its JVM and
    Spark's Python workers into ``work``, make the package importable by
    the workers, and keep Spark's console progress off stdout.  Must run
    before pyspark launches its JVM."""
    tmp = work.sub("tmp")
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=REPO_ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=work.sub("spark-local"),
        SPARK_GRAFT_WAREHOUSE=work.sub("warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (clock ticks)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def machine_state(since: list[int]) -> dict:
    """Load, cpus and available memory at report time (``bench.py``'s
    snapshot), plus the share of CPU time the hypervisor stole since the
    ``cpu_times()`` reading ``since``, so rows from different runs can be
    checked for comparability."""
    from bench import _machine_state

    state = _machine_state()
    now = cpu_times()
    if since and len(now) > 7:
        delta = [b - a for a, b in zip(since, now)]
        state["steal_pct"] = round(100.0 * delta[7] / max(1, sum(delta)), 2)
    return state


def open_loop(n: int, rate: float, t0: float, tick_s: float, send) -> list[tuple[float, int, int]]:
    """Offer events ``0..n-1`` on a fixed schedule: event ``j`` is due at
    ``t0 + j / rate`` (epoch seconds).  Every ``tick_s`` it calls
    ``send(lo, hi, tick)`` with all events due by then, however long the
    previous send took, so a slow system meets a growing queue instead of
    a slower generator.  Returns ``(send time, lo, hi)`` per send."""
    sends: list[tuple[float, int, int]] = []
    sent = tick = 0
    while sent < n:
        delay = t0 + tick * tick_s - time.time()
        if delay > 0:
            time.sleep(delay)
        now = time.time()
        due = min(n, int((now - t0) * rate) + 1)
        if due > sent:
            send(sent, due, tick)
            sends.append((now, sent, due))
            sent = due
        tick += 1
    return sends


def lateness_ms(sends: list[tuple[float, int, int]], t0: float, rate: float) -> list[float]:
    """How late each event was sent relative to its due time."""
    return [(ts - (t0 + j / rate)) * 1e3 for ts, lo, hi in sends for j in range(lo, hi)]
