"""Process-level plumbing: Spark session lifecycle, memory sampling, pinned
block accounting and the small statistics the workloads report."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time

MB = 1024 * 1024
_T0 = time.monotonic()


def log(*a) -> None:
    """Progress to stderr, stamped with seconds since the process started
    (stdout carries only the result line)."""
    print(f"[{time.monotonic() - _T0:7.1f}s]", *a, file=sys.stderr, flush=True)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class Session:
    """Owns the SparkSession (and the JVM behind it) for one benchmark run.

    ``rebuild`` stops the current session and builds a fresh one on the same
    JVM, so set-up can be timed several times per run. ``close`` stops the
    session and waits for the JVM process to exit."""

    def __init__(self, cores: int, app: str = "perfbench") -> None:
        self.cores = cores
        self.app = app
        self.spark = None

    def rebuild(self) -> float:
        """(Re)build the session; returns the wall time of ``get_spark``."""
        from gh_crawler_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.monotonic()
        self.spark = get_spark(self.app, cores=self.cores, shuffle_partitions=self.cores)
        return time.monotonic() - t0

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def pinned_rdds(self) -> set[int]:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _read_status(pid: int) -> dict[str, int]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                key, _, rest = line.partition(":")
                if key in ("VmHWM", "PPid"):
                    out[key] = int(rest.split()[0])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared with other processes (a forked
    Python worker shares most of the daemon it was forked from) count once
    across them instead of once per process, as VmRSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    """Only the Python daemon and workers count: a child the JVM spawns
    shares the JVM's memory map until it execs, so its PSS would add the
    JVM's resident set a second time."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except (FileNotFoundError, ProcessLookupError):
        return False


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _read_status(int(name)).get("PPid")
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


class RssSampler:
    """Peak resident memory of the Spark JVM plus its Python workers.

    The JVM's own peak is exact (``VmHWM``); the Python daemon and workers
    come and go, so their summed proportional set size is sampled every
    ``interval`` seconds and the highest sum is kept."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.jvm_pid: int | None = None
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def running(self) -> bool:
        return self.jvm_pid is not None

    def start(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            kb = sum(_pss_kb(p) for p in _descendants(self.jvm_pid) if _is_python(p))
            self.workers_peak_kb = max(self.workers_peak_kb, kb)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB (call before the JVM exits)."""
        if not self.running:
            return 0.0
        jvm_kb = _read_status(self.jvm_pid).get("VmHWM", 0)
        self._stop.set()
        self._thread.join(timeout=10)
        log(f"peak rss: jvm {jvm_kb / 1024:.0f} MB + python workers "
            f"{self.workers_peak_kb / 1024:.0f} MB")
        return (jvm_kb + self.workers_peak_kb) / 1024.0
