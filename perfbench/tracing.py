"""The traced run: spans around the engine's public calls, recorded from the
benchmark's side, plus what the Spark event log and the Python-UDF profiler
report for the same window.

Nothing inside ``gh_crawler_spark`` changes: the tracer wraps public methods
on the engine classes for the duration of the measured window and restores
them afterwards; the per-phase numbers come from the ``r<k>:<phase>`` job
descriptions the crawler already sets.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import threading
import time
from collections import defaultdict

# (module, class, methods) wrapped in a traced run
WRAPPED = [
    ("gh_crawler_spark.crawler", "Crawler",
     ["init_frontier", "run_round", "compact", "resume_round"]),
    ("gh_crawler_spark.tables", "SnapshotTable",
     ["append", "append_local", "overwrite", "overwrite_partitions", "init_empty",
      "read", "read_partitions"]),
    ("gh_crawler_spark.operators.dedup", "PartitionedBloom", ["add_df", "add_np"]),
]

PHASES = ["eligibility", "small_probe", "fetch_parse_dedup_probe", "stats",
          "discover", "commit"]

# Python-UDF functions whose profiled cumulative time is reported: metric ->
# (defining file name, function name); the profiler reports bare file names
UDFS = {
    "udf.extract_page_s": ("text.py", "extract_page_udf"),
    "udf.robots_allowed_s": ("politeness.py", "robots_allowed_udf"),
    "udf.bloom_probe_s": ("dedup.py", "probe"),
}


def layer_metric_names(queries: list[str]) -> list[str]:
    """Every per-layer metric a traced run emits, in report order."""
    names = [
        "session.get_spark_s", "sources.corpus_read_index_s", "sources.warmup_s",
        "crawler.init_frontier_s", "crawler.run_round_s", "crawler.rounds",
        "crawler.round_eligible", "crawler.compact_s", "crawler.compacts",
        "crawler.resume_round_s",
        "dedup.bloom_add_s", "dedup.bloom_add_calls", "dedup.links",
        "dedup.new_links", "dedup.new_per_link",
        "tables.append_s", "tables.append_calls", "tables.overwrite_partitions_s",
        "tables.overwrite_s", "tables.read_s", "tables.files_written",
        "tables.bytes_written_mb",
    ]
    names += [f"phase.{p}_s" for p in PHASES]
    names += ["phase.driver_gap_s", "phase.jobs"]
    names += list(UDFS)
    names += ["spark.tasks", "spark.shuffle_write_mb", "spark.spill_mb", "spark.gc_s",
              "mem.pinned_rdds_leaked"]
    for q in queries:
        names += [f"query.{q}_s", f"query.{q}_cold_s"]
    return names


class Tracer:
    """Wall-clock spans (epoch seconds, so they line up with the event log)
    around the wrapped public methods."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[type, str, object]] = []
        self._paused = 0

    def install(self) -> None:
        import importlib

        for mod, cls_name, methods in WRAPPED:
            cls = getattr(importlib.import_module(mod), cls_name)
            for m in methods:
                orig = cls.__dict__[m]
                self._saved.append((cls, m, orig))
                setattr(cls, m, self._wrap(f"{cls_name}.{m}", orig))

    @contextlib.contextmanager
    def paused(self):
        """Record no spans inside the block (the benchmark's own calls)."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def uninstall(self) -> None:
        for cls, m, orig in reversed(self._saved):
            setattr(cls, m, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer._paused:
                return fn(*a, **kw)
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.time()
                with tracer._lock:
                    tracer.spans.append((name, t0, t1, threading.get_ident()))
        return wrapper

    def total(self, *names: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.spans if n in names)

    def count(self, *names: str) -> int:
        return sum(1 for n, *_ in self.spans if n in names)

    def metrics(self) -> dict[str, float]:
        return {
            "crawler.init_frontier_s": self.total("Crawler.init_frontier"),
            "crawler.run_round_s": self.total("Crawler.run_round"),
            "crawler.compact_s": self.total("Crawler.compact"),
            "crawler.compacts": self.count("Crawler.compact"),
            "crawler.resume_round_s": self.total("Crawler.resume_round"),
            "dedup.bloom_add_s": self.total("PartitionedBloom.add_df", "PartitionedBloom.add_np"),
            "dedup.bloom_add_calls": self.count("PartitionedBloom.add_df", "PartitionedBloom.add_np"),
            "tables.append_s": self.total("SnapshotTable.append", "SnapshotTable.append_local"),
            "tables.append_calls": self.count("SnapshotTable.append", "SnapshotTable.append_local"),
            "tables.overwrite_partitions_s": self.total("SnapshotTable.overwrite_partitions"),
            "tables.overwrite_s": self.total("SnapshotTable.overwrite", "SnapshotTable.init_empty"),
            "tables.read_s": self.total("SnapshotTable.read", "SnapshotTable.read_partitions"),
        }

    def round_spans(self) -> list[tuple[float, float]]:
        return sorted((t0, t1) for n, t0, t1, _ in self.spans if n == "Crawler.run_round")


def udf_profile(spark) -> dict[str, float]:
    """Cumulative time inside each reported UDF function, summed over every
    profiled UDF result (``spark.sql.pyspark.udf.profiler=perf``)."""
    out = {m: 0.0 for m in UDFS}
    results = spark.profile.profiler_collector._perf_profile_results
    for stats in results.values():
        for (path, _line, func), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            for metric, (fname, func_name) in UDFS.items():
                if func == func_name and os.path.basename(path) == fname:
                    out[metric] += ct
    return out


def _union(intervals: list[tuple[float, float]]) -> list[list[float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def _covered(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in _union(intervals))


def read_event_log(evlog_dir: str, app_id: str) -> tuple[list[dict], list[dict]]:
    """Jobs (description, start, end in epoch s) and finished tasks (launch
    time, metrics) of one application's event log."""
    paths = [p for p in glob.glob(os.path.join(evlog_dir, f"*{app_id}*"))]
    files: list[str] = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p]
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "desc": (ev.get("Properties") or {}).get("spark.job.description") or "",
                        "start": ev["Submission Time"] / 1000.0,
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    tasks.append({
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    return [j for j in jobs.values() if "end" in j], tasks


_ROUND_LABEL = re.compile(r"^r(\d+):(.+)$")


def phase_metrics(jobs: list[dict], tasks: list[dict], round_spans: list[tuple[float, float]],
                  window: tuple[float, float]) -> tuple[dict[str, float], list[dict]]:
    """Per-phase wall (union of each phase's job intervals per round, summed
    over rounds), job counts, driver gaps inside rounds, and task-level Spark
    totals for jobs of the measured window. Only jobs submitted inside a
    ``run_round`` span count toward a phase: the crawler leaves its last
    label set after a round returns. Also returns a per-round
    reconciliation: wall from the span vs busy (jobs) + gap."""
    t_lo, t_hi = window
    by_round: dict[int, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    n_jobs = 0
    for j in jobs:
        m = _ROUND_LABEL.match(j["desc"])
        if not m or not any(t0 <= j["start"] <= t1 for t0, t1 in round_spans):
            continue
        n_jobs += 1
        phase = m.group(2).split(":")[0]
        by_round[int(m.group(1))][phase].append((j["start"], j["end"]))
    out = {f"phase.{p}_s": 0.0 for p in PHASES}
    for phases in by_round.values():
        for p, iv in phases.items():
            key = f"phase.{p}_s"
            if key in out:
                out[key] += _covered(iv)
    recon, gap_total = [], 0.0
    for t0, t1 in round_spans:
        inside = [(max(j["start"], t0), min(j["end"], t1)) for j in jobs
                  if j["end"] > t0 and j["start"] < t1]
        busy = _covered(inside)
        gap_total += (t1 - t0) - busy
        labels = {_ROUND_LABEL.match(j["desc"]).group(1) for j in jobs
                  if _ROUND_LABEL.match(j["desc"]) and t0 <= j["start"] <= t1}
        recon.append({"round": ",".join(sorted(labels)), "wall_s": t1 - t0,
                      "busy_s": busy, "gap_s": (t1 - t0) - busy})
    win = [t for t in tasks if t_lo <= t["launch"] <= t_hi]
    out.update({
        "phase.driver_gap_s": gap_total,
        "phase.jobs": float(n_jobs),
        "spark.tasks": float(len(win)),
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in win) / 2**20,
        "spark.spill_mb": sum(t["spill"] for t in win) / 2**20,
        "spark.gc_s": sum(t["gc_ms"] for t in win) / 1000.0,
    })
    return out, recon
