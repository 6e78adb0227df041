"""Event-log profiler: where does a Spark application's wall time go?

Parses one Spark event log (spark.eventLog.enabled=true) and reports:

  1. PER-DESCRIPTION WALL — merged job wall and job count for each job
     description. The crawler labels its jobs ``r<k>:<phase>``
     (eligibility / small_probe / fetch_parse_dedup_probe / stats /
     discover / commit:<table>), ``init_frontier`` and ``compact``.
  2. DRIVER GAPS — wall intervals with no job running (Catalyst analysis,
     file listing, py4j round-trips, manifest IO), totalled and listed by
     the description of the job that starts at the gap's end.
  3. STAGE PACKING — per stage: wall (submission -> completion), sum of task
     run times, max task, and the idle slot time wall * slots - task time
     (0 = perfectly packed waves).

Usage:
  SPARK_GRAFT_EXTRA_CONF='{"spark.eventLog.enabled":"true",
      "spark.eventLog.dir":"file:///tmp/spark-events"}' python crawl.py ...
  python tools/event_profile.py /tmp/spark-events/<app-id> [slots]
(decompress rolling .zstd event logs first: zstd -d -c events_*.zstd > log)
"""

from __future__ import annotations

import collections
import json
import sys


def parse(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Completed jobs (start, end, desc) sorted by start, and per-stage task
    accounting, from one pass over the event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = collections.defaultdict(
        lambda: {"task_ms": 0, "max_task": 0, "n_tasks": 0}
    )
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get("spark.job.description", "?"),
                }
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages[si["Stage ID"]]
                st["name"] = si["Stage Name"]
                end = si.get("Completion Time", 0)
                st["wall"] = end - si.get("Submission Time", end)
            elif e == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                ti = ev.get("Task Info", {})
                dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                st["task_ms"] += dur
                st["n_tasks"] += 1
                st["max_task"] = max(st["max_task"], dur)
    done = sorted((j for j in jobs.values() if "end" in j), key=lambda j: j["start"])
    return done, stages


def merge(intervals: list[tuple[int, int]]) -> list[list[int]]:
    """Union of [start, end] intervals, sorted by start."""
    merged: list[list[int]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def main(path: str, slots: int) -> None:
    done, stages = parse(path)
    if not done:
        sys.exit("no completed jobs")
    t0 = done[0]["start"]
    busy = merge([(j["start"], j["end"]) for j in done])
    total = (busy[-1][1] - t0) / 1000.0

    by = collections.defaultdict(list)
    for j in done:
        by[j["desc"]].append((j["start"], j["end"]))
    rows = sorted(
        ((sum(b - a for a, b in merge(iv)) / 1000.0, len(iv), desc) for desc, iv in by.items()),
        reverse=True,
    )
    print(f"app wall (first job start -> last job end): {total:.1f}s\n")
    print(f"{'wall_s':>8} {'jobs':>5}  description")
    for wall, n, desc in rows[:40]:
        print(f"{wall:8.2f} {n:5d}  {desc[:100]}")

    gaps = []  # (duration_ms, offset_ms, description of the next job)
    for (_, prev_end), (start, _) in zip(busy, busy[1:]):
        nxt = next(j for j in done if j["start"] >= start)
        gaps.append((start - prev_end, prev_end - t0, nxt["desc"]))
    by_gap = collections.defaultdict(float)
    for dur, _, desc in gaps:
        by_gap[desc] += dur / 1000.0
    gap_total = sum(by_gap.values())
    print(f"\ndriver-gap total: {gap_total:.1f}s ({100 * gap_total / max(total, 1e-9):.1f}%); "
          "by next-job description:")
    for desc, s in sorted(by_gap.items(), key=lambda kv: -kv[1])[:25]:
        print(f"{s:8.2f}  {desc[:100]}")
    print("\ntop individual gaps:")
    for dur, at, desc in sorted(gaps, reverse=True)[:20]:
        print(f"{dur / 1000:8.2f}s at +{at / 1000:7.1f}s  before: {desc[:90]}")

    print(f"\nstage packing at {slots} slots (worst idle-slot waste first):")
    packed = sorted(
        (
            ((st["wall"] * slots - st["task_ms"]) / 1000.0, sid, st)
            for sid, st in stages.items()
            if st.get("wall", 0) > 0 and st["task_ms"] > 0
        ),
        key=lambda r: r[0],
        reverse=True,
    )
    for waste, sid, st in packed[:15]:
        print(f"  stage {sid:4d} wall {st['wall'] / 1000:7.1f}s tasks {st['n_tasks']:4d} "
              f"task-sum {st['task_ms'] / 1000:8.1f}s max-task {st['max_task'] / 1000:6.1f}s "
              f"idle-slot-waste {waste:7.1f}core-s  {st.get('name', '?')[:70]}")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 8)
