"""Event-log profiler: where does a Spark application's wall time go?

Parses one Spark event log (spark.eventLog.enabled=true) and reports:

  1. PER-DESCRIPTION WALL — merged job wall, job count and Python-worker
     tasks for each job description. The crawler labels its jobs
     ``r<k>:<phase>`` (pin / eligibility / small_probe /
     fetch_parse_dedup_probe / stats / discover / commit:<table>; ``pin``
     only on rounds that materialize the crawl-lifetime caches),
     ``init_frontier`` and ``compact``;
     the Python-worker tasks are also totalled per round ``r<k>``. A stage's
     tasks count as Python-worker tasks when its RDD lineage (``RDD Info``)
     holds a ``PythonRDD`` or an ``ArrowEvalPython`` /
     ``FlatMapGroupsInPandas`` / ``MapInPandas`` scope; through a union,
     only the partitions of its Python inputs count. The walk stops at a
     persisted or checkpointed RDD that an earlier stage already computed:
     a stage that reads a cached frame lists that frame's ancestors too,
     but its tasks read the cached blocks. The count is still an UPPER
     bound: a stage with a Python input counts every partition it runs
     (a join or coalesce over one Python side, say), and an ancestor
     listed under a cache that a concurrent stage is still filling is
     counted. Each Python-worker task pays a fixed worker set-up cost
     (about 0.25 s of slot time on a 4-vCPU host; CLAUDE.md), so
     on small rounds count these tasks, not UDF time, when sizing a change
     at the Python boundary. Next to them, ``py_boot_s`` sums the tasks'
     ``time to start Python workers`` metric (SQL Python operators only;
     RDD-level PythonRDD tasks do not report it): from a task's start
     until its worker is ready, so the daemon's own start and each fork
     of a new worker; a reused worker adds nothing.
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

PYTHON_SCOPES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")
PYTHON_BOOT = "time to start Python workers"  # a SQL timing metric, in ms


def python_tasks(stage_info: dict, computed: set[int]) -> int:
    """How many of a stage's partitions run Python-worker work: walk its
    RDD lineage from the stage's last RDD, not below a persisted RDD in
    ``computed`` (the ones earlier completed stages already materialized).
    A UnionRDD adds up its inputs' Python partitions and a one-to-one RDD
    (one input, as many partitions) keeps its input's; any other RDD with
    a Python input counts all of its partitions."""
    rdds = {r["RDD ID"]: r for r in stage_info.get("RDD Info", [])}
    memo: dict[int, int] = {}

    def parts(i: int) -> int:
        if i not in rdds or i in computed:
            return 0
        if i not in memo:
            r = rdds[i]
            n = r.get("Number of Partitions", 0)
            scope = json.loads(r.get("Scope") or "{}").get("name")
            ins = r.get("Parent IDs", [])
            if r.get("Name") == "PythonRDD" or scope in PYTHON_SCOPES:
                memo[i] = n
            elif r.get("Name") == "UnionRDD" or (
                len(ins) == 1 and rdds.get(ins[0], {}).get("Number of Partitions") == n
            ):
                memo[i] = min(n, sum(parts(p) for p in ins))
            else:
                memo[i] = n if any(parts(p) for p in ins) else 0
        return memo[i]

    parents = {p for r in rdds.values() for p in r.get("Parent IDs", [])}
    return max((parts(i) for i in rdds if i not in parents), default=0)


def parse(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Completed jobs (start, end, desc) sorted by start, and per-stage task
    accounting (with the submitting job's description and how many of the
    stage's partitions run Python), from one pass over the event log."""
    jobs: dict[int, dict] = {}
    computed: set[int] = set()  # persisted RDDs that a completed stage computed
    stages: dict[int, dict] = collections.defaultdict(
        lambda: {"task_ms": 0, "max_task": 0, "n_tasks": 0, "py_parts": 0, "py_boot_ms": 0,
                 "desc": "?"}
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
            elif e == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                st = stages[si["Stage ID"]]
                st["py_parts"] = python_tasks(si, computed)
                st["desc"] = (ev.get("Properties") or {}).get("spark.job.description", "?")
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                computed |= {
                    r["RDD ID"] for r in si.get("RDD Info", [])
                    if any((r.get("Storage Level") or {}).get(k) for k in ("Use Memory", "Use Disk"))
                }
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
                st["py_boot_ms"] += sum(
                    int(a.get("Update") or 0) for a in ti.get("Accumulables", [])
                    if a.get("Name") == PYTHON_BOOT
                )
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
    py_tasks, py_boot_ms = collections.Counter(), collections.Counter()
    for st in stages.values():
        py_tasks[st["desc"]] += min(st["py_parts"], st["n_tasks"])
        py_boot_ms[st["desc"]] += st["py_boot_ms"]
    rows = sorted(
        ((sum(b - a for a, b in merge(iv)) / 1000.0, len(iv), desc) for desc, iv in by.items()),
        reverse=True,
    )
    print(f"app wall (first job start -> last job end): {total:.1f}s\n")
    print(f"{'wall_s':>8} {'jobs':>5} {'py_tasks':>8} {'py_boot_s':>9}  description")
    for wall, n, desc in rows[:40]:
        print(f"{wall:8.2f} {n:5d} {py_tasks[desc]:8d} {py_boot_ms[desc] / 1000:9.2f}  {desc[:100]}")
    per_round = collections.Counter()
    for desc, n in py_tasks.items():
        head = desc.split(":", 1)[0]
        if head[:1] == "r" and head[1:].isdigit():
            per_round[head] += n
    print("\nPython-worker tasks per round (upper bound): " + (", ".join(
        f"{r}={n}" for r, n in sorted(per_round.items(), key=lambda kv: int(kv[0][1:])))
        or "none"))

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
