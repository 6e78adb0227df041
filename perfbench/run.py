"""Repository benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload polite --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout on ``local[4]``; builds its inputs from
``--seed`` (cached under ``perfbench/.cache``), measures at least
``--seconds`` seconds of whole work units, checks every outcome, and prints
one JSON line as the last line of stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reruns the same
work with spans around the engine's public calls, the Spark event log and
the Python-UDF profiler on, and reports the per-layer metrics. Everything
the run writes stays under ``perfbench/.work`` and ``perfbench/.cache``.
See perfbench/README.md for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3
WORKLOADS = ("polite", "refresh", "queries")


def _isolate(work_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work dir, and put the checkout on the workers' import path."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = {
        # The whole heap is committed and touched at start: otherwise G1's
        # heap-growth decisions, which vary run to run, split peak_rss_mb
        # between ~2.1 and ~2.6 GB. Heap pressure shows in spark.gc_s.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evlog = os.path.join(work_dir, "evlog")
        os.makedirs(evlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(conf)


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool,
        work_dir: str, cache_dir: str, break_expected: bool = False) -> dict:
    from harness import RssSampler, Session, log, median
    from tracing import Tracer, layer_metric_names, phase_metrics, read_event_log, udf_profile
    from workloads import QUERY_SET, CrawlWorkload, QueryWorkload, Result

    sess = Session(CORES)
    rss = RssSampler()
    if workload == "queries":
        wl = QueryWorkload(sess, seed, work_dir, cache_dir, smoke)
    else:
        wl = CrawlWorkload(workload, sess, seed, work_dir, cache_dir, smoke)
    res = Result()
    tracer = Tracer() if trace else None
    evlog = os.path.join(work_dir, "evlog")
    if trace:
        wl.untraced = tracer.paused
    try:
        session_s, read_s, warm_s = [], [], []
        for _ in range(SETUP_REPS):
            s, r, w = wl.setup()
            session_s.append(s)
            read_s.append(r)
            warm_s.append(w)
        setup = [s + r + w for s, r, w in zip(session_s, read_s, warm_s)]
        rss.start(sess.jvm_pid())
        log(f"[{workload}] set up: session/read/warm-up s = " + ", ".join(
            f"{s:.2f}/{r:.2f}/{w:.2f}" for s, r, w in zip(session_s, read_s, warm_s)))
        wl.expected_outcome()
        if break_expected:
            wl.break_expected()
        log(f"[{workload}] expected outcome ready")
        spark = sess.spark
        pinned_before = sess.pinned_rdds()
        if trace:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tracer.install()
        t_lo = time.time()
        try:
            stats = wl.measure(seconds, res)
        finally:
            if trace:
                tracer.uninstall()
        t_hi = time.time()
        log(f"[{workload}] measured")
        wl.metrics(stats, res)
        leaked = len(sess.pinned_rdds() - pinned_before)
        res.e2e["setup_s"] = median(setup)
        files, nbytes = wl.files_written()
        layer = dict(res.layer)
        layer.update({
            "session.get_spark_s": median(session_s),
            "sources.corpus_read_index_s": median(read_s),
            "sources.warmup_s": median(warm_s),
            "tables.files_written": float(files),
            "tables.bytes_written_mb": nbytes / 2**20,
            "mem.pinned_rdds_leaked": float(leaked),
        })
        if trace:
            layer.update(tracer.metrics())
            layer.update(udf_profile(spark))
        app_id = spark.sparkContext.applicationId
        wl.cleanup()
    finally:
        res.e2e["peak_rss_mb"] = rss.stop()
        sess.close()
    log(f"[{workload}] setup_s={[round(x, 2) for x in setup]} leaked={leaked} "
        f"e2e={json.dumps({k: round(v, 4) for k, v in res.e2e.items()})}")
    for p in res.problems:
        log(f"[{workload}] FAILED: {p}")
    if not trace:
        metrics = {k: res.e2e[k] for k in E2E}
        units = E2E
    else:
        jobs, tasks = read_event_log(evlog, app_id)
        phases, recon = phase_metrics(jobs, tasks, tracer.round_spans(), (t_lo, t_hi))
        layer.update(phases)
        report_rounds(recon, layer)
        # the traced run's end-to-end numbers, for the tracing-overhead report
        log("perfbench-traced-e2e " + json.dumps(res.e2e))
        names = layer_metric_names(QUERY_SET)
        metrics = {k: float(layer.get(k, 0.0)) for k in names}
        units = {k: _layer_unit(k) for k in names}
    return {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


E2E = {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s", "cold_s": "s",
       "peak_rss_mb": "MB"}


def _layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_link"):
        return "ratio"
    return "count"


def report_rounds(recon: list[dict], layer: dict) -> None:
    """Reconcile each round's span wall with its job-busy time plus the
    driver gap, and the phase sums with crawler.run_round_s."""
    from harness import log

    if not recon:
        return
    log("round  wall_s  busy_s   gap_s")
    for r in recon:
        log(f"r{r['round']:<4} {r['wall_s']:7.2f} {r['busy_s']:7.2f} {r['gap_s']:7.2f}")
    phase_sum = sum(layer.get(f"phase.{p}_s", 0.0) for p in
                    ("eligibility", "small_probe", "fetch_parse_dedup_probe", "stats",
                     "discover", "commit"))
    log(f"crawler.run_round_s={layer.get('crawler.run_round_s', 0.0):.2f} "
        f"= busy {sum(r['busy_s'] for r in recon):.2f} + gap {layer['phase.driver_gap_s']:.2f}; "
        f"phase sum {phase_sum:.2f} (phases overlap where commits run in parallel)")


def write_oracles(cache_dir: str) -> int:
    """Replace the committed document-query oracles with freshly computed
    ones (after a change to their SQL or to the documents table)."""
    from expected import COMMITTED
    from harness import log
    from workloads import document_oracles

    shutil.rmtree(COMMITTED, ignore_errors=True)
    fresh = os.path.join(cache_dir, "oracles.tmp")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    names = document_oracles(fresh, store=fresh)
    os.makedirs(COMMITTED)
    for f in os.listdir(fresh):
        if f.startswith("expected-"):
            shutil.move(os.path.join(fresh, f), COMMITTED)
    shutil.rmtree(fresh)
    log(f"wrote the oracles of {', '.join(names)} to {os.path.relpath(COMMITTED, ROOT)}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write-oracles", action="store_true",
                    help="recompute the committed document-query oracles and exit")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs on the same code path (tests)")
    ap.add_argument("--break-expected", action="store_true",
                    help="perturb the expected outcome; the run must then fail (tests)")
    args = ap.parse_args(argv)
    if not args.write_oracles and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    sys.path[:0] = [HERE, ROOT]
    from harness import log

    if not os.path.isfile(os.path.join(ROOT, "gh_crawler_spark", "crawler.py")):
        log("perfbench: the gh_crawler_spark package is not next to perfbench/; "
            "run from the root of a repository checkout")
        return 2
    cache_dir = os.path.join(HERE, ".cache")
    os.makedirs(cache_dir, exist_ok=True)
    if args.write_oracles:
        return write_oracles(cache_dir)
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _isolate(work_dir, bool(args.trace))
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke,
                  work_dir, cache_dir, args.break_expected)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
