"""§5.3-5.4: end-to-end equivalence vs the reference-semantics simulator,
exact resume, and parallelism invariance of the crawl."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gh_crawler_spark.crawler import Crawler, CrawlConfig
from gh_crawler_spark.functions.hashing import xxhash64_py
from gh_crawler_spark.functions.urls import canonicalize_url_py
from gh_crawler_spark.simulator import SimCrawler
from gh_crawler_spark.sources.pages import generate_pages, generate_robots, generate_seeds

N_PAGES, N_DOMAINS, SEED = 150, 30, 11
FAIL_MOD = 11


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(spark, N_PAGES, seed=SEED, n_domains=N_DOMAINS).cache()
    pages.count()
    seeds = generate_seeds(spark, N_PAGES, 8, seed=SEED, n_domains=N_DOMAINS)
    robots = generate_robots(spark, seed=SEED, n_domains=N_DOMAINS)
    return pages, seeds, robots


def _cfg(root):
    return CrawlConfig(root=str(root), n_buckets=8, max_rounds=10,
                       transient_fail_mod=FAIL_MOD, bloom_min_keys=100,
                       empty_rounds_stop=2)


def _crawl_outcome(spark, crawler):
    res = crawler.t["results"].read(spark)
    fetch_sets = {
        (r["round"], r["url_hash"]) for r in res.select("round", "url_hash").collect()
    }
    seen = {r["url_hash"] for r in crawler.t["seen"].read(spark).collect()}
    return fetch_sets, seen


@pytest.fixture(scope="module")
def baseline(spark, corpus, tmp_path_factory):
    """One clean full crawl shared by several tests."""
    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path_factory.mktemp("base")), pages, robots)
    c.run(seeds=seeds)
    return _crawl_outcome(spark, c)


def test_matches_simulator(spark, corpus, baseline, tmp_path):
    pages, seeds, robots = corpus
    fetch_sets, seen = baseline

    sim_pages = {
        canonicalize_url_py(r["url"]): bytes(r["html"])
        for r in pages.select("url", "html").collect()
    }
    sim_robots = {
        r["registrable_domain"]: (r["robots_rules"], r["crawl_delay_ms"])
        for r in robots.collect()
    }
    sim = SimCrawler(_cfg(tmp_path / "sim"), sim_pages, sim_robots)
    sim.seed([(r["url"], r["priority"]) for r in seeds.collect()])
    sim.run(transient_fn=lambda url, att: xxhash64_py(url + str(att)) % FAIL_MOD == 0)

    assert seen == sim.seen
    assert fetch_sets == set(sim.fetch_log)


def test_resume_equals_uninterrupted(spark, corpus, baseline, tmp_path):
    pages, seeds, robots = corpus
    want = baseline

    # interrupted run: 2 rounds, then resume in a NEW Crawler over same root
    part = Crawler(spark, _cfg(tmp_path / "part"), pages, robots)
    part.init_frontier(seeds)
    for k in range(2):
        part.run_round(k)
    resumed = Crawler(spark, _cfg(tmp_path / "part"), pages, robots)
    assert resumed._trans_rows == 0 and resumed._bloom is None  # constructor defaults
    # resume_round rebuilds the driver-tracked state from the tables: the
    # real transitions-delta size and the Bloom over every known key; the
    # active-row bound is left unknown (no count job), so the resumed run
    # ends through the drained probe
    assert resumed.resume_round() == 2
    assert resumed._trans_rows == resumed.t["transitions"].read(spark).count() > 0
    known = resumed.t["frontier"].read(spark).select("url_hash").unionByName(
        resumed.t["seen"].read(spark).select("url_hash")
    )
    keys = np.array([r["url_hash"] for r in known.collect()])
    assert resumed._bloom.might_contain_np(keys).all()
    assert resumed._next_round_bound is None
    resumed.run(seeds=None)
    assert _crawl_outcome(spark, resumed) == want


def test_resume_discards_halfcommitted_round(spark, corpus, baseline, tmp_path):
    """Crash between a round's table commits and its rounds-row: the partial
    commits must be rolled back on resume (exactly-once, SURVEY.md T6)."""
    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "crash"), pages, robots)
    c.init_frontier(seeds)
    c.run_round(0)
    # simulate a crash mid-round-1: results got appended, rounds row did not
    junk = spark.createDataFrame(
        [("https://junk/", 123456789, None, "fetched", "junk", "en", 1)],
        "url STRING, url_hash BIGINT, warc_ts TIMESTAMP, status STRING, "
        "text STRING, lang STRING, round INT",
    )
    c.t["results"].append(junk)
    resumed = Crawler(spark, _cfg(tmp_path / "crash"), pages, robots)
    resumed.run(seeds=None)
    res = resumed.t["results"].read(spark)
    assert res.filter(F.col("url_hash") == 123456789).count() == 0

    # and the final outcome still matches a clean run
    assert _crawl_outcome(spark, resumed) == baseline


def test_resume_discards_halfcommitted_round_zero(spark, corpus, baseline, tmp_path):
    """Crash inside round 0, before any rounds row exists: resume rolls every
    table back to the snapshots init_frontier bootstrapped."""
    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "crash0"), pages, robots)
    c.init_frontier(seeds)
    junk = spark.createDataFrame(
        [("https://junk/", 123456789, None, "fetched", "junk", "en", 0)],
        "url STRING, url_hash BIGINT, warc_ts TIMESTAMP, status STRING, "
        "text STRING, lang STRING, round INT",
    )
    c.t["results"].append(junk)
    resumed = Crawler(spark, _cfg(tmp_path / "crash0"), pages, robots)
    assert resumed.resume_round() == 0
    assert resumed.t["results"].read(spark).count() == 0
    resumed.run(seeds=None)
    assert _crawl_outcome(spark, resumed) == baseline


def test_resume_without_bootstrap_ids_raises(spark, corpus, tmp_path):
    """A rounds table with neither a completed row nor bootstrap snapshot
    ids gives resume nothing to roll back to: it must say so, not skip."""
    from gh_crawler_spark.crawler import ROUNDS_SCHEMA

    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "noboot"), pages, robots)
    c.init_frontier(seeds)
    c.t["rounds"].append_local([], ROUNDS_SCHEMA, {"op": "init"}, overwrite=True)
    with pytest.raises(ValueError, match="no bootstrap snapshot ids"):
        Crawler(spark, _cfg(tmp_path / "noboot"), pages, robots).resume_round()


def test_resumed_finished_crawl_stops_on_first_round(spark, corpus, tmp_path):
    """A resumed session has no active-row bound, so it ends through the
    drained probe. Robots-blocked rows stay 'discovered' forever but can
    never become eligible: on a finished crawl that still holds some, the
    resumed run's first round must report drained and commit nothing, not
    run out empty_rounds_stop empty rounds, and it must not build the
    fetch index for that round."""
    pages, seeds, robots = corpus
    robots = robots.withColumn(
        "robots_rules",
        F.when(F.pmod(F.hash("registrable_domain"), F.lit(2)) == 0,
               F.lit("User-agent: *\nDisallow: /\n"))
        .otherwise(F.col("robots_rules")),
    )
    root = tmp_path / "blk"
    first = Crawler(spark, _cfg(root), pages, robots)
    first.run(seeds=seeds)
    first.pages_idx.unpersist()  # an equal plan would share its filled cache
    c = Crawler(spark, _cfg(root), pages, robots)
    frontier = c.t["frontier"].read(spark)
    assert frontier.filter((F.col("state") == "discovered") & ~F.col("robots_allowed")).count()
    assert frontier.filter(F.col("state") == "fetched").count()
    n_rounds = c.t["rounds"].read(spark).count()
    stats = c.run(seeds=None)
    assert [s.get("drained") for s in stats] == [True]
    assert c.t["rounds"].read(spark).count() == n_rounds
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(c.pages_idx._jdf)
    assert not cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def test_failed_commit_waits_for_inflight_appends(spark, corpus, baseline, tmp_path):
    """A round commit that raises while another commit's append job is
    still running: run_round re-raises the original error only after that
    job finished and the round's checkpoint blocks are freed, and resume
    from the surviving state reaches the clean crawl's outcome."""
    import threading
    import time

    import pandas as pd

    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "fault"), pages, robots)
    c.init_frontier(seeds)
    c.run_round(0)

    @F.pandas_udf("string")
    def slow(s: pd.Series) -> pd.Series:
        time.sleep(3.0)
        return s

    results_started = threading.Event()
    real_results_append = c.t["results"].append

    def slow_results_append(df, *args):
        results_started.set()
        return real_results_append(df.withColumn("text", slow("text")), *args)

    def failing_host_append(df, *args):
        results_started.wait(60)
        time.sleep(0.5)  # the results append job is running now
        raise RuntimeError("host_state commit failed")

    c.t["results"].append = slow_results_append
    c.t["host_state"].append = failing_host_append
    jsc = spark.sparkContext._jsc
    pinned_before = set(jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(RuntimeError, match="host_state commit failed"):
        c.run_round(1)
    # the status store is fed asynchronously: drain it, then no job may be
    # left running (a still-running append would read freed blocks)
    jsc.sc().listenerBus().waitUntilEmpty()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == pinned_before

    resumed = Crawler(spark, _cfg(tmp_path / "fault"), pages, robots)
    assert resumed.resume_round() == 1
    resumed.run(seeds=None)
    assert _crawl_outcome(spark, resumed) == baseline


def test_failed_bootstrap_waits_for_inflight_commits(spark, corpus, tmp_path, monkeypatch):
    """init_frontier's Bloom fold raising while the host_state bootstrap
    still reads the cached seed frame: the error surfaces only after that
    commit finished, so no job outlives the call."""
    import threading
    import time

    import pandas as pd

    from gh_crawler_spark.operators.dedup import PartitionedBloom

    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "bootfault"), pages, robots)

    @F.pandas_udf("string")
    def slow(s: pd.Series) -> pd.Series:
        time.sleep(3.0)
        return s

    host_started = threading.Event()
    real_overwrite = c.t["host_state"].overwrite

    def slow_overwrite(df, *args):
        host_started.set()
        return real_overwrite(df.withColumn("robots_rules", slow("robots_rules")), *args)

    def failing_add_df(self, *args, **kwargs):
        host_started.wait(60)
        time.sleep(0.5)  # the host_state overwrite job is running now
        raise RuntimeError("bloom fold failed")

    c.t["host_state"].overwrite = slow_overwrite
    monkeypatch.setattr(PartitionedBloom, "add_df", failing_add_df)
    with pytest.raises(RuntimeError, match="bloom fold failed"):
        c.init_frontier(seeds)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []


def test_parallelism_invariance(spark, corpus, baseline, tmp_path):
    """Same outcome at different shuffle parallelism (N vs 4N analog):
    the baseline ran at 8 shuffle partitions; rerun at 2."""
    pages, seeds, robots = corpus
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = Crawler(spark, _cfg(tmp_path / "p2"), pages, robots)
        a.run(seeds=seeds)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert _crawl_outcome(spark, a) == baseline


def test_adaptive_rate_matches_simulator(spark, corpus, tmp_path):
    """T3: adaptive per-host budgets stay equivalent to the executable spec
    under transient failures."""
    import dataclasses

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(_cfg(tmp_path / "ad"), adaptive_rate=True)
    c = Crawler(spark, cfg, pages, robots)
    c.run(seeds=seeds)
    fetch_sets, seen = _crawl_outcome(spark, c)

    sim_pages = {
        canonicalize_url_py(r["url"]): bytes(r["html"])
        for r in pages.select("url", "html").collect()
    }
    sim_robots = {
        r["registrable_domain"]: (r["robots_rules"], r["crawl_delay_ms"])
        for r in robots.collect()
    }
    sim = SimCrawler(dataclasses.replace(cfg, root=str(tmp_path / "adsim")),
                     sim_pages, sim_robots)
    sim.seed([(r["url"], r["priority"]) for r in seeds.collect()])
    sim.run(transient_fn=lambda url, att: xxhash64_py(url + str(att)) % FAIL_MOD == 0)
    assert seen == sim.seen
    assert fetch_sets == set(sim.fetch_log)


def test_failure_ttl_and_staleness_match_simulator(spark, corpus, tmp_path):
    """T5 (failed-entry TTL re-entry) + T10 (staleness re-crawl): with short
    virtual TTLs, failed URLs re-enter and fetched URLs are re-crawled; the
    engine and the executable spec must agree on every (round, url) fetch."""
    import dataclasses

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(
        _cfg(tmp_path / "ttl"),
        max_rounds=8,
        # TTL = 2 rounds, staleness = 3 rounds (virtual seconds)
        failure_ttl_s=2 * 30.0,
        staleness_s=3 * 30.0,
    )
    c = Crawler(spark, cfg, pages, robots)
    c.run(seeds=seeds, max_rounds=8)
    fetch_sets, seen = _crawl_outcome(spark, c)

    sim_pages = {
        canonicalize_url_py(r["url"]): bytes(r["html"])
        for r in pages.select("url", "html").collect()
    }
    sim_robots = {
        r["registrable_domain"]: (r["robots_rules"], r["crawl_delay_ms"])
        for r in robots.collect()
    }
    sim = SimCrawler(dataclasses.replace(cfg, root=str(tmp_path / "ttlsim")),
                     sim_pages, sim_robots)
    sim.seed([(r["url"], r["priority"]) for r in seeds.collect()])
    sim.run(transient_fn=lambda url, att: xxhash64_py(url + str(att)) % FAIL_MOD == 0,
            max_rounds=8)
    assert seen == sim.seen
    assert fetch_sets == set(sim.fetch_log)
    # staleness actually re-crawled something: some url fetched in 2 rounds
    by_url: dict[int, int] = {}
    for _rnd, uh in fetch_sets:
        by_url[uh] = by_url.get(uh, 0) + 1
    assert any(n >= 2 for n in by_url.values())


def test_budget_overrides_match_simulator(spark, corpus, tmp_path):
    """W2: a per-domain budget-override table caps the hot domain's per-round
    batch; engine and spec agree fetch-for-fetch and the cap binds."""
    from gh_crawler_spark.sources.pages import HOT_DOMAIN

    pages, seeds, robots = corpus
    overrides = {HOT_DOMAIN: 2}
    ov_df = spark.createDataFrame(
        [(d, b) for d, b in overrides.items()], "registrable_domain STRING, budget INT"
    )
    cfg = _cfg(tmp_path / "w2")
    c = Crawler(spark, cfg, pages, robots, budget_overrides=ov_df)
    c.run(seeds=seeds)
    fetch_sets, seen = _crawl_outcome(spark, c)

    sim_pages = {
        canonicalize_url_py(r["url"]): bytes(r["html"])
        for r in pages.select("url", "html").collect()
    }
    sim_robots = {
        r["registrable_domain"]: (r["robots_rules"], r["crawl_delay_ms"])
        for r in robots.collect()
    }
    import dataclasses

    sim = SimCrawler(dataclasses.replace(cfg, root=str(tmp_path / "w2sim")),
                     sim_pages, sim_robots, budget_overrides=overrides)
    sim.seed([(r["url"], r["priority"]) for r in seeds.collect()])
    sim.run(transient_fn=lambda url, att: xxhash64_py(url + str(att)) % FAIL_MOD == 0)
    assert seen == sim.seen
    assert fetch_sets == set(sim.fetch_log)
    # the cap binds: no round fetches more than 2 hot-domain URLs
    from gh_crawler_spark.functions.urls import registrable_domain_py

    hot_hashes = {
        xxhash64_py(canonicalize_url_py(r["url"]))
        for r in pages.select("url").collect()
        if registrable_domain_py(
            canonicalize_url_py(r["url"]).split("://", 1)[1].split("/", 1)[0]
        ) == HOT_DOMAIN
    }
    per_round: dict[int, int] = {}
    for rnd, uh in fetch_sets:
        if uh in hot_hashes:
            per_round[rnd] = per_round.get(rnd, 0) + 1
    assert per_round and max(per_round.values()) <= 2


def test_link_scope_filter_matches_simulator(spark, corpus, baseline, tmp_path):
    """F3: per-scope out-link predicates in discovery — only same-domain
    links whose path matches the shape survive (the reference's same-repo
    /pull/N validation, src/pr_scraper.py:431-448). Engine == spec, and the
    filter provably shrinks the crawl vs the unfiltered baseline."""
    import dataclasses

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(
        _cfg(tmp_path / "f3"),
        # shape: only links into pages whose last path segment is word-N;
        # scope: same registrable-ish domain as the linking page
        link_shape=r"/[a-z]+-\d+",
        link_same_scope=r"https://(?:www\.|cdn\.|app\.)?([a-z0-9.-]+?)(?:[:/]|$)",
    )
    c = Crawler(spark, cfg, pages, robots)
    c.run(seeds=seeds)
    fetch_sets, seen = _crawl_outcome(spark, c)

    sim_pages = {
        canonicalize_url_py(r["url"]): bytes(r["html"])
        for r in pages.select("url", "html").collect()
    }
    sim_robots = {
        r["registrable_domain"]: (r["robots_rules"], r["crawl_delay_ms"])
        for r in robots.collect()
    }
    sim = SimCrawler(dataclasses.replace(cfg, root=str(tmp_path / "f3sim")),
                     sim_pages, sim_robots)
    sim.seed([(r["url"], r["priority"]) for r in seeds.collect()])
    sim.run(transient_fn=lambda url, att: xxhash64_py(url + str(att)) % FAIL_MOD == 0)
    assert seen == sim.seen
    assert fetch_sets == set(sim.fetch_log)
    # the predicate binds: a same-scope crawl discovers strictly fewer URLs
    _, baseline_seen = baseline
    assert len(seen) < len(baseline_seen)


def test_copartitioned_fetch_join_equivalent(spark, corpus, baseline, tmp_path):
    """broadcast_fetch=False (batch-refresh shape): the co-partitioned
    fetch join — corpus persisted hash-partitioned on url_hash, batch
    shuffled to match, nothing broadcast — produces the identical crawl."""
    import dataclasses

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(_cfg(tmp_path / "cp"), broadcast_fetch=False)
    c = Crawler(spark, cfg, pages, robots)
    stats = c.run(seeds=seeds)
    assert _crawl_outcome(spark, c) == baseline
    # every round measures its batch first, in this fetch mode too
    assert all("small_probe" in s["phases"] for s in stats if not s.get("drained"))


def test_small_round_fast_path_equivalent(spark, corpus, baseline, tmp_path):
    """Two-phase rounds: every round first collects its batch's bucket
    histogram (phase small_probe) and sizes the fetch from it, and the crawl
    equals the clean run. (a) The driver-side active-row bound, which gates
    the drained skip, must never under-predict a round's scheduled batch.
    (b) A small round (every round here: 8 seeds) keeps Python workers to
    what its UDFs need: the parse stage runs at most min(cores, batch rows)
    partitions (the metrics table's fetch rows carry one partition_id per
    fetch partition), and the batch the fetch joins is a JVM frame, not one
    rebuilt from Python rows."""
    pages, seeds, robots = corpus
    on = Crawler(spark, _cfg(tmp_path / "sron"), pages, robots)
    orig_rr, checks = on.run_round, []
    orig_fetch, batch_lineage = on._fetch_extract, []

    def rr(k):
        bound = on._next_round_bound
        s = orig_rr(k)
        checks.append((k, bound, s["eligible"], s["phases"]))
        return s

    def fetch(rc, batch, pages_src):
        batch_lineage.append(batch._jdf.queryExecution().toRdd().toDebugString())
        return orig_fetch(rc, batch, pages_src)

    on.run_round = rr
    on._fetch_extract = fetch
    on.run(seeds=seeds)
    assert _crawl_outcome(spark, on) == baseline
    assert checks and all(
        elig <= b and "small_probe" in phases for _, b, elig, phases in checks
    )
    fetch_rows = (
        on.t["metrics"].read(spark)
        .filter((F.col("stage") == "fetch") & (F.col("partition_id") >= 0))
        .groupBy("round").agg(F.countDistinct("partition_id").alias("n"))
        .collect()
    )
    parts = {r["round"]: r["n"] for r in fetch_rows}
    cores = spark.sparkContext.defaultParallelism
    assert all(parts.get(k, 0) <= min(cores, elig) for k, _, elig, _ in checks)
    assert batch_lineage and not any("PythonRDD" in s for s in batch_lineage)


def test_entities_nested_table(spark, corpus, tmp_path):
    """X10/X14/W4 engine path: the embedded page-data JSON is parsed into a
    NESTED entities table — issue number/state + the full Comment struct
    (author, timestamp, content), CHRONOLOGICALLY sorted — matching the
    datagen payload value-for-value."""
    import dataclasses
    import datetime as dtm
    import json

    from gh_crawler_spark.sources.pages import canonical_urls_py, embedded_payload

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(_cfg(tmp_path / "ent"), extract_entities=True)
    c = Crawler(spark, cfg, pages, robots)
    c.run(seeds=seeds, max_rounds=3)
    ents = c.t["entities"].read(spark)
    rows = ents.collect()
    assert rows
    # one entities row per fetched page
    assert len(rows) == c.t["results"].read(spark).count()
    # nested schema: issue struct with comments array<struct<author,ts,content>>
    f = {fld.name: fld for fld in ents.schema.fields}["issue"]
    assert f.dataType.typeName() == "struct"
    comments_t = f.dataType["comments"].dataType.elementType
    assert [x.name for x in comments_t.fields] == ["author", "timestamp", "content"]
    idx = {
        xxhash64_py(u): i
        for i, u in enumerate(canonical_urls_py(SEED, list(range(N_PAGES)), N_DOMAINS))
    }
    saw_reordered = False
    for r in rows:
        i = idx[r["url_hash"]]
        want = json.loads(embedded_payload(SEED, i))
        issue = want["payload"]["preloadedQueries"][0]["result"]["data"]["repository"]["issue"]
        assert r["issue"]["number"] == i == issue["number"]
        assert r["issue"]["state"] == issue["state"]
        raw = [
            (
                dtm.datetime.strptime(e["node"]["createdAt"], "%Y-%m-%dT%H:%M:%SZ"),
                e["node"]["author"]["login"],
                e["node"]["body"],
            )
            for e in issue["frontTimelineItems"]["edges"]
            if e["node"]["__typename"] == "IssueComment"
        ]
        want_sorted = sorted(raw)  # chronological (W4)
        got = [
            (cm["timestamp"], cm["author"], cm["content"])
            for cm in r["issue"]["comments"]
        ]
        assert got == want_sorted
        if want_sorted != raw:
            saw_reordered = True
    # the sort is observable: some payloads carry out-of-order comments
    assert saw_reordered


def test_midcrawl_compaction_archives_terminal_rows(spark, corpus, baseline, tmp_path):
    """Compaction migrates terminal rows to archive partitions
    (bucket + n_buckets): the eligibility scan then reads a strict subset of
    frontier files, archived URLs still dedup discovery, and a crawl with a
    mid-crawl compact produces the identical outcome."""
    pages, seeds, robots = corpus
    cfg = _cfg(tmp_path / "arch")
    c = Crawler(spark, cfg, pages, robots)
    c.init_frontier(seeds)
    c.run_round(0)
    c.run_round(1)
    c.compact()
    full = c.t["frontier"].read(spark)
    active = c._read_active_frontier()
    assert len(active.inputFiles()) < len(full.inputFiles())
    archived = full.filter(F.col("bucket") >= cfg.n_buckets).collect()
    assert archived  # two rounds fetched something
    assert all(r["state"] in ("fetched", "failed") for r in archived)
    assert not active.filter(F.col("bucket") >= cfg.n_buckets).take(1)
    # finish the crawl across the compaction boundary: discovery must still
    # dedup against archived URLs and the outcome must match the clean run
    k = 2
    empty = 0
    while k < cfg.max_rounds and empty < cfg.empty_rounds_stop:
        s = c.run_round(k)
        empty = empty + 1 if s["eligible"] == 0 else 0
        k += 1
    c.compact()
    assert _crawl_outcome(spark, c) == baseline
    # no URL was fetched twice (fetch-once semantics survive archiving)
    res = c.t["results"].read(spark)
    assert res.count() == res.select("url_hash").distinct().count()


def test_lineage_recorded(spark, corpus, tmp_path):
    from perfbench.tracing import PHASES

    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "lin"), pages, robots)
    stats = c.run(seeds=seeds, max_rounds=3)
    rounds = c.t["rounds"].read(spark).orderBy("round").collect()
    assert [r["round"] for r in rounds] == [0, 1, 2]
    assert all(r["completed"] for r in rounds)
    metrics = c.t["metrics"].read(spark)
    assert metrics.filter(F.col("stage") == "fetch").count() >= 1
    # the always-on trace: one stage row per phase the round ran, named in
    # the vocabulary the benchmark's per-phase metrics read, summing to the
    # round's wall time (each row rounds to whole ms)
    trace = metrics.filter(~F.col("stage").isin("fetch", "dedup")).collect()
    for r, s in zip(rounds, stats):
        rows = {t["stage"]: t["wall_ms"] for t in trace if t["round"] == r["round"]}
        assert rows == s["phases"]
        assert set(rows) <= set(PHASES) | {"robots_refresh", "pin"}
        assert abs(sum(rows.values()) - r["wall_ms"]) <= len(rows)
    # a fresh Crawler pins its robots dim before round 0's baseline and its
    # fetch index once round 0 has a batch: one `pin` row books both spans
    assert "pin" in stats[0]["phases"]
    # snapshot ids recorded per round are readable (time travel)
    for r in rounds:
        assert c.t["results"].read(spark, r["results_snap"]) is not None
    # A6: the checkpoint-stats rollup agrees with the raw lineage rows
    stats = c.checkpoint_stats().collect()[0]
    assert stats["rounds"] == stats["completed_rounds"] == 3
    assert stats["fetched"] == sum(r["fetched"] for r in rounds)
    assert stats["last_round"] == 2
    assert 0.0 <= stats["success_rate"] <= 1.0


def test_host_state_delta_appends_touched_only(spark, corpus, tmp_path):
    """host_state is append-only deltas (round-4): a round writes rows ONLY
    for domains it scheduled plus newly-discovered domains — never a full
    rewrite — and the latest-wins view resolves to one row per domain."""
    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "hsd"), pages, robots)
    c.init_frontier(seeds)
    n_init = c.t["host_state"].read(spark).count()
    s0 = c.run_round(0)
    raw = c.t["host_state"].read(spark)
    appended_r0 = raw.count() - n_init
    # the round COMMITTED AN APPEND (delta), not a table rewrite
    assert c.t["host_state"].snapshot().operation == "append"
    latest = c._read_host_state()
    n_domains_now = latest.count()
    assert appended_r0 <= n_domains_now
    assert latest.groupBy("registrable_domain").count().filter(
        F.col("count") > 1
    ).count() == 0  # latest-wins resolves uniquely
    # init rows are asof=-1; every appended row carries its round
    assert raw.filter(F.col("asof_round") == -1).count() == n_init
    assert raw.filter(F.col("asof_round") == 0).count() == appended_r0
    # run a second round: appends accumulate, the view stays one-per-domain
    c.run_round(1)
    raw2 = c.t["host_state"].read(spark)
    assert raw2.count() > raw.count()
    latest2 = c._read_host_state()
    assert latest2.count() == latest2.select("registrable_domain").distinct().count()
    # compaction folds the delta back to one row per domain
    c.compact()
    folded = c.t["host_state"].read(spark)
    assert folded.count() == folded.select("registrable_domain").distinct().count()


def test_periodic_compaction_same_outcome_and_bounded_delta(spark, corpus, baseline, tmp_path):
    """compact_every_rounds folds the transitions delta mid-crawl without
    changing the outcome, and keeps the delta O(compaction window) instead
    of O(crawl lifetime) on a steady re-crawl workload."""
    pages, seeds, robots = corpus
    # outcome equivalence: aggressive cadence (every round) == baseline
    cfg = _cfg(tmp_path / "pc")
    cfg.compact_every_rounds = 1
    c = Crawler(spark, cfg, pages, robots)
    c.run(seeds=seeds)
    assert _crawl_outcome(spark, c) == baseline

    # bounded delta: staleness keeps URLs re-entering forever; without
    # periodic folds the transitions table would grow by ~eligible rows
    # EVERY round for the whole crawl
    cfg2 = _cfg(tmp_path / "pc2")
    cfg2.staleness_s = cfg2.round_duration_s  # refetch each round
    cfg2.transient_fail_mod = 0
    cfg2.compact_every_rounds = 3
    c2 = Crawler(spark, cfg2, pages, robots)
    c2.init_frontier(seeds)
    eligs, delta_sizes = [], []
    since = 0
    for k in range(12):
        s = c2.run_round(k)
        eligs.append(s["eligible"])
        delta_sizes.append(c2.t["transitions"].read(spark).count())
        since += 1
        if since >= cfg2.compact_every_rounds:
            c2.compact()
            since = 0
    # every round re-fetches (steady workload actually exercised the delta)
    assert sum(eligs[-3:]) > 0
    # the delta never exceeds one compaction window of changes (each
    # scheduled URL writes ≤1 transition per round)
    max_window = max(
        sum(eligs[i : i + cfg2.compact_every_rounds]) for i in range(len(eligs))
    )
    assert max(delta_sizes) <= max_window
    # and total transitions written across 12 rounds was much larger than
    # what the delta ever held (the fold is actually doing work)
    assert sum(eligs) > max(delta_sizes)


def test_metrics_dedup_recorded_once(spark, corpus, tmp_path):
    """The global dedup count appears exactly once per round (its own stage
    row): summing urls_deduped over a round equals links - new exactly
    (round-3 verdict #4: per-partition rows each carried the global count)."""
    pages, seeds, robots = corpus
    c = Crawler(spark, _cfg(tmp_path / "mx"), pages, robots)
    c.init_frontier(seeds)
    for k in range(2):
        s = c.run_round(k)
        got = (
            c.t["metrics"].read(spark)
            .filter(F.col("round") == k)
            .agg(F.sum("urls_deduped").alias("d"))
            .collect()[0]["d"]
        )
        assert got == s["links"] - s["new"]


def test_no_broadcast_dims_equivalent(spark, corpus, baseline, tmp_path):
    """broadcast_dims=False (the 10^7+-domain shape): host_state and robots
    join as plain equi-joins with AQE choosing the strategy at runtime —
    identical crawl outcome, nothing force-broadcast."""
    import dataclasses

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(_cfg(tmp_path / "nbd"), broadcast_dims=False)
    c = Crawler(spark, cfg, pages, robots)
    c.run(seeds=seeds)
    assert _crawl_outcome(spark, c) == baseline


def test_seen_files_binpacked_at_compact(spark, corpus, tmp_path):
    """Long-crawl file hygiene: seen gains one file per bucket per round;
    compact() bin-packs hot buckets so the dedup backstop's pruned reads
    stay O(few files) per suspect bucket."""
    pages, seeds, robots = corpus
    cfg = _cfg(tmp_path / "binp")
    cfg.staleness_s = cfg.round_duration_s  # re-fetch keeps appending to seen
    cfg.transient_fail_mod = 0
    c = Crawler(spark, cfg, pages, robots)
    c.init_frontier(seeds)
    for k in range(6):
        c.run_round(k)
    per_bucket_before = {}
    for f in c.t["seen"].snapshot().files:
        if f["partition"]:
            b = f["partition"]["bucket"]
            per_bucket_before[b] = per_bucket_before.get(b, 0) + 1
    assert max(per_bucket_before.values()) > 4  # appends actually piled up
    n_seen_before = c.t["seen"].read(spark).count()
    c.compact()
    per_bucket = {}
    for f in c.t["seen"].snapshot().files:
        if f["partition"]:
            b = f["partition"]["bucket"]
            per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) <= 4
    assert c.t["seen"].read(spark).count() == n_seen_before  # lossless


def test_snapshot_expiry_bounds_manifests_and_resume_survives(spark, corpus, baseline, tmp_path):
    """expire_snapshots_keep (opt-in): periodic compaction also expires old
    manifests + orphaned data files, bounding metadata growth on long
    crawls, while the resume contract (rollback to the last completed
    round's snapshots) keeps working."""
    pages, seeds, robots = corpus
    cfg = _cfg(tmp_path / "exp")
    cfg.compact_every_rounds = 2
    cfg.expire_snapshots_keep = 8
    c = Crawler(spark, cfg, pages, robots)
    c.run(seeds=seeds)
    assert _crawl_outcome(spark, c) == baseline
    for t in c.t.values():
        # bounded by keep + commits since the last expiry, never O(rounds)
        assert len(t.snapshots()) <= 16
    # resume on the finished (expired) root: rollback targets survive
    resumed = Crawler(spark, cfg, pages, robots)
    resumed.run(seeds=None)
    assert _crawl_outcome(spark, resumed) == baseline


def test_robots_ttl_flip_matches_simulator(spark, corpus, tmp_path):
    """Robots TTL (round-5): a domain whose robots flips disallow-all ->
    original rules mid-crawl is admitted only after the TTL re-fetch, and
    the engine agrees with the executable spec fetch-for-fetch (the
    CLAUDE.md invariant: scheduling changes mirror into simulator.py)."""
    import dataclasses

    from gh_crawler_spark.functions.urls import registrable_domain_py
    from gh_crawler_spark.sources.pages import HOT_DOMAIN

    pages, seeds, robots = corpus
    block = "User-agent: *\nDisallow: /"
    robots_v1 = robots.withColumn(
        "robots_rules",
        F.when(F.col("registrable_domain") == HOT_DOMAIN, F.lit(block))
        .otherwise(F.col("robots_rules")),
    )
    cfg = dataclasses.replace(
        _cfg(tmp_path / "rttl"), robots_ttl_rounds=3, empty_rounds_stop=4
    )
    c = Crawler(spark, cfg, pages, robots_v1, robots_provider=lambda k: robots)
    c.run(seeds=seeds)
    fetch_sets, seen = _crawl_outcome(spark, c)

    sim_pages = {
        canonicalize_url_py(r["url"]): bytes(r["html"])
        for r in pages.select("url", "html").collect()
    }
    sim_robots = {
        r["registrable_domain"]: (r["robots_rules"], r["crawl_delay_ms"])
        for r in robots.collect()
    }
    sim_robots_v1 = dict(sim_robots)
    sim_robots_v1[HOT_DOMAIN] = (block, sim_robots.get(HOT_DOMAIN, ("", 100))[1])
    sim = SimCrawler(
        dataclasses.replace(cfg, root=str(tmp_path / "rttlsim")),
        sim_pages, sim_robots_v1, robots_provider=lambda k: sim_robots,
    )
    sim.seed([(r["url"], r["priority"]) for r in seeds.collect()])
    sim.run(transient_fn=lambda url, att: xxhash64_py(url + str(att)) % FAIL_MOD == 0)
    assert seen == sim.seen
    assert fetch_sets == set(sim.fetch_log)
    # the flip is OBSERVABLE: hot-domain URLs were fetched, and none before
    # the first TTL refresh at round 3
    hot_hashes = {
        xxhash64_py(canonicalize_url_py(r["url"]))
        for r in pages.select("url").collect()
        if registrable_domain_py(
            canonicalize_url_py(r["url"]).split("://", 1)[1].split("/", 1)[0]
        ) == HOT_DOMAIN
    }
    hot_rounds = [rnd for rnd, uh in fetch_sets if uh in hot_hashes]
    assert hot_rounds, "flip never admitted the blocked domain"
    assert min(hot_rounds) >= 3
    # the round after the refresh pinned the new dim and released the
    # superseded one
    assert c.robots is robots and robots.storageLevel.useMemory
    assert not robots_v1.storageLevel.useMemory


def test_robots_ttl_noop_when_rules_unchanged(spark, corpus, baseline, tmp_path):
    """A TTL refresh whose provider returns the SAME rules is outcome-
    identical to no TTL at all (the diff short-circuits; no transitions
    are appended for unchanged domains)."""
    import dataclasses

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(_cfg(tmp_path / "rnoop"), robots_ttl_rounds=2)
    c = Crawler(spark, cfg, pages, robots, robots_provider=lambda k: robots)
    c.run(seeds=seeds)
    assert _crawl_outcome(spark, c) == baseline
    trans = c.t["transitions"].read(spark)
    assert trans.filter(F.col("robots_allowed").isNotNull()).count() == 0


def test_round_walls_do_not_trend_up_over_30_rounds(spark, corpus, tmp_path):
    """O(lifetime) regression guard (round-4 verdict item #7): in a 30-round
    steady-state crawl (short staleness keeps every URL re-entering, so no
    round drains) the rolling MEDIAN of round wall-times must not grow —
    median-of-window asserts, never per-round, to ride out the documented
    ~±15% host-noise band (a monotone manifest/delta leak would show as the
    late-window median escaping a generous 2x of the early window)."""
    import dataclasses
    import statistics

    pages, seeds, robots = corpus
    cfg = dataclasses.replace(
        _cfg(tmp_path / "trend"),
        max_rounds=30,
        staleness_s=30.0,          # re-crawl due every (virtual) round
        empty_rounds_stop=30,      # never stop on empties
        transient_fail_mod=0,      # pure steady-state fetch load
    )
    c = Crawler(spark, cfg, pages, robots)
    stats = c.run(seeds=seeds, max_rounds=30)
    walls = [s["wall_ms"] for s in stats if not s.get("drained")]
    assert len(walls) >= 24, f"steady-state crawl ended early: {len(walls)} rounds"
    early = statistics.median(walls[4:14])   # skip warmup rounds 0-3
    late = statistics.median(walls[-10:])
    assert late <= 2.0 * max(early, 1), (
        f"round walls trend up: early median {early} ms, late median {late} ms"
    )
