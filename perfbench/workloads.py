"""The benchmark workloads: one closed-loop caller that waits for every
public engine call to return, times it from outside, and checks the outcome.

* ``polite``  — discovery crawl from 120 seeds under the default per-host
  token buckets; interrupted after its round and a compaction, then resumed
  by a fresh ``Crawler`` from the ``rounds`` table.
* ``refresh`` — batch re-crawl: every corpus URL is a seed, co-partitioned
  fetch join, politeness budgets that never bind.
* ``queries`` — five of the headline query registry entries, each run once
  cold (collected, and checked against its DuckDB oracle) and then steady
  with a noop sink.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time
from dataclasses import dataclass, field

from harness import log, median
from inputs import CrawlSize, QuerySize, crawl_corpus, documents_table, query_tables
from expected import crawl_expected, oracle_expected, oracle_tables


@dataclass
class Result:
    """What one workload run measured. ``e2e`` holds the end-to-end metric
    values (name -> value); ``layer`` holds workload-specific per-layer
    values the tracer cannot see from method wrappers."""
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.problems.append(what)


class Workload:
    """What the crawl and query workloads share: the benchmark's own Spark
    work is kept apart from the engine's."""

    # replaced by the tracer's pause in a traced run
    untraced = staticmethod(contextlib.nullcontext)

    @contextlib.contextmanager
    def gate(self):
        """Spark work of the benchmark itself (fetch-index materialization,
        the correctness gate): labelled ``perfbench:gate`` in the event log
        and left out of the traced run's spans."""
        sc = self.sess.spark.sparkContext
        sc.setJobDescription("perfbench:gate")
        try:
            with self.untraced():
                yield
        finally:
            sc.setJobDescription(None)


# ---------------------------------------------------------------- crawls


@dataclass(frozen=True)
class CrawlShape:
    size: CrawlSize
    rounds: int     # rounds per crawl (fixed work per unit)
    resume: bool    # then compact, interrupt, and resume in a fresh Crawler
    config: dict    # CrawlConfig overrides


# Both crawls read the same corpus (one cached parquet per seed). A round
# costs ~10 s of mostly fixed work on 4 cores whatever its size, and the
# whole sweep of runs must fit the benchmark's time budget on a shared host
# (README, Workloads), so a polite unit is one round, then compaction, the
# interrupt and the resume.
CORPUS = CrawlSize(pages=400, domains=40, paras=(20, 60), seeds=0)

CRAWLS = {
    "polite": CrawlShape(
        size=dataclasses.replace(CORPUS, seeds=120), rounds=1, resume=True,
        config=dict(n_buckets=4, n_salts=2, transient_fail_mod=0,
                    empty_rounds_stop=1),
    ),
    "refresh": CrawlShape(
        size=CORPUS, rounds=1, resume=False,
        config=dict(n_buckets=4, n_salts=2, transient_fail_mod=0,
                    empty_rounds_stop=1, broadcast_fetch=False,
                    token_capacity_s=100_000.0, round_duration_s=600.0),
    ),
}

SMOKE_CRAWL = CrawlSize(pages=120, domains=12, paras=(2, 6), seeds=0)


class CrawlWorkload(Workload):
    def __init__(self, name: str, sess, seed: int, work_dir: str, cache_dir: str,
                 smoke: bool = False) -> None:
        shape = CRAWLS[name]
        if smoke:
            size = dataclasses.replace(
                SMOKE_CRAWL, seeds=min(shape.size.seeds, 20))
            shape = dataclasses.replace(shape, size=size)
        self.name, self.shape, self.sess, self.seed = name, shape, sess, seed
        self.work_dir, self.cache_dir = work_dir, cache_dir
        self.n_roots = 0

    # -- inputs ---------------------------------------------------------
    def generate(self) -> None:
        """Write the seeded corpus once (cached by seed and size)."""
        self.corpus_path = crawl_corpus(self.sess.spark, self.cache_dir, self.seed,
                                        self.shape.size)

    def _frames(self):
        from pyspark.sql import functions as F

        from gh_crawler_spark.sources.pages import generate_robots, generate_seeds

        spark, size = self.sess.spark, self.shape.size
        pages = spark.read.parquet(self.corpus_path)
        robots = generate_robots(spark, seed=self.seed, n_domains=size.domains)
        if size.seeds:
            seeds = generate_seeds(spark, size.pages, size.seeds, seed=self.seed,
                                   n_domains=size.domains)
        else:
            seeds = pages.select("url", F.lit(50.0).alias("priority"))
        return pages, robots, seeds

    def _config(self):
        from gh_crawler_spark.crawler import CrawlConfig

        self.n_roots += 1
        root = os.path.join(self.work_dir, f"crawl{self.n_roots}")
        return CrawlConfig(root=root, max_rounds=self.shape.rounds, **self.shape.config)

    def _crawler(self, cfg, warmup: list[float] | None = None):
        """A Crawler over the corpus with its fetch index materialized (the
        index simulates the network; a real crawl does not pay it)."""
        from gh_crawler_spark.crawler import Crawler

        c = Crawler(self.sess.spark, cfg, self.pages, self.robots)
        t0 = time.monotonic()
        with self.gate():
            c.pages_idx.count()
        if warmup is not None:
            warmup.append(time.monotonic() - t0)
        return c

    def setup(self) -> tuple[float, float, float]:
        """Session build; corpus read and Crawler construction; fetch-index
        materialization (the warm-up). The first call also generates the
        inputs (untimed)."""
        t_session = self.sess.rebuild()
        if not hasattr(self, "corpus_path"):
            t0 = time.monotonic()
            self.generate()
            log(f"[{self.name}] inputs ready in {time.monotonic() - t0:.1f}s")
        t0 = time.monotonic()
        self.pages, self.robots, self.seeds = self._frames()
        warmup: list[float] = []
        self.first = self._crawler(self._config(), warmup)
        return t_session, time.monotonic() - t0 - warmup[0], warmup[0]

    # -- measured unit --------------------------------------------------
    def _unit(self, res: Result, crawler, stats: dict) -> None:
        """One crawl: init → rounds (→ compact, interrupt, resume in a fresh
        Crawler). Every public call is timed from here; one that raises
        fails as an operation and ends the crawl."""
        from gh_crawler_spark.crawler import Crawler

        shape, cfg = self.shape, crawler.cfg
        walls = stats.setdefault("round_s", [])
        calling = "benchmark"

        def timed(what: str, fn, *a):
            nonlocal calling
            calling = what
            t0 = time.monotonic()
            out = fn(*a)
            dt = time.monotonic() - t0
            calling = "benchmark"
            stats["crawl_s"] = stats.get("crawl_s", 0.0) + dt
            return out, dt

        rounds: list[dict] = []
        try:
            _, dt = timed("init_frontier", crawler.init_frontier, self.seeds)
            stats.setdefault("init_s", []).append(dt)
            for k in range(shape.rounds):
                s, dt = timed(f"run_round({k})", crawler.run_round, k)
                walls.append(dt)
                rounds.append(s)
                res.op(True)
                if s.get("drained") or s["eligible"] == 0:
                    break
            if shape.resume:
                timed("compact", crawler.compact)
                # interrupted: the next process starts from the tables alone
                # (and fetches nothing, so its fetch index stays unbuilt)
                crawler.pages_idx.unpersist()
                crawler = Crawler(self.sess.spark, dataclasses.replace(cfg),
                                  self.pages, self.robots)
                start, dt = timed("resume_round", crawler.resume_round)
                stats.setdefault("resume_s", []).append(dt)
                want = len(rounds)
                res.op(start == want, f"resume_round returned {start}, want {want}")
        except Exception as e:  # the outcome of a broken crawl is not checked
            res.op(False, f"{calling}: {e!r}")
        else:
            with self.gate():
                self._check(res, crawler, rounds)
        finally:
            stats.setdefault("rounds", []).extend(rounds)
            crawler.pages_idx.unpersist()

    def _check(self, res: Result, crawler, rounds: list[dict]) -> None:
        """Engine fetch sets per round and final seen set vs the simulator."""
        spark = self.sess.spark
        got: dict[int, set[int]] = {}
        for r in crawler.t["results"].read(spark).select("round", "url_hash").collect():
            got.setdefault(int(r["round"]), set()).add(int(r["url_hash"]))
        seen = {int(r["url_hash"]) for r in crawler.t["seen"].read(spark).select("url_hash").collect()}
        want = self.expected
        n_fail = 0
        for s in rounds:
            k = s["round"]
            if got.get(k, set()) != want.fetch_by_round.get(k, set()):
                n_fail += 1
                res.problems.append(
                    f"round {k}: fetched {len(got.get(k, ()))} want "
                    f"{len(want.fetch_by_round.get(k, ()))}")
        extra = set(got) - {s["round"] for s in rounds}
        if extra or seen != want.seen:
            n_fail += 1
            res.problems.append(f"seen {len(seen)} want {len(want.seen)}; "
                                f"unexpected rounds {sorted(extra)}")
        res.failed += min(n_fail, len(rounds))

    def expected_outcome(self) -> None:
        seeds = [(r["url"], float(r["priority"])) for r in self.seeds.collect()]
        robots = {r["registrable_domain"]: (r["robots_rules"], int(r["crawl_delay_ms"]))
                  for r in self.robots.collect()}
        self.expected = crawl_expected(
            self.cache_dir, self.shape.size.key(self.seed), self.corpus_path,
            seeds, robots, self.first.cfg, self.shape.rounds)

    def break_expected(self) -> None:
        """Drop one URL from the first round's expected fetch set, so a
        correct engine must fail the gate (the benchmark's own tests)."""
        first = self.expected.fetch_by_round[min(self.expected.fetch_by_round)]
        first.discard(min(first))

    def measure(self, seconds: float, res: Result) -> dict:
        stats: dict = {}
        t0 = time.monotonic()
        crawler = self.first
        units = 0
        while True:
            self._unit(res, crawler, stats)
            units += 1
            if time.monotonic() - t0 >= seconds:
                break
            crawler = self._crawler(self._config())
        stats["units"] = units
        return stats

    def metrics(self, stats: dict, res: Result) -> None:
        rounds = stats["rounds"]
        fetched = sum(int(s["fetched"]) for s in rounds)
        links = sum(int(s["links"]) for s in rounds)
        new = sum(int(s["new"]) for s in rounds)
        units = stats["units"]
        crawl_s = stats.get("crawl_s", 0.0)
        res.e2e["items_per_s"] = (fetched + links - new) / crawl_s if crawl_s else 0.0
        res.e2e["op_p50_s"] = median(stats["round_s"])
        # time to the first committed batch of a fresh crawl
        first = stats.get("init_s", [0.0])[:1] + stats["round_s"][:1]
        res.e2e["cold_s"] = sum(first)
        res.layer.update({
            "crawler.rounds": len(rounds) / units,
            "crawler.round_eligible": sum(int(s["eligible"]) for s in rounds) / units,
            "dedup.links": links / units,
            "dedup.new_links": new / units,
            "dedup.new_per_link": new / links if links else 0.0,
        })
        log(f"[{self.name}] units={units} rounds={len(rounds)} fetched={fetched} "
            f"links={links} new={new} crawl_s={crawl_s:.2f} "
            f"round_s={[round(x, 2) for x in stats['round_s']]} "
            f"resume_s={[round(x, 2) for x in stats.get('resume_s', [])]}")

    def files_written(self) -> tuple[int, int]:
        """Data files and bytes under every crawl root this run created."""
        n = size = 0
        for i in range(1, self.n_roots + 1):
            for dirpath, _, files in os.walk(os.path.join(self.work_dir, f"crawl{i}")):
                for f in files:
                    if f.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(dirpath, f))
        return n, size

    def cleanup(self) -> None:
        for i in range(1, self.n_roots + 1):
            shutil.rmtree(os.path.join(self.work_dir, f"crawl{i}"), ignore_errors=True)


# ---------------------------------------------------------------- queries

# A tenth of the sf0.1 row counts (sf0.01's). Documents are fewer (250, not
# 5,000): below 1,000 documents the similarity queries cost the same at any
# count, and the DuckDB oracles of some document queries grow steeply with
# it (td_minhash_lsh: 73 s at 250, over 5 min at 500 on 4 cores).
QUERY_SIZE = QuerySize(scale=0.1, documents=250)
SMOKE_QUERY_SIZE = QuerySize(scale=0.002, documents=12)
# The measured queries: the TPC-H Q1-style headline aggregate and one
# headline query per operator module the crawls never call (textops,
# dedup_text, similarity, multimodal). The other 12 bench.py HEADLINE
# queries are left out for time: the benchmark's whole sweep of runs must
# fit its time budget on a shared 4-core host, and a queries run over all 17
# took 55-140 s (README, Workloads).
QUERY_SET = ["a1_pricing_summary", "td_text_analysis", "td_ngram_jaccard",
             "td_ann_cosine", "td_media_meta"]
# Steady passes run until ``--seconds`` have passed since the first began,
# and at least this many, so each per-query steady time is a median.
STEADY_PASSES = 4


def document_oracles(cache_dir: str, store: str) -> list[str]:
    """Compute into ``store`` the oracles of the measured queries that read
    only the seed-independent documents table (~2 min of DuckDB planning).
    Returns those queries' names."""
    names = [n for n in QUERY_SET if oracle_tables(n) == ["documents"]]
    docs_dir = documents_table(cache_dir, QUERY_SIZE)
    for n in names:
        oracle_expected(cache_dir, docs_dir, n, store)
    return names


class QueryWorkload(Workload):
    name = "queries"

    def __init__(self, sess, seed: int, work_dir: str, cache_dir: str,
                 smoke: bool = False) -> None:
        self.sess, self.seed = sess, seed
        self.cache_dir = cache_dir
        self.size = SMOKE_QUERY_SIZE if smoke else QUERY_SIZE
        self.names = QUERY_SET
        self.tables = sorted({t for n in self.names for t in oracle_tables(n)})

    def generate(self) -> None:
        self.sf_dir = query_tables(self.cache_dir, self.seed, self.size)

    def setup(self) -> tuple[float, float, float]:
        """Session build; opening every table the queries read (file
        listing and schema); a full scan of each (the warm-up). The first
        call also generates the inputs (untimed)."""
        t_session = self.sess.rebuild()
        if not hasattr(self, "sf_dir"):
            t0 = time.monotonic()
            self.generate()
            log(f"[{self.name}] inputs ready in {time.monotonic() - t0:.1f}s")
        t0 = time.monotonic()
        tables = [self.sess.spark.read.parquet(f"{self.sf_dir}/{t}.parquet")
                  for t in self.tables]
        t1 = time.monotonic()
        with self.gate():
            for df in tables:
                df.count()
        return t_session, t1 - t0, time.monotonic() - t1

    def expected_outcome(self) -> None:
        self.expected = {n: oracle_expected(self.cache_dir, self.sf_dir, n)
                         for n in self.names}

    def break_expected(self) -> None:
        """Drop the last row of the first query's expected result."""
        first = self.names[0]
        self.expected[first] = self.expected[first].iloc[:-1]

    def measure(self, seconds: float, res: Result) -> dict:
        """One cold pass, then at least ``STEADY_PASSES`` steady passes and
        more until ``seconds`` have passed since the steady passes began."""
        from gh_crawler_spark.queries import QUERIES
        from tools.check_oracles import compare

        spark = self.sess.spark
        cold: dict[str, float] = {}
        for n in self.names:
            spark.sparkContext.setJobDescription(f"query:{n}:cold")
            t0 = time.monotonic()
            try:
                got = QUERIES[n][0](spark, self.sf_dir).toPandas()
            except Exception as e:
                res.op(False, f"{n}: {e!r}")
                continue
            cold[n] = time.monotonic() - t0
            problems = compare(got, self.expected[n])
            res.op(not problems, f"{n}: {problems}")
        steady: dict[str, list[float]] = {n: [] for n in self.names}
        t_start = time.monotonic()
        passes = 0
        while True:
            for n in self.names:
                spark.sparkContext.setJobDescription(f"query:{n}")
                t0 = time.monotonic()
                try:
                    QUERIES[n][0](spark, self.sf_dir).write.mode("overwrite").format("noop").save()
                except Exception as e:
                    res.op(False, f"{n}: {e!r}")
                    continue
                steady[n].append(time.monotonic() - t0)
                res.op(True)
            passes += 1
            if passes >= STEADY_PASSES and time.monotonic() - t_start >= seconds:
                break
        spark.sparkContext.setJobDescription(None)
        return {"cold": cold, "steady": steady}

    def metrics(self, stats: dict, res: Result) -> None:
        per_query = {n: median(v) for n, v in stats["steady"].items() if v}
        total = sum(per_query.values())
        res.e2e["items_per_s"] = len(per_query) / total if total else 0.0
        res.e2e["op_p50_s"] = median(list(per_query.values()))
        res.e2e["cold_s"] = sum(stats["cold"].values())
        for n in self.names:
            res.layer[f"query.{n}_s"] = per_query.get(n, 0.0)
            res.layer[f"query.{n}_cold_s"] = stats["cold"].get(n, 0.0)
        log(f"[queries] steady_total_s={total:.2f} cold_total_s={res.e2e['cold_s']:.2f} "
            f"passes={max(len(v) for v in stats['steady'].values())}")
        for n in self.names:
            log(f"[queries] {n}: cold {stats['cold'].get(n, 0.0):.2f}s "
                f"steady {[round(x, 2) for x in stats['steady'][n]]}")

    def files_written(self) -> tuple[int, int]:
        return 0, 0

    def cleanup(self) -> None:
        pass
