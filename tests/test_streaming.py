"""Restart of an incremental crawl over an existing warehouse.

Each increment runs one crawl round; a restarted driver holds a fresh
Crawler whose driver-tracked state is at constructor defaults, so its first
increment must route through resume_round before the next round runs."""

from pyspark.sql import functions as F

from gh_crawler_spark.crawler import Crawler, CrawlConfig
from gh_crawler_spark.sources.pages import generate_pages


def test_foreach_batch_crawl_restart_resumes_driver_state(spark, tmp_path):
    """The restarted crawler's driver-tracked state must be real after
    resume_round: _trans_rows reflects the actual transitions delta (the
    broadcast hint is not force-armed at the constructor default 0), the
    Bloom is rebuilt, the active-row bound is unknown (None, so no drained
    skip can fire on a stale value), and the next round lands after the
    last completed one."""
    pages = generate_pages(spark, 120, seed=5, n_domains=20)
    root = str(tmp_path / "fbr")
    # tiny per-domain token capacity: the first round leaves eligible rows
    # behind, so the restarted round has real work to commit
    cfg = CrawlConfig(root=root, n_buckets=4, max_rounds=5,
                      token_capacity_s=0.2)
    seeds = pages.select(F.col("url"), F.lit(cfg.default_priority).alias("priority"))
    c1 = Crawler(spark, cfg, pages)
    c1.init_frontier(seeds)
    c1.run_round(0)
    n_trans = c1.t["transitions"].read(spark).count()

    # restart: FRESH crawler over the same root
    c2 = Crawler(spark, cfg, pages)
    assert c2._trans_rows == 0 and c2._bloom is None  # constructor defaults
    k = c2.resume_round()
    assert k == 1
    c2.run_round(k)
    # resume_round ran before the round: real delta count (+ the new round's
    # own appended transitions), Bloom rebuilt, bound unknown, round
    # numbering moved on
    assert c2._trans_rows >= n_trans
    assert c2._bloom is not None
    assert c2._next_round_bound is None
    rounds = sorted(r["round"] for r in c2.t["rounds"].read(spark).collect())
    assert rounds == [0, 1]
