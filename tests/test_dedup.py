"""J1: Bloom-prefiltered seen anti-join — no false negatives, exact result."""

import numpy as np
from pyspark.sql import functions as F

from gh_crawler_spark.operators.dedup import (
    PartitionedBloom,
    bucket_expr,
    flag_maybe_seen,
    resolve_unseen,
)


def test_bloom_no_false_negatives(spark):
    seen = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    bloom = PartitionedBloom.build(seen, n_buckets=16, expected_per_bucket=500)
    keys = np.array([r["url_hash"] for r in seen.collect()])
    assert bloom.might_contain_np(keys).all()


def test_bloom_fpp_reasonable(spark):
    seen = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    bloom = PartitionedBloom.build(seen, n_buckets=16, expected_per_bucket=500, fpp=0.01)
    fresh = spark.range(100_000, 110_000).select(F.xxhash64("id").alias("url_hash"))
    keys = np.array([r["url_hash"] for r in fresh.collect()])
    fp_rate = bloom.might_contain_np(keys).mean()
    assert fp_rate < 0.05  # 1% target with headroom


def test_bloom_prefilter_matches_exact_anti_join(spark):
    """flag_maybe_seen + resolve_unseen == the exact anti-join, whether the
    seen loader returns the whole seen set or only the suspect buckets
    (the crawl round's bucket-pruned backstop read)."""
    n_buckets = 64
    cands = spark.range(0, 3000).select(
        F.xxhash64("id").alias("url_hash"), F.col("id").alias("payload")
    )
    seen = spark.range(2995, 4000).select(F.xxhash64("id").alias("url_hash"))
    bloom = PartitionedBloom.build(seen, n_buckets=n_buckets, expected_per_bucket=100)
    flagged = flag_maybe_seen(cands, bloom, spark).cache()
    suspect_buckets = sorted(
        int(r["b"])
        for r in flagged.filter(F.col("__maybe_seen"))
        .select(bucket_expr(F.col("url_hash"), n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    loaded = []

    def pruned_loader(buckets):
        loaded.append(list(buckets))
        return seen.filter(bucket_expr(F.col("url_hash"), n_buckets).isin(buckets))

    exact = cands.join(seen, "url_hash", "left_anti")
    want = sorted(r["payload"] for r in exact.collect())
    assert want == list(range(0, 2995))
    assert 0 < len(suspect_buckets) < n_buckets  # the pruned read is a strict subset
    for loader in (lambda buckets: seen, pruned_loader):
        got = resolve_unseen(flagged, loader, suspect_buckets)
        assert sorted(r["payload"] for r in got.collect()) == want
    assert loaded == [suspect_buckets]
    # no suspects: definite negatives pass through without any seen read
    fresh = flag_maybe_seen(
        spark.range(0, 0).select(F.xxhash64("id").alias("url_hash")), bloom, spark
    )
    assert resolve_unseen(fresh, pruned_loader, []).count() == 0
    assert len(loaded) == 1
    flagged.unpersist()


def test_add_df_matches_build_and_counts(spark):
    """Incremental distributed add == one-shot build, bit for bit; the
    returned key count replaces a separate count() job."""
    all_keys = spark.range(0, 4000).select(F.xxhash64("id").alias("url_hash"))
    first = spark.range(0, 2500).select(F.xxhash64("id").alias("url_hash"))
    second = spark.range(2500, 4000).select(F.xxhash64("id").alias("url_hash"))
    built = PartitionedBloom.build(all_keys, n_buckets=16, expected_per_bucket=300)
    inc = PartitionedBloom.empty(n_buckets=16, expected_per_bucket=300)
    assert inc.add_df(first) == 2500
    assert inc.add_df(second) == 1500
    assert set(built.bitmaps) == set(inc.bitmaps)
    for b, bits in built.bitmaps.items():
        assert np.array_equal(bits, inc.bitmaps[b]), b
    assert inc.add_df(spark.range(0, 0).select(F.xxhash64("id").alias("url_hash"))) == 0


def test_add_df_false_count_rides_along(spark):
    """add_df(false_count_of=...) returns (n_keys, n_false) from the SAME
    job — the crawler's robots-blocked accounting for the small-round
    bound — and folds bits identically to the plain path."""
    df = spark.range(0, 1000).select(
        F.xxhash64("id").alias("url_hash"),
        (F.col("id") % 4 != 0).alias("robots_allowed"),  # 250 blocked
    )
    a = PartitionedBloom.empty(n_buckets=8, expected_per_bucket=300)
    n, n_false = a.add_df(df, false_count_of="robots_allowed")
    assert (n, n_false) == (1000, 250)
    b = PartitionedBloom.empty(n_buckets=8, expected_per_bucket=300)
    assert b.add_df(df.select("url_hash")) == 1000
    assert set(a.bitmaps) == set(b.bitmaps)
    for k, bits in b.bitmaps.items():
        assert np.array_equal(bits, a.bitmaps[k]), k
    # nulls count as allowed (coalesce-to-True, matching the engine)
    df2 = spark.range(0, 10).select(
        F.xxhash64("id").alias("url_hash"),
        F.lit(None).cast("boolean").alias("robots_allowed"),
    )
    assert a.add_df(df2, false_count_of="robots_allowed") == (10, 0)


def test_crawler_never_collects_url_hashes():
    """The flagship pipeline's serial-collection guard (round-1 verdict #2):
    crawler.py must not pull url_hash keys to the driver — Bloom maintenance
    goes through the distributed add_df path."""
    import inspect

    import gh_crawler_spark.crawler as crawler_mod

    src = inspect.getsource(crawler_mod)
    for line in src.splitlines():
        if ".collect()" in line:
            assert "url_hash" not in line, line


def test_broadcast_lifecycle_one_full_ship_then_deltas(spark):
    """Round-2 verdict #1: the full bitmap dict is broadcast once per filter
    lifetime; per-round probes ship only touched-bucket deltas, with
    correctness (no false negatives) preserved across base+delta views."""
    # steady-state sizing: per-round new keys ≪ filter capacity, so each
    # delta position-encodes far smaller than the base bitmap
    bloom = PartitionedBloom.empty(n_buckets=8, expected_per_bucket=5000)
    seen_rounds = []
    for rnd in range(4):
        new = spark.range(rnd * 200, rnd * 200 + 200).select(
            F.xxhash64("id").alias("url_hash")
        )
        assert bloom.add_df(new) == 200
        seen_rounds.append(new)
        probe = bloom.might_contain_udf(spark)  # what flag_maybe_seen calls
        all_seen = seen_rounds[0]
        for df in seen_rounds[1:]:
            all_seen = all_seen.unionByName(df)
        # every seen key must be flagged by the base∪delta probe
        flagged = all_seen.withColumn("m", probe(F.col("url_hash")))
        assert flagged.filter(~F.col("m")).count() == 0
    assert bloom.n_full_broadcasts == 1            # full ship happened ONCE
    assert bloom.n_delta_broadcasts == 3           # one tiny delta per later round
    # idle probe (no adds since last refresh) ships nothing new
    bloom.might_contain_udf(spark)
    assert bloom.n_full_broadcasts == 1 and bloom.n_delta_broadcasts == 3
    # fpp stays sane across summed views
    fresh = spark.range(10_000_000, 10_005_000).select(F.xxhash64("id").alias("url_hash"))
    probe = bloom.might_contain_udf(spark)
    fp = fresh.withColumn("m", probe(F.col("url_hash"))).filter(F.col("m")).count()
    assert fp / 5000 < 0.08
    bloom.close()


def test_broadcast_lifecycle_consolidates(spark):
    """Delta views past max_delta_views merge into ONE fresh full broadcast
    and the superseded handles are destroyed (bounded driver memory)."""
    bloom = PartitionedBloom.empty(n_buckets=4, expected_per_bucket=200)
    bloom.max_delta_views = 2
    bloom.consolidate_ratio = 100.0  # isolate the view-count trigger
    for rnd in range(6):
        new = spark.range(rnd * 100, rnd * 100 + 100).select(
            F.xxhash64("id").alias("url_hash")
        )
        bloom.add_df(new)
        bloom.might_contain_udf(spark)
    # rounds: full, d1, d2, full(consolidate), d1, d2
    assert bloom.n_full_broadcasts == 2
    assert len(bloom._delta_bcs) <= bloom.max_delta_views
    # post-consolidation probe still has zero false negatives
    probe = bloom.might_contain_udf(spark)
    seen_only = spark.createDataFrame(
        [(i,) for r in range(6) for i in range(r * 100, r * 100 + 100)], "id BIGINT"
    ).select(F.xxhash64("id").alias("url_hash"))
    assert seen_only.withColumn("m", probe(F.col("url_hash"))).filter(~F.col("m")).count() == 0
    bloom.close()
