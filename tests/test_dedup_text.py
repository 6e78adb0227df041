"""Dedup family: exact, n-gram Jaccard, MinHash-LSH, SimHash."""

import pytest
from pyspark.sql import functions as F

from gh_crawler_spark.operators.dedup_text import (
    connected_components,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)

BASE = (
    "spark frontier crawl queue token bucket robots bloom filter shard "
    "partition shuffle window rank priority fetch politeness domain host snapshot"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                    # exact dup of 0
        (2, "  " + BASE.upper() + " "),               # normalized dup of 0
        (3, BASE.replace("bloom", "cuckoo")),         # near dup (1 token)
        (4, "completely different content about cooking pasta with tomatoes and basil sauce"),
        (5, "another unrelated text mentioning mountains rivers forests and weather patterns"),
        (6, "two tokens"),                            # < k tokens: no shingles, must not crash
        (7, ""),                                      # empty doc
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_dedup_exact(spark, docs):
    groups = {r["keeper_doc_id"]: r["group_size"] for r in dedup_exact(docs).collect()}
    assert groups[0] == 3  # docs 0,1,2 share one fingerprint
    assert groups[3] == 1 and groups[4] == 1 and groups[5] == 1


def test_ngram_jaccard_finds_near_dups(spark, docs):
    pairs = {(r["d1"], r["d2"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 1.0  # case/ws-normalized shingles
    assert 0.5 <= pairs[(0, 3)] < 1.0
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_minhash_lsh_catches_and_verifies(spark, docs):
    got = {(r["d1"], r["d2"]) for r in
           minhash_lsh_pairs(docs, threshold=0.5).collect()}
    exact = {(r["d1"], r["d2"]) for r in
             ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert got <= exact                  # verification: no false positives
    assert (0, 1) in got and (0, 2) in got  # identical docs always collide


def test_simhash_near_pairs(spark, docs):
    got = {(r["d1"], r["d2"]): r["hamming"] for r in
           simhash_near_pairs(docs, max_hamming=6).collect()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 0
    assert got.get((0, 3), 99) <= 6      # 1-token change stays close
    assert (0, 4) not in got


def test_hot_shingle_drop_prunes_but_keeps_identicals(spark, docs):
    # cap=2: shingles shared by docs 0,1,2 (df=3) are dropped, so the 0-1-2
    # identical cluster disappears FROM THE PRUNED SETS consistently (their
    # pruned shingle sets are empty -> no pairs); unrelated docs unaffected.
    pruned = {(r["d1"], r["d2"]) for r in
              ngram_jaccard_pairs(docs, k=3, threshold=0.5,
                                  max_shingle_doc_freq=2).collect()}
    full = {(r["d1"], r["d2"]) for r in
            ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert pruned <= full
    # a generous cap (>= corpus size) is a no-op
    same = {(r["d1"], r["d2"]) for r in
            ngram_jaccard_pairs(docs, k=3, threshold=0.5,
                                max_shingle_doc_freq=100).collect()}
    assert same == full


def test_connected_components_transitive(spark):
    """Multi-hop closure: a chain 1-2-3-4, a triangle 10-11-12, an isolated
    pair 20-21 — every node gets the min reachable id, across hops."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "d1 BIGINT, d2 BIGINT",
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_pointer_doubling(spark):
    """A 120-node chain has diameter 119 — naive min-propagation would need
    119 rounds; pointer doubling must close it within max_iter=10
    (log2(119) ≈ 7)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "d1 BIGINT, d2 BIGINT"
    )
    got = {r["doc_id"]: r["component"] for r in
           connected_components(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(120)}


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "d1 BIGINT, d2 BIGINT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def _exact_jaccard_py(texts: dict[int, str], k: int = 3, cap: int | None = None):
    """Reference Jaccard over distinct word-k-gram shingles (pure Python)."""
    import re

    sets = {}
    for d, t in texts.items():
        toks = [x for x in re.split(r"\s+", t.strip().lower()) if x != ""] if t.strip() else []
        sets[d] = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    if cap is not None:
        from collections import Counter

        df = Counter(s for ss in sets.values() for s in ss)
        sets = {d: {s for s in ss if df[s] <= cap} for d, ss in sets.items()}
    out = {}
    ids = sorted(sets)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            inter = len(sets[d1] & sets[d2])
            union = len(sets[d1] | sets[d2])
            if union and inter:
                out[(d1, d2)] = round(inter / union, 4)
    return out


def test_pruned_jaccard_values_match_reference(spark, docs):
    """r6 restructure (sizes attached AFTER the pair aggregation): the pruned
    path's VALUES — not just pair membership — must equal a brute-force
    reference on both numerator and (pruned-set) denominator."""
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for cap in (2, 100):
        want = {p: j for p, j in _exact_jaccard_py(texts, cap=cap).items() if j >= 0.2}
        got = {(r["d1"], r["d2"]): r["jaccard"] for r in
               ngram_jaccard_pairs(docs, k=3, threshold=0.2,
                                   max_shingle_doc_freq=cap).collect()}
        assert got == want, f"cap={cap}"


def test_dedup_plans_materialize_shingles_once(spark, docs):
    """r6: the shingle index is localCheckpoint'ed — consumers must plan
    against the materialized RDD, never re-expand the tokenize+shingle
    pipeline (the pre-fix plan held 16-24 copies: per-consumer column
    pruning defeats ReuseExchange). `array_distinct` only occurs inside the
    shingling expression, so the final plan must not contain it at all."""
    for df in (
        ngram_jaccard_pairs(docs, k=3, threshold=0.2),
        ngram_jaccard_pairs(docs, k=3, threshold=0.2, max_shingle_doc_freq=20),
        minhash_lsh_pairs(docs, threshold=0.2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "array_distinct" not in plan

    # minhash: the K-M base hashes are projected once — the signature
    # aggregate itself must reference columns, not xxhash64 subtrees
    # (32 min-aggs each inlining 2 hashes cost ~25-30 s of codegen)
    sig_plan = minhash_lsh_pairs(docs, threshold=0.2)._jdf.queryExecution().executedPlan().toString()
    assert sig_plan.count("xxhash64") <= 20  # bases + 8 band hashes, not 64
