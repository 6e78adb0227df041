"""Similarity search: brute-force exact top-k, LSH ANN, IVF ANN."""

import math

import pytest
from pyspark.sql import functions as F

from gh_crawler_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # ~same direction as 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal to 0
        (3, [0.0, 0.99, 0.1, 0.0]),     # ~same as 2
        (4, [-1.0, 0.0, 0.0, 0.0]),     # opposite of 0
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_brute_force_exact(spark, vectors):
    got = brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rk"])]
    assert ranked[0] == 1          # nearest: same direction
    assert ranked == [1, 5, 2]     # then diagonal (cos .5), then orthogonal (0)
    cos01 = next(r["cosine"] for r in got if r["neighbor_id"] == 1)
    want = 0.999 / math.sqrt(0.999**2 + 0.01**2)
    assert abs(cos01 - want) < 1e-6


def test_lsh_is_subset_with_identicals_found(spark, vectors):
    got = lsh_topk(vectors, vectors.filter(F.col("vec_id") == 0), dim=4, k=3, n_planes=4)
    rows = got.collect()
    # every LSH result must carry the exact cosine; nearest-in-bucket comes first
    assert all(r["query_id"] == 0 for r in rows)
    if rows:  # bucket can be a singleton; when not, ranks are consistent
        ranks = sorted(r["rk"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_multi_table_lsh_recall(spark):
    """Recall gate for the scale path: multi-table LSH must find ≥ 90% of
    planted near-neighbors (cosine ≈ 0.95+, the near-dup regime LSH is for).

    Deterministic fixture: 200 seed-fixed random 64-dim vectors, 50 of them
    duplicated with small perturbations. Queries are the perturbed copies;
    the planted partner must appear in the ANN top-5. Collision math at
    n_planes=6, n_tables=4 and θ ≈ 18°: p = (1−θ/π)^6 ≈ 0.53 per table,
    recall ≈ 1−(1−p)^4 ≈ 0.95 — comfortably above the 0.9 gate while each
    table has 2^6 buckets (real pruning, not a scan)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(200, 64)
    rows = [(i, base[i].tolist()) for i in range(200)]
    for j in range(50):
        noisy = base[j] + 0.12 * rng.randn(64)  # cosine ~0.97 to base[j]
        rows.append((1000 + j, noisy.tolist()))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    queries = emb.filter(F.col("vec_id") >= 1000)
    ann = lsh_topk(emb, queries, dim=64, k=5, n_planes=6, n_tables=4)
    found = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    hits = sum((1000 + j, j) in found for j in range(50))
    assert hits / 50 >= 0.9
    # and the ANN result is a subset of the exact answer's universe: every
    # reported cosine must match brute force exactly for the same pair
    exact = brute_force_topk(emb, queries, k=50)
    ecos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    for r in ann.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in ecos:
            assert abs(r["cosine"] - ecos[key]) < 1e-9


def test_ivf_recall(spark):
    """IVF ANN recall gate on the same planted-near-dup fixture as the LSH
    test: the perturbed copy's base partner (cosine ≈ 0.97) must be in the
    top-5 for ≥ 90% of queries at nprobe=4 of 16 cells (reading ~1/4 of the
    corpus per query); nprobe=n_cells must match brute force exactly."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(200, 64)
    rows = [(i, base[i].tolist()) for i in range(200)]
    for j in range(50):
        rows.append((1000 + j, (base[j] + 0.12 * rng.randn(64)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    queries = emb.filter(F.col("vec_id") >= 1000)
    ann = ivf_topk(emb, queries, k=5, n_cells=16, nprobe=4)
    found = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    hits = sum((1000 + j, j) in found for j in range(50))
    assert hits / 50 >= 0.9
    # full probe == exact brute force
    full = ivf_topk(emb, queries, k=5, n_cells=8, nprobe=8)
    exact = brute_force_topk(emb, queries, k=5)
    a = {(r["query_id"], r["neighbor_id"], r["rk"]) for r in full.collect()}
    e = {(r["query_id"], r["neighbor_id"], r["rk"]) for r in exact.collect()}
    assert a == e
    # empty-cluster fallback: the quantizer keeps every cell after Lloyd
    from gh_crawler_spark.operators.similarity import ivf_build_centroids

    assert ivf_build_centroids(emb, n_cells=16, lloyd_iters=1).count() == 16
