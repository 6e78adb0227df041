"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash and
the exact transitive closure of near-dup pairs — the training-data-pipeline
dedup family.

Scale notes (the whole point of each design):

* **exact**: groupBy fingerprint — one shuffle on a 128-bit key, map-side
  partial agg; at 10^10 docs this is the cheapest possible dedup.
* **n-gram Jaccard**: exact pairwise similarity via shingle inverted index
  (explode -> self-join on shingle -> count). Correct but O(pairs-sharing-a-
  shingle); used as the verifier stage and the small-scale oracle.
* **MinHash+LSH**: k minhash values from xxhash64(shingle, seed_i) (all
  JVM-side — xxhash64 of a concatenated seed prefix), banded into b bands;
  candidate pairs = equi-join on (band_id, band_hash) — a shuffle on short
  keys, never all-pairs. Candidates are then verified with exact Jaccard.
  This is the canonical web-dedup pipeline shape (MinHashLSH as in Broder '97
  resemblance sketches).
* **SimHash**: 64-bit signature = sign-sum of per-token hash bits; near-dups
  = pairs within Hamming distance d, found by splitting the signature into
  d+1 chunks (pigeonhole: any pair at distance ≤ d shares a chunk exactly) —
  again an equi-join, never all-pairs.
* **connected components**: near-dup pairs -> exact groups (min doc_id per
  component), by min-label propagation with pointer doubling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gh_crawler_spark.operators.textops import fingerprint_expr, tokens_expr


def shingle_array_expr(text_col, k: int = 3):
    """Per-row DISTINCT word-k-gram shingle array (set semantics, map-side).

    Docs with fewer than ``k`` tokens yield an EMPTY array — ``sequence(0,
    -1)`` would descend to ``[0, -1]`` and ``slice(toks, 0, k)`` throws, so
    the sequence is gated on size (ADVICE r1). ``array_distinct`` replaces a
    dropDuplicates SHUFFLE with a per-row hash set — the dedup is within one
    document, so it never needed a shuffle."""
    toks = tokens_expr(text_col)
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def shingles_df(
    docs: DataFrame, k: int = 3, text_col: str = "text", with_size: bool = False
) -> DataFrame:
    """Distinct word-k-gram shingles per doc: (doc_id[, n_sh], shingle).

    ``with_size`` carries the per-doc distinct-shingle count on every exploded
    row, so Jaccard consumers don't need a separate sizes aggregation+join —
    the count rides the inverted index for free.

    ``explode_outer`` + a post-filter instead of plain ``explode`` is
    deliberate: a non-outer generator makes the optimizer infer a
    ``size(arr) > 0`` predicate and push it into the SCAN, which evaluates the
    whole tokenize+shingle pipeline a second time per row as a filter
    (measured ~2× the stage cost). The outer variant emits one null-shingle
    row for empty docs, filtered on the generator OUTPUT — cheap and
    un-pushable."""
    arr = docs.select("doc_id", shingle_array_expr(F.col(text_col), k).alias("__sh"))
    if with_size:
        e = arr.select(
            "doc_id", F.size("__sh").alias("n_sh"), F.explode_outer("__sh").alias("shingle")
        )
    else:
        e = arr.select("doc_id", F.explode_outer("__sh").alias("shingle"))
    return e.filter(F.col("shingle").isNotNull())


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: keeper = min doc_id per normalized-text fingerprint."""
    return (
        docs.select("doc_id", fingerprint_expr(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("group_size"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs over word-k-gram shingle sets.

    Inverted-index self-join: pairs are generated only for docs sharing at
    least one shingle. Hot shingles behave like hot join keys — AQE skew-join
    (enabled in session.py) splits them; at corpus scale pass
    ``max_shingle_doc_freq`` to drop shingles appearing in more than that many
    docs BEFORE the self-join (stopword shingles carry ~no signal and all the
    skew; a doc-freq cap bounds the self-join fan-out to cap² per shingle).
    Note the cap changes semantics — Jaccard is then computed over the pruned
    shingle sets on both the numerator and denominator, consistently.
    """
    # ONE materialization of the inverted index, partitioned on the join key
    # (localCheckpoint: every consumer — both self-join sides, the doc-freq
    # agg, the sizes agg — plans against the flat materialized result). The
    # r3-era bare repartition relied on ReuseExchange to pin one shingling
    # pass, but per-consumer column pruning makes the exchange subtrees
    # non-identical: the round-6 plan dump showed SIXTEEN copies of the
    # scan+tokenize+shingle pipeline in td_ngram_jaccard_pruned's initial
    # plan. An explicitly materialized intermediate that k consumers reuse
    # is the guide §5 caching case (reused AND expensive to recompute).
    sh = (
        shingles_df(docs, k, text_col, with_size=True)
        .repartition(F.col("shingle"))
        .localCheckpoint(eager=True)
    )
    if max_shingle_doc_freq is None:
        return _jaccard_pairs(sh, threshold)
    # one extra agg + semi-join on shingle kills the quadratic hot keys; both
    # reuse the shingle exchange (same key), so no extra string shuffle.
    freq_ok = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_shingle_doc_freq)
        .select("shingle")
    )
    kept = sh.drop("n_sh").join(freq_ok, "shingle", "left_semi")
    # Per-doc sizes must be recounted over the PRUNED sets (consistent
    # numerator/denominator). They used to be joined back onto every shingle
    # row BEFORE the self-join — one full exchange of the string rows by
    # doc_id plus its SMJ sorts, just to carry two ints. Instead aggregate
    # the sizes to one int row per doc and attach n1/n2 AFTER the (d1,d2)
    # pair aggregation: the heavy strings now cross the network exactly once
    # (guide §8: decide with small rows), and AQE broadcasts the tiny sizes
    # side at runtime (explicit hints measured slower here in round 3).
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = kept.alias("a"), kept.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("common"))
        .join(sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2")), "d2")
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def _jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, n_sh, shingle) inverted index -> thresholded Jaccard pairs.
    One self-join on shingle + one (d1,d2) aggregation; the set sizes are
    carried on the rows (first() per group), so no sizes join is needed."""
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count("*").alias("common"),
            F.first(F.col("a.n_sh")).alias("n1"),
            F.first(F.col("b.n_sh")).alias("n2"),
        )
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def _with_minhash_bases(sh: DataFrame) -> DataFrame:
    """Project the two Kirsch-Mitzenmacher base hashes ONCE per shingle row.

    K-M double hashing: two real string hashes h1, h2 per shingle, then
    g_i = h1 + i·h2 — the standard trick that preserves MinHash's guarantees
    while doing 2 string hashes + n integer mults instead of n string hashes
    per shingle (the signature aggregation dominates the LSH pipeline at
    corpus scale). Both hashes are masked to 32 bits so g_i fits a long under
    ANSI arithmetic (no wraparound allowed); a 2^32 hash space is ample for
    per-document shingle minima, and band collisions are verified exactly
    downstream anyway.

    A dedicated projection (rather than the hash subtrees repeated inside
    every min-aggregate) keeps the aggregate's generated code tiny: the old
    form inlined 2 xxhash64 subtrees into each of the 32 aggregate
    expressions, and the resulting whole-stage-codegen unit took ~25-30 s of
    Janino compilation on first execution (measured round 6; the dominant
    cost of td_minhash_lsh at sandbox scale)."""
    mask = F.lit((1 << 32) - 1)
    return sh.select(
        "*",
        F.xxhash64(F.col("shingle")).bitwiseAND(mask).alias("__h1"),
        F.xxhash64(F.col("shingle"), F.lit(1)).bitwiseAND(mask).alias("__h2"),
    )


def _minhash_min_exprs(n_hashes: int) -> list:
    """min-aggregate expressions over the projected K-M base hashes."""
    return [
        F.min(F.col("__h1") + F.lit(i) * F.col("__h2")).alias(f"h{i}")
        for i in range(n_hashes)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    bands=8 × rows=4 at threshold 0.5 gives ~s^4 per-band collision — the
    standard S-curve. Candidates are verified, so precision is exact; recall
    depends on (bands, rows) as usual.
    """
    rows_per_band = n_hashes // bands
    # One shingling pass serves BOTH the signature aggregation and the
    # verification stage. localCheckpoint, not a bare repartition: per-
    # consumer column pruning defeats ReuseExchange (the round-6 plan dump
    # showed 24 copies of the scan+shingle pipeline in this query's initial
    # plan); the materialized index is read by the groupBy and by the
    # candidate semi-join below.
    sh = (
        shingles_df(docs, k, text_col, with_size=True)
        .repartition(F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    sig = (
        _with_minhash_bases(sh)
        .groupBy("doc_id")
        .agg(*_minhash_min_exprs(n_hashes))
        .select("doc_id", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig"))
    )
    band_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bh")
    buckets = sig.select("doc_id", band_cols).select("doc_id", "bh.band", "bh.band_hash")
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
        # referenced three times below (cand_docs d1 + d2, the verify join):
        # materialize the (small, LSH-bounded) candidate set once
        .localCheckpoint(eager=True)
    )
    # Verify candidates with exact Jaccard computed ONLY for candidate pairs:
    # expand each pair by d1's shingles, then equi-join d2's shingles on
    # (doc_id, shingle). Cost is O(sum over candidates of |shingles(d1)|),
    # NOT the full-corpus shingle self-join — that's the entire point of LSH
    # (round-1 verdict: the previous version verified against the whole
    # corpus, making the LSH stage save nothing). Set sizes ride the rows,
    # and `sh` reuses the signature stage's shingling exchange.
    cand_docs = (
        candidates.select(F.col("d1").alias("doc_id"))
        .union(candidates.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    # NOTE (round-3, measured): forcing broadcast(candidates)/broadcast(
    # cand_docs) here is ~1.5x SLOWER at sf0.1 (min-of-3 A/B: 7.5s vs 11.0s)
    # — the explicit hint materializes the band self-join early and blocks
    # AQE, which already converts these tiny sides to broadcast at runtime.
    # Left to AQE deliberately.
    sh_cand = sh.join(cand_docs, "doc_id", "left_semi")
    common = (
        candidates
        .join(
            sh_cand.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"), "shingle"),
            "d1",
        )
        .join(
            sh_cand.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"), "shingle"),
            ["d2", "shingle"],
        )
        .groupBy("d1", "d2")
        .agg(
            F.count("*").alias("common"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def simhash_expr(text_col, n_bits: int = 64):
    """64-bit SimHash as a column expression: per-token xxhash64, sum of
    per-bit signs, sign -> bit.

    SINGLE pass over the token-hash array: one ``F.aggregate`` whose
    accumulator is a 64-element vote vector updated via ``zip_with`` against a
    constant mask array, then one ``zip_with`` + OR-fold to pack the bits.
    (Round-1 verdict: the previous 64-separate-aggregate form re-scanned the
    array per bit — td_simhash was the slowest bench query at 11.7 s; this is
    the same signature value in one traversal.)
    """
    toks = tokens_expr(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(1 << i if i < 63 else -(2**63)) for i in range(n_bits)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    bits = F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0)))
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda a, x: a.bitwiseOR(x))


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) via explode + 64 conditional-sum aggregates.

    Same signature value as :func:`simhash_expr`, different physical plan:
    Spark's higher-order functions (aggregate/zip_with) are evaluated
    INTERPRETED per array element, while a HashAggregate over exploded token
    hashes is whole-stage-codegen'd with map-side partial aggregation — one
    shuffle of (doc_id, 64 longs) per doc. Measured ~3-4× faster at sf0.1;
    at corpus scale the shuffle is the per-doc vote vector, not the tokens.
    Docs with zero tokens produce no signature (they have no near-dups).
    """
    masks = [1 << i if i < 63 else -(2 ** 63) for i in range(64)]
    tok = docs.select(
        "doc_id", F.explode(tokens_expr(F.col(text_col))).alias("t")
    ).select("doc_id", F.xxhash64("t").alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i, m in enumerate(masks)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for i, m in enumerate(masks):
        sig = sig.bitwiseOR(F.when(F.col(f"v{i}") > 0, F.lit(m)).otherwise(F.lit(0)))
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """Pairs within Hamming distance d via the pigeonhole chunk join:
    split the 64-bit signature into d+1 chunks; any pair at distance ≤ d
    agrees exactly on ≥1 chunk — candidates come from an equi-join on
    (chunk_id, chunk_value), then are verified with bit_count(xor)."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    # both self-join sides reference the signature pipeline; materialize it
    # once (1 short row per doc) instead of re-running the token explode +
    # 64-vote aggregation per side
    sig = simhash_signatures(docs, text_col).localCheckpoint(eager=True)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 20, d1: str = "d1", d2: str = "d2"
) -> DataFrame:
    """Exact transitive closure of near-dup pairs: (doc_id, component) where
    component = min doc_id reachable through the pair graph.

    Iterative min-label propagation with POINTER DOUBLING: each round every
    node adopts the smallest label among itself and its neighbors, then
    shortcuts to its label's label (label-of-label). The doubling halves the
    remaining path length per round, so rounds ≈ log2(diameter) instead of
    diameter — a 10^6-long dup chain converges in ~20 rounds, not 10^6.
    Converged when no label changes; if ``max_iter`` rounds pass without
    convergence a RuntimeError is raised rather than silently returning
    partially-propagated labels (the closure must be exact — callers group
    and drop rows by it).

    At 10^10 edges use the same loop — per-round cost is two hash-aggregate
    shuffles over the edge/label lists; the driver holds only the loop
    counter and the 1-row convergence count.

    Lineage is truncated with ``localCheckpoint`` every iteration — an
    iterative self-referencing plan otherwise grows EXPONENTIALLY (each round
    embeds the previous round's plan twice, via the propagation join and the
    convergence check) and OOMs the driver during analysis within ~8 rounds.
    """
    edges = (
        pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # undirected: propagate labels both ways; checkpointed once, reused per round
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(F.col("a").alias("doc_id"), F.least(F.col("a"), F.col("mb")).alias("component"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_iter):
        # neighbor labels: join edges to current labels, take min per node
        nbr = (
            sym.join(labels, sym["b"] == labels["doc_id"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = labels.join(nbr, labels["doc_id"] == nbr["a"], "left").select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: shortcut every label to its label's label —
        # component values are themselves node ids, so self-join resolves
        # them one more hop, halving the remaining chain length each round
        lut = stepped.select(
            F.col("doc_id").alias("c"), F.col("component").alias("cc")
        )
        new_labels = (
            stepped.join(lut, stepped["component"] == lut["c"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("cc"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (rounds needed ~= log2(graph diameter))"
        )
    return labels
