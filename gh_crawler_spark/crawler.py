"""The crawl round loop: frontier -> schedule -> fetch -> extract -> commit.

This is the engine's equivalent of the reference's
``EnhancedCrawlerManager.process_repositories`` driver
(``src/enhanced_crawler.py:65-139``) and its two-phase
discovery/scrape loop (``src/aggressive_pr_scraper.py:153-253``), re-expressed
as a driver-side ``while`` loop of DataFrame jobs over snapshot tables
(SURVEY.md §3.2→Spark). Each round:

  1. **Eligibility** (F7/F8/T5/T10): ``state='discovered' AND next_fetch_ts <=
     now AND (blocked_until IS NULL OR blocked_until <= now)`` — the virtual
     clock (round k -> t0 + k·Δ) keeps every politeness decision
     deterministic and parallelism-independent.
  2. **Robots** (north rule): vectorized pandas UDF per batch.
  3. **Schedule** (W1/W2/T1): token-bucket budgets joined from host_state,
     skew-safe salted window rank.
  4. **Fetch** (S3, simulated): broadcast the (small) scheduled batch against
     the pages corpus keyed by ``xxhash64(canonical_url)``; a deterministic
     hash slice of rows fails transiently to exercise T2 backoff and the T4
     circuit breaker. (The production HTTP path lives in
     ``operators/fetch.py`` with identical dataflow shape.)
  5. **Extract** (X1/UDF): byte-identical text + canonical out-links.
  6. **Discover** (J1/U1/T7): explode out-links -> Bloom-prefiltered anti-join
     against all known hashes -> new frontier rows with decayed priority.
  7. **Commit** (S7/S11/S12/T6): append results/seen/metrics, append this
     round's frontier **state transitions** (a delta table — the Iceberg
     MERGE shape: per-round cost is O(changes), never a frontier rewrite;
     :meth:`Crawler.compact` periodically folds the delta back into the
     bucketed frontier), overwrite host_state, then the ``rounds`` lineage
     row — whose snapshot ids are what :meth:`Crawler.resume` rolls back to,
     giving exactly-once rounds (vs the reference's at-least-once
     save-every-10, ``src/pr_checkpoint_manager.py:148-150``).

Termination (A10): ``empty_rounds_stop`` consecutive rounds with no eligible
URLs (reference k=3, ``src/aggressive_pr_scraper.py:302``) or the round cap
(L5).
"""

from __future__ import annotations

import datetime as dt
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gh_crawler_spark.functions.text import extract_page_udf
from gh_crawler_spark.functions.urls import (
    canonicalize_url_expr,
    host_expr,
    registrable_domain_expr,
    url_hash_expr,
)
from gh_crawler_spark.operators.dedup import (
    PartitionedBloom,
    bucket_expr,
    flag_maybe_seen,
    resolve_unseen,
)
from gh_crawler_spark.operators.politeness import (
    adapt_refill_rate,
    apply_circuit_breaker,
    backoff_next_fetch_ts,
    refill_tokens,
    robots_allowed_udf,
)
from gh_crawler_spark.operators.scheduling import rank_fetch_batch
from gh_crawler_spark.tables import SnapshotTable

EPOCH = dt.datetime(2024, 6, 1, 0, 0, 0)

# URL-seen Bloom sizing, shared by the seed-time empty filter and resume's
# rebuild: BLOOM_EXPECTED_KEYS keys spread over the frontier's hash buckets.
BLOOM_EXPECTED_KEYS = 2_000_000
BLOOM_FPP = 0.01

# The per-round eligibility join broadcasts the transitions-latest view while
# the delta holds at most this many rows (tracked driver-side: exactly
# n_batch rows append per round, reset by compact()). The delta is orders of
# magnitude smaller than the frontier between compactions, so the explicit
# hint spares the frontier side its shuffle WRITE — AQE's late SMJ->BHJ
# conversion only skips the exchange read. Past the bound the join falls
# back to AQE's runtime choice, the right behavior when a 10^10-row crawl
# lets the delta grow huge.
BROADCAST_TRANSITIONS_MAX_ROWS = 2_000_000

# A broadcast-mode round whose measured batch is at most this many rows
# coalesces its fetch index to min(cores, batch rows) partitions
# (Crawler._probe_batch).
SMALL_ROUND_ROWS = 5000


def _scan_java_only_regex(pat: str) -> str | None:
    """Return a description of the first Java-regex-only construct in
    ``pat``, or None if the pattern stays in the Java∩Python common subset.

    Escape- and character-class-aware (round-4 ADVICE: a raw substring scan
    falsely rejected ``a\\++`` — escaped plus then a ``+`` quantifier — and a
    literal ``&&`` outside a class, which is legal in both dialects). Flags:
      * possessive quantifiers: an unescaped ``+`` directly after an
        unescaped quantifier terminator (``*`` ``+`` ``?`` ``}``) outside a
        class (lazy ``*?``/``+?`` stay legal — only a trailing ``+`` is
        possessive);
      * ``&&`` (both unescaped) inside a character class (Java intersection);
      * ``\\h \\H \\v \\V`` as real escapes (odd backslash run): ``\\h/\\H/\\V``
        do not compile under Python re, and ``\\v`` compiles but means
        vertical-TAB in Python vs vertical-whitespace CLASS in Java.
    """
    in_class = False
    prev_quant = False  # previous char: unescaped quantifier terminator
    prev_amp = False  # previous char: unescaped '&' inside a class
    i, n = 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "\\":
            nxt = pat[i + 1] if i + 1 < n else ""
            if nxt in "hHvV":
                return f"'\\{nxt}'"
            i += 2  # consume the escape; an escaped char is a plain literal
            prev_quant = prev_amp = False
            continue
        if in_class:
            if c == "&" and prev_amp:
                return "'&&' inside a character class"
            prev_amp = c == "&"
            if c == "]":
                in_class = False
                prev_amp = False
            i += 1
            continue
        if c == "[":
            in_class = True
            prev_quant = prev_amp = False
            i += 1
            continue
        if c == "+" and prev_quant:
            return "a possessive quantifier ('*+', '++', '?+' or '{..}+')"
        prev_quant = c in "*+?}"
        i += 1
    return None


@dataclass
class CrawlConfig:
    root: str                      # snapshot-table warehouse dir
    n_buckets: int = 32            # frontier hash buckets (4096 at 10^10)
    round_duration_s: float = 30.0 # virtual seconds per round
    priority_decay: float = 0.9    # child priority = parent · decay
    default_priority: float = 1.0
    max_attempts: int = 3          # T2/L6 (reference: 3 attempts)
    transient_fail_mod: int = 0    # 1/N of fetches fail transiently; 0 = off
    n_salts: int = 16              # W1 skew salting
    max_rounds: int = 50           # L5 page-cap analog
    empty_rounds_stop: int = 3     # A10 (reference k=3)
    bloom_min_keys: int = 10_000   # (retained knob; bloom is now always on)
    token_capacity_s: float = 120.0  # bucket capacity = rate · this
    adaptive_rate: bool = False    # T3: shrink/recover per-host budgets
    # T5: failed URLs re-enter the frontier after this many virtual seconds
    # (reference: 7-day failed-cache TTL, src/failed_issue_cache.py:31,52-59);
    # None = failures are terminal. On expiry the attempt count restarts.
    failure_ttl_s: float | None = None
    # T10: fetched URLs become re-eligible after this many virtual seconds
    # (reference: 30-day checkpoint staleness re-crawl,
    # src/checkpoint_manager.py:67-99); None = fetch-once.
    staleness_s: float | None = None
    # X10/X14/j4b: parse the embedded page-data JSON into a NESTED per-page
    # entities table (issue number/state + comments array — the reference's
    # repo -> PR -> comments data model, src/models.py:62-116)
    extract_entities: bool = False
    # F3: per-scope out-link predicates (reference src/pr_scraper.py:431-448 —
    # only same-repo /pull/N links survive discovery). Both act on CANONICAL
    # link + parent URLs, before dedup/anti-join:
    #   link_shape      — regex the link must contain (rlike / re.search)
    #   link_same_scope — regex with ONE capture group; the link is kept only
    #                     when its group-1 equals the parent page's group-1
    #                     (both must match — non-matching links are dropped)
    # REGEX SUBSET: the engine evaluates these with Java regex (rlike /
    # regexp_extract) while the simulator spec uses Python ``re`` — like the
    # canonicalize triple-implementation invariant, patterns must stay in the
    # Java∩Python common subset: literals, classes ``[...]``, alternation,
    # anchors, greedy/lazy quantifiers, ``\d \w \s``, plain groups. AVOID
    # possessive quantifiers (``*+``), class intersection (``[a&&[b]]``),
    # ``\h``/``\v``, and mid-pattern inline flags — Java-only; they would
    # silently diverge engine-vs-spec. ``__post_init__`` validates the
    # pattern compiles under Python ``re`` and rejects the Java-only tokens.
    link_shape: str | None = None
    link_same_scope: str | None = None
    # Fetch-join shape: True broadcasts the (small) scheduled batch against
    # the fetch index — the steady-state crawl, batch ≪ corpus. False
    # CO-PARTITIONS instead: the fetch index is persisted hash-partitioned
    # on url_hash and the batch is shuffled to the same partitioning, so the
    # join moves only the batch — the right shape when a round fetches a
    # large fraction of the corpus (batch-refresh crawls), where a driver
    # broadcast of the whole batch is itself a serial bottleneck. In both
    # modes each round first measures its batch (phase small_probe, see
    # Crawler._probe_batch); only broadcast mode prunes and resizes the
    # index from that measurement.
    broadcast_fetch: bool = True
    # Broadcast the per-domain dim tables (host_state latest view, robots
    # rules) into the eligibility/robots joins. Right at sandbox scale and
    # for most real crawls (≤ a few million domains). At 10^7-10^8
    # registrable domains the forced broadcast would exceed driver memory —
    # set False and the joins become plain equi-joins on registrable_domain,
    # with AQE choosing broadcast/shuffle at runtime from actual sizes.
    # (budget_overrides stays broadcast unconditionally: it is an explicit
    # operator-supplied override list, small by construction.)
    broadcast_dims: bool = True
    # Fold the transitions delta back into the bucketed frontier every N
    # rounds (0 = only at crawl end). The per-round eligibility pass replays
    # the delta through a latest-wins window (_effective_frontier), so the
    # delta must stay O(recent rounds) on long crawls — without periodic
    # compaction it grows O(all state changes since the last compact) and
    # per-round cost creeps upward (round-3 verdict #2).
    compact_every_rounds: int = 8
    # Snapshot retention: after each periodic compaction, expire all but the
    # newest N manifests per table and delete orphaned data files (Iceberg
    # expireSnapshots). 0 = never expire (keeps full time-travel history —
    # the right default for tests/debugging; on a weeks-long production
    # crawl the manifest chain and superseded frontier rewrites otherwise
    # grow without bound). Must comfortably exceed the commits-per-round of
    # any table (≤2) times the rounds between compactions so resume's
    # rollback targets always survive; 32 is conservative for the default
    # compact_every_rounds=8.
    expire_snapshots_keep: int = 0
    # Robots TTL (rounds): every N rounds the crawler re-consults its
    # robots_provider and, for domains whose rules TEXT changed, re-verdicts
    # the active frontier rows of ONLY those domains (a transitions append
    # carrying robots_allowed — O(changed-domain rows), never a frontier
    # rewrite; folded at the next compact()). 0 disables (rules frozen at
    # init — the pre-round-5 behavior, and the bench default: a refresh that
    # finds no provider or no diff costs one dim-table compare). A real
    # crawler re-fetches robots.txt periodically; the reference never does
    # (robots is an engine addition per the north rule).
    robots_ttl_rounds: int = 0
    # Truncate the lineage of round-local materializations (localCheckpoint
    # instead of persist). The round builds 5 cached frames whose consumers
    # (appends, host fold, transition rows, discovery) otherwise each carry
    # the FULL logical tree back through the effective-frontier window —
    # round-5 event-log profile measured 5.4 s + 3.7 s driver gaps in ONE
    # tail round that were pure plan construction + re-analysis of those
    # trees (py4j chatter scales with tree size too). With truncation every
    # consumer plans against a flat LogicalRDD. Blocks are freed
    # deterministically at round end via a persistent-RDD-id diff (the
    # historical GC-pressure objection to localCheckpoint). Safe because
    # every stage is deterministic by construction; on executor loss a
    # truncated block cannot be recomputed, so a multi-node deployment that
    # expects preemption should flip this off (persist keeps full lineage).
    truncate_lineage: bool = True

    def __post_init__(self) -> None:
        # F3 regex subset validation (see the comment above link_shape):
        # compile under Python re (the simulator side) and reject Java-only
        # constructs textually; require exactly one capture group for
        # link_same_scope (its semantics compare group 1).
        import re as _re

        for name in ("link_shape", "link_same_scope"):
            pat = getattr(self, name)
            if pat is None:
                continue
            try:
                compiled = _re.compile(pat)
            except _re.error as e:
                raise ValueError(
                    f"CrawlConfig.{name}: pattern must compile under Python "
                    f"re (engine/simulator parity): {e}"
                ) from e
            tok = _scan_java_only_regex(pat)
            if tok is not None:
                raise ValueError(
                    f"CrawlConfig.{name}: {tok} is Java-regex-only and "
                    "diverges from the Python re simulator spec"
                )
            if name == "link_same_scope" and compiled.groups != 1:
                raise ValueError(
                    "CrawlConfig.link_same_scope needs exactly ONE capture "
                    f"group (got {compiled.groups}); group 1 is the scope key"
                )


FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("registrable_domain", T.StringType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("next_fetch_ts", T.TimestampType()),
        T.StructField("state", T.StringType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("discovered_round", T.IntegerType()),
        # robots verdict is computed ONCE when a URL enters the frontier
        # (rules are static per crawl) — keeps the pandas UDF off the
        # per-round eligibility path, which stays pure column exprs
        T.StructField("robots_allowed", T.BooleanType()),
    ]
)


TRANSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("next_fetch_ts", T.TimestampType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("round", T.IntegerType()),
        # NULL on ordinary state transitions (verdict unchanged); set by the
        # robots-TTL refresh when a domain's rules change (coalesced into the
        # frontier view like the other columns, folded at compact())
        T.StructField("robots_allowed", T.BooleanType()),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("urls_fetched", T.LongType()),
        T.StructField("urls_deduped", T.LongType()),
        T.StructField("failures", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
    ]
)

ROUNDS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("completed", T.BooleanType()),
        T.StructField("fetched", T.LongType()),
        T.StructField("failed", T.LongType()),
        T.StructField("discovered", T.LongType()),
        T.StructField("eligible", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("frontier_snap", T.LongType()),
        T.StructField("seen_snap", T.LongType()),
        T.StructField("results_snap", T.LongType()),
        T.StructField("host_snap", T.LongType()),
        T.StructField("metrics_snap", T.LongType()),
        T.StructField("transitions_snap", T.LongType()),
        T.StructField("entities_snap", T.LongType()),
    ]
)

# Nested per-page entities (X10/X14 + the j4b collect shape): one row per
# fetched page carrying the parsed issue struct — number, state, and the
# IssueComment-typed timeline nodes as a CHRONOLOGICALLY-sorted array of the
# full Comment struct (author, timestamp, content — reference
# src/models.py:38-42, sort at src/pr_scraper.py:721-722).
ENTITIES_DDL = (
    "url_hash BIGINT, url STRING, round INT, "
    "issue STRUCT<number: BIGINT, state: STRING, "
    "comments: ARRAY<STRUCT<author: STRING, timestamp: TIMESTAMP, "
    "content: STRING>>>"
)

# Schema of the embedded page-data payload written by sources/pages.py
# (the reference's preloadedQueries nesting, src/issue_scraper.py:408-505)
PAYLOAD_DDL = (
    "payload STRUCT<preloadedQueries: ARRAY<STRUCT<result: STRUCT<data: "
    "STRUCT<repository: STRUCT<issue: STRUCT<number: BIGINT, state: STRING, "
    "frontTimelineItems: STRUCT<edges: ARRAY<STRUCT<node: "
    "STRUCT<__typename: STRING, author: STRUCT<login: STRING>, "
    "createdAt: STRING, body: STRING>>>>>>>>>>>"
)

# table -> its snapshot-id column in ROUNDS_SCHEMA, in column order
_ROUND_SNAPS = {
    "frontier": "frontier_snap", "seen": "seen_snap", "results": "results_snap",
    "host_state": "host_snap", "metrics": "metrics_snap",
    "transitions": "transitions_snap", "entities": "entities_snap",
}


def _round_result(k: int, wall_ms: int, **counts) -> dict:
    """A round's stats dict; every counter not given is 0."""
    return {"round": k, "eligible": 0, "fetched": 0, "transient": 0, "missing": 0,
            "links": 0, "new": 0, "wall_ms": wall_ms, **counts}


@dataclass
class _FetchCounts:
    """A round's fetch counters, from its second stats action."""
    batch: int = 0
    ok: int = 0
    transient: int = 0
    raw_links: int = 0
    by_pid: dict[int, list[int]] = field(default_factory=dict)  # pid -> [ok, failed]

    @property
    def missing(self) -> int:
        return self.batch - self.ok - self.transient


class _Round:
    """Everything that lives for exactly one crawl round: its number and
    virtual clock, the round-local cached frames, the pre-round pinned-RDD
    baseline, the commit pool and the phase timer.

    The round's clock starts before the robots dim is pinned (phase
    ``pin``, only on rounds that pin it), and the baseline is taken after
    it; the fetch index is pinned later, once the round has a batch to
    fetch, and joins the baseline then. Leaving the ``with`` block — by
    return or by exception — first waits for every commit still running in
    the pool, then frees the round's blocks: no background append outlives
    run_round or reads a block that is already gone."""

    def __init__(self, crawler: Crawler, k: int):
        self.spark, self.truncate = crawler.spark, crawler.cfg.truncate_lineage
        self.k, self.now = k, crawler.now(k)
        self.cached: list[DataFrame] = []
        self.marks: list[tuple[str, float]] = []
        self.t0 = time.monotonic()
        crawler._pin_robots(self)
        # pre-round pinned RDDs: the release diff frees exactly what this
        # round checkpoints, nothing else
        self.base_rdd_ids = self.pinned_ids() if self.truncate else None
        self.pool = ThreadPoolExecutor(max_workers=6)

    def _pinned(self):
        """Every RDD pinned in the block manager (includes localCheckpoint
        blocks, which DataFrame.unpersist cannot reach)."""
        return self.spark.sparkContext._jsc.getPersistentRDDs()

    def pinned_ids(self) -> set[int]:
        return {int(i) for i in self._pinned().keySet().toArray()}

    def __enter__(self) -> _Round:
        return self

    def __exit__(self, *exc) -> None:
        self.pool.shutdown(wait=True)
        # Persisted frames unpersist directly; truncated (localCheckpoint)
        # frames are freed by diffing pinned RDD ids against the round-start
        # baseline — the deterministic release that makes lineage truncation
        # memory-safe across long crawls. Long-lived caches (the fetch
        # index, the robots dim, resume-time reads) predate the round and
        # are never in it.
        for df in self.cached:
            df.unpersist(blocking=False)
        if self.base_rdd_ids is not None:
            jmap = self._pinned()
            for key in jmap.keySet().toArray():
                if int(key) not in self.base_rdd_ids:
                    jmap.get(key).unpersist(False)

    def phase(self, name: str) -> None:
        """Label this thread's next jobs ``r<k>:<name>`` and start the
        phase's timer (the previous phase ends here)."""
        self.spark.sparkContext.setJobDescription(f"r{self.k}:{name}")
        self.marks.append((name, time.monotonic()))

    def trace(self) -> tuple[int, dict[str, int]]:
        """Wall ms since the round started and each phase's wall ms; the
        first phase starts with the round, so the phases sum to the wall. A
        phase entered twice (``pin``) books the sum of its spans."""
        cuts = [self.t0] + [t for _, t in self.marks[1:]] + [time.monotonic()]
        ms = [int((t - self.t0) * 1000) for t in cuts]
        phases: dict[str, int] = {}
        for (name, _), a, b in zip(self.marks, ms, ms[1:]):
            phases[name] = phases.get(name, 0) + b - a
        return ms[-1], phases

    def materialize(self, df: DataFrame) -> DataFrame:
        """Cache a round-local frame; freed when the round exits.

        truncate_lineage=True (default): lazy localCheckpoint — the data is
        cached exactly like persist, but every downstream consumer plans
        against a flat LogicalRDD instead of re-carrying (and re-analyzing,
        and re-shipping over py4j) the full logical tree through the
        effective-frontier window. truncate_lineage=False: plain persist —
        full lineage kept for recompute-on-executor-loss deployments."""
        df = df.localCheckpoint(eager=False) if self.truncate else df.persist()
        self.cached.append(df)
        return df

    def submit(self, table: SnapshotTable, df: DataFrame, partition_by: str | None = None):
        """Append ``df`` to ``table`` in the commit pool; its jobs are
        labelled ``r<k>:commit:<table>`` (job descriptions are per thread)."""
        def run() -> int:
            self.spark.sparkContext.setJobDescription(f"r{self.k}:commit:{table.name}")
            return table.append(df, {"round": self.k}, partition_by)
        return self.pool.submit(run)


class Crawler:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, pages: DataFrame,
                 robots: DataFrame | None = None,
                 budget_overrides: DataFrame | None = None,
                 robots_provider=None):
        """``budget_overrides`` (W2): optional ``(registrable_domain, budget)``
        table — the reference's per-repo limit map (REPOSITORY_PR_LIMITS,
        ``src/config.py:96-102``; applied ``src/aggressive_pr_scraper.py:
        144-151``). An override CAPS the token-derived budget (politeness
        still applies): ``host_budget = least(floor(tokens), override)``.
        Broadcast-joined once per round — at any scale this is a dim table.

        ``robots_provider`` (robots TTL): optional ``(round_k) -> DataFrame``
        returning the CURRENT robots dim; consulted every
        ``cfg.robots_ttl_rounds`` rounds (the re-fetch through the normal
        fetch path is simulated by the provider, as all fetching is in this
        sandbox). Mirrored in simulator.py — the CLAUDE.md invariant."""
        self.spark = spark
        self.cfg = cfg
        self.budget_overrides = budget_overrides
        self._robots_provider = robots_provider
        self.t = {
            name: SnapshotTable(cfg.root, name)
            for name in ("frontier", "transitions", "seen", "results", "host_state",
                         "metrics", "rounds", "entities")
        }
        # Fetch-simulation index: the pages corpus keyed by canonical-url
        # hash. Only url/warc_ts/html/lang are read (column pruning keeps
        # `text`, the oracle column, out of the scan). Persisted: the key is
        # computed once, not once per round. (On a real crawl this join IS
        # the network fetch — see operators/fetch.py — so nothing this size
        # is ever cached at 10^10; it exists only to simulate fetches.)
        self.pages_idx = pages.select(
            url_hash_expr(canonicalize_url_expr(F.col("url"))).alias("url_hash"),
            F.col("warc_ts"),
            F.col("html"),
            F.col("lang"),
        )
        if not cfg.broadcast_fetch:
            # co-partitioned fetch join (see CrawlConfig.broadcast_fetch):
            # the cached index carries HashPartitioning(url_hash, N), so the
            # per-round join shuffles ONLY the batch to match — the corpus
            # never moves and nothing is broadcast.
            # 8× parallelism (not 2×): the fetch-join partitioning is ALSO
            # the parse-stage granularity, and page cost is heavy-tailed —
            # at 2× a big round runs as one wave per core and the slowest
            # partition sets the wall (event-log: max task 127 s vs median
            # 51 s in a 16-task round-1 stage). 8× gives the greedy
            # scheduler ~8 waves to pack, which absorbs per-partition cost
            # variance at every cluster size.
            self._pages_parts = spark.sparkContext.defaultParallelism * 8
            self.pages_idx = self.pages_idx.repartition(
                self._pages_parts, "url_hash"
            )
        else:
            # Range-cluster the cached index by hash bucket so every round's
            # fetch can prune it: each cached partition covers a contiguous
            # bucket span, and in-memory batch stats (min/max per column
            # batch) let `__pbucket IN (batch's buckets)` skip every other
            # partition without decompressing its html column. Tail rounds
            # of a converging crawl fetch a handful of URLs — scanning the
            # full corpus for them is the one place the simulation was LESS
            # scalable than a real fetch (O(corpus) vs O(batch) per round).
            # 8× parallelism for wave-packing — see the comment in the
            # co-partitioned branch above.
            self._pages_parts = spark.sparkContext.defaultParallelism * 8
            self.pages_idx = self.pages_idx.withColumn(
                "__pbucket", bucket_expr(F.col("url_hash"), cfg.n_buckets)
            ).repartitionByRange(self._pages_parts, "__pbucket", "url_hash")
        self.pages_idx = self.pages_idx.persist()
        # Driver-tracked transitions-delta cardinality (exactly n_batch rows
        # append per round; compact() truncates) — gates the broadcast hint
        # in _effective_frontier without a count() job.
        self._trans_rows = 0
        # Driver-tracked upper bound on rows that can still be scheduled
        # (the _active_state_pred set, robots-allowed rows only): seeds in,
        # terminal transitions out (only the ones terminal under the CURRENT
        # T5/T10 config — TTL'd failures / stale fetches stay counted),
        # discoveries in. It gates only run()'s bound-0 drained skip, which
        # spares a fresh crawl its trailing empty round. Set from the seed
        # count by init_frontier; None (unknown) after resume_round, whose
        # session then ends through the drained probe in _finish_no_batch.
        self._next_round_bound: int | None = None
        # The robots dim is read by init_frontier, by every round's
        # discovery (_with_robots_allowed) and host_state fold
        # (_new_host_rows): pinned once per Crawler like the fetch index, so
        # those jobs read cached blocks instead of re-evaluating its source
        # (a Python-row frame costs Python-worker tasks in every job).
        # _pin_robots materializes it; a robots-TTL refresh swaps in a new
        # dim, which the next round pins in turn.
        self.robots = robots.persist() if robots is not None else None
        self._robots_pinned: DataFrame | None = None
        # Incrementally-maintained URL-seen Bloom: built by init_frontier or
        # resume_round, then add_df per round
        self._bloom = None
        # the fetch-index cache has been physically materialized (so its RDD
        # id is registered and can never be mistaken for a round-local block
        # by the release diff — see _pin_fetch_index)
        self._pages_idx_forced = False

    def _bloom_sizing(self) -> dict:
        """PartitionedBloom sizing for this crawl's hash buckets."""
        return {
            "n_buckets": self.cfg.n_buckets,
            "expected_per_bucket": max(1000, BLOOM_EXPECTED_KEYS // self.cfg.n_buckets),
            "fpp": BLOOM_FPP,
        }

    # ------------------------------------------------------------------ time
    def now(self, round_no: int) -> dt.datetime:
        return EPOCH + dt.timedelta(seconds=round_no * self.cfg.round_duration_s)

    # ------------------------------------------------------------------ init
    def init_frontier(self, seeds: DataFrame) -> None:
        """Seeds -> canonical frontier rows; bootstrap all engine tables."""
        cfg, now0 = self.cfg, self.now(0)
        self.spark.sparkContext.setJobDescription("init_frontier")
        canon = canonicalize_url_expr(F.col("url"))
        fr = (
            seeds.select(
                canon.alias("url"),
                F.coalesce(F.col("priority"), F.lit(cfg.default_priority)).alias("priority"),
            )
            .withColumn("url_hash", url_hash_expr(F.col("url")))
            .withColumn("bucket", bucket_expr(F.col("url_hash"), cfg.n_buckets))
            .withColumn("host", host_expr(F.col("url")))
            .withColumn("registrable_domain", registrable_domain_expr(F.col("host")))
            .withColumn("next_fetch_ts", F.lit(now0))
            .withColumn("state", F.lit("discovered"))
            .withColumn("attempt", F.lit(0).cast("int"))
            .withColumn("discovered_round", F.lit(0).cast("int"))
            .transform(self._with_robots_allowed)
            # deterministic dedup of seed duplicates: keep max priority
            .withColumn("priority", F.max("priority").over(Window.partitionBy("url_hash")))
            .dropDuplicates(["url_hash"])
            .select([f.name for f in FRONTIER_SCHEMA.fields])
        )
        # ONE materialization of the seed pipeline (canonicalize + robots
        # join + dedup window): the frontier write, the host_state domain
        # scan, and the Bloom seed-fold below all reuse the cached result.
        # The old shape ran the full plan three times SEQUENTIALLY (the
        # Bloom fold even re-read the just-written parquet) — a ~10 s
        # parallelism-independent bootstrap floor inside the timed window
        # at sandbox scale, and three redundant passes over 10^8-row seed
        # lists at production scale.
        fr = fr.persist()
        try:
            # Written with partition overwrite so EVERY frontier file is
            # bucketed: later per-round overwrite_partitions can only
            # replace bucketed files. This first action populates the cache.
            snaps = {"frontier": self.t["frontier"].overwrite_partitions(
                fr, "bucket", {"op": "init"}, replace_all=True
            )}

            # The remaining bootstrap commits are mutually independent and
            # all read only the cached `fr` (or nothing): overlap them so
            # the bootstrap floor is max(), not sum(). Thread-safe for the
            # same reason the per-round commit pool is: each SnapshotTable
            # commit is independent and atomic, and `rounds` (the resume
            # barrier) is only bootstrapped after every future resolves.
            # Leaving the `with` waits for every bootstrap commit, also
            # when the Bloom fold raises, so none still reads `fr` when
            # the `finally` unpersists it.
            with ThreadPoolExecutor(max_workers=4) as pool:
                futs = {
                    # seen carries the same hash bucket as the frontier; every
                    # append is partitioned by it so the discovery backstop can
                    # prune to suspect buckets (round-1 verdict #3). Empty-table
                    # bootstraps are schema-only manifest commits — no Spark
                    # write job each.
                    "seen": pool.submit(
                        self.t["seen"].init_empty,
                        "url_hash BIGINT, bucket INT, crawl_ts TIMESTAMP",
                        {"op": "init"},
                    ),
                    "results": pool.submit(
                        self.t["results"].init_empty,
                        "url STRING, url_hash BIGINT, warc_ts TIMESTAMP, "
                        "status STRING, text STRING, lang STRING, round INT",
                        {"op": "init"},
                    ),
                    "entities": pool.submit(
                        self.t["entities"].init_empty, ENTITIES_DDL, {"op": "init"}
                    ),
                    # host_state: one row per registrable domain seen so far;
                    # rate from robots crawl_delay (reference analog: 0.1 s/req,
                    # src/config.py:81). Append-only thereafter: rounds append
                    # only touched domains (see _read_host_state), compact()
                    # folds. asof_round=-1 so a domain touched in round 0 (which
                    # appends an asof_round=0 row) never ties with its init row
                    # in the latest-wins window; the lazy refill is unaffected
                    # because init tokens start at capacity (already pinned at
                    # the cap, extra elapsed time is a no-op).
                    "host_state": pool.submit(
                        self.t["host_state"].overwrite,
                        self._new_host_rows(
                            fr.select("registrable_domain").distinct(), asof_round=-1
                        ),
                        {"op": "init"},
                    ),
                }

                # distributed fold of the seed keys into the fresh Bloom; the
                # returned key count doubles as the frontier cardinality (no
                # separate count job). Folded from the cached `fr` — the written
                # frontier holds exactly these rows by construction, so the old
                # read-back of the fresh parquet was a redundant scan.
                if self._bloom is not None:
                    self._bloom.close()  # release superseded broadcast handles
                self._bloom = PartitionedBloom.empty(**self._bloom_sizing())
                n_known, n_blocked = self._bloom.add_df(
                    fr.select("url_hash", "robots_allowed"),
                    false_count_of="robots_allowed",
                )
            snaps.update({name: f.result() for name, f in futs.items()})
        finally:
            fr.unpersist(blocking=False)
        # every allowed seed starts 'discovered': the active-row bound that
        # gates the drained skip starts at the (deduped) seed count MINUS
        # robots-blocked rows — those stay 'discovered' forever but can
        # never become eligible, and counting them would keep the bound
        # above 0 for good on any corpus with a blocked URL. The blocked
        # count rides in the same Bloom-fold job (no extra action).
        self._next_round_bound = n_known - n_blocked
        self._trans_rows = 0
        snaps["transitions"] = self.t["transitions"].append_local(
            [], TRANSITIONS_SCHEMA, {"op": "init"}, overwrite=True
        )
        snaps["metrics"] = self.t["metrics"].append_local(
            [], METRICS_SCHEMA, {"op": "init"}, overwrite=True
        )
        # the bootstrap snapshot ids are what resume_round rolls back to
        # when a crash lands before any round completed
        self.t["rounds"].append_local(
            [], ROUNDS_SCHEMA, {"op": "init", "snapshots": snaps}, overwrite=True
        )

    def _effective_frontier(self, frontier: DataFrame, trans: DataFrame) -> DataFrame:
        """Frontier rows with the latest transition applied (latest-wins by
        round; a URL transitions at most once per round, so this is total).

        While the delta is small (driver-tracked row count vs
        BROADCAST_TRANSITIONS_MAX_ROWS) the latest view is broadcast: the
        frontier side then never shuffles — without the hint the planner
        SMJs and even AQE's late BHJ conversion has already paid the
        frontier's shuffle WRITE (O(frontier) rows × full width, every
        round). Past the bound AQE decides from real sizes."""
        w = Window.partitionBy("url_hash").orderBy(F.col("round").desc())
        hint = self._trans_rows <= BROADCAST_TRANSITIONS_MAX_ROWS
        # Two DISJOINT latest-wins views: state transitions own state/nft/
        # attempt (robots_allowed NULL on every regular row), robots-TTL
        # refresh rows own robots_allowed (state fields NULL). A refresh and
        # a fetch can land in the SAME round for the same url_hash; a single
        # latest-wins over both would tie on `round` and pick a winner
        # nondeterministically — a fetched row could revert to 'discovered'
        # (caught by the robots-TTL e2e equivalence test, round 5).
        latest = (
            trans.filter(F.col("robots_allowed").isNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "url_hash",
                F.col("state").alias("__t_state"),
                F.col("next_fetch_ts").alias("__t_nft"),
                F.col("attempt").alias("__t_attempt"),
            )
        )
        rob = (
            trans.filter(F.col("robots_allowed").isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("url_hash", F.col("robots_allowed").alias("__t_rob"))
        )
        if hint:
            latest = F.broadcast(latest)
            rob = F.broadcast(rob)
        out = (
            frontier.join(latest, "url_hash", "left")
            .withColumn("state", F.coalesce(F.col("__t_state"), F.col("state")))
            .withColumn("next_fetch_ts", F.coalesce(F.col("__t_nft"), F.col("next_fetch_ts")))
            .withColumn("attempt", F.coalesce(F.col("__t_attempt"), F.col("attempt")))
            .drop("__t_state", "__t_nft", "__t_attempt")
        )
        if self.cfg.robots_ttl_rounds > 0:
            # the robots view only exists when TTL can write it — every
            # other config keeps the exact pre-round-5 single-join plan
            out = (
                out.join(rob, "url_hash", "left")
                .withColumn(
                    "robots_allowed",
                    F.coalesce(F.col("__t_rob"), F.col("robots_allowed")),
                )
                .drop("__t_rob")
            )
        return out

    def _robots_ttl_live(self) -> bool:
        """A robots refresh can still flip verdicts in this crawl."""
        return self.cfg.robots_ttl_rounds > 0 and self._robots_provider is not None

    def _active_state_pred(self):
        """States that can still become eligible (terminal states depend on
        the T5/T10 knobs: TTL'd failures and staleness-re-crawled fetches
        are NOT terminal when those features are on)."""
        cfg = self.cfg
        pred = F.col("state") == "discovered"
        if cfg.failure_ttl_s is not None:
            pred = pred | (F.col("state") == "failed")
        if cfg.staleness_s is not None:
            pred = pred | (F.col("state") == "fetched")
        return pred

    def compact(self) -> None:
        """Fold the transitions delta into the bucketed frontier (the Iceberg
        MERGE/compaction step): one full-table write every N rounds instead of
        one per round; the delta table is truncated afterwards.

        Terminal rows (fetched/failed that can never re-enter under the
        current T5/T10 config) migrate to ARCHIVE partitions — same table,
        partition value ``bucket + n_buckets``. The per-round eligibility
        scan then reads only the active partitions (round-1 verdict #6: the
        frontier scan was O(ever-discovered) per round; at steady state the
        active set is orders of magnitude smaller), while the dedup
        backstop's known_loader still sees archived keys by reading the
        {b, b+n_buckets} partition pair per suspect bucket.

        The bucket offset is recomputed from the CURRENT config each time
        (idempotent: the true bucket is re-derived from url_hash), so after
        flipping failure_ttl_s/staleness_s on an existing warehouse, one
        compact() re-admits newly-eligible archived rows."""
        cfg = self.cfg
        self.spark.sparkContext.setJobDescription("compact")
        trans = self.t["transitions"].read(self.spark)
        frontier = self.t["frontier"].read(self.spark)
        merged = self._effective_frontier(frontier, trans).select(
            [f.name for f in FRONTIER_SCHEMA.fields]
        )
        # normalize to the true bucket first (idempotent across compactions),
        # then offset terminal rows into the archive partition range
        true_bucket = bucket_expr(F.col("url_hash"), cfg.n_buckets)
        merged = merged.withColumn(
            "bucket",
            F.when(self._active_state_pred(), true_bucket)
            .otherwise(true_bucket + F.lit(cfg.n_buckets))
            .cast("int"),
        )
        self.t["frontier"].overwrite_partitions(
            merged, "bucket", {"op": "compact"}, replace_all=True
        )
        self.t["transitions"].append_local([], TRANSITIONS_SCHEMA, {"op": "compact"},
                                           overwrite=True)
        self._trans_rows = 0  # delta truncated -> broadcast hint re-armed
        # fold the host_state delta the same way: one row per domain again
        # (asof_round kept — lazy refill keeps reading from it)
        self.t["host_state"].overwrite(
            self._read_host_state().select(*self.HOST_COLS), {"op": "compact"}
        )
        # seen gains one file per bucket per round; bin-pack the buckets that
        # accumulated many small appends so the dedup backstop's pruned reads
        # stay O(few files) per suspect bucket on long crawls
        self.t["seen"].compact_small_files(self.spark, "bucket")

    def _read_active_frontier(self) -> DataFrame:
        """Frontier rows that can still become eligible: partition-pruned to
        the active bucket range (appends and pre-archive rows are bucketed
        0..n_buckets-1; archived terminal rows live at +n_buckets and are
        skipped file-level)."""
        return self.t["frontier"].read_partitions(
            self.spark, "bucket", list(range(self.cfg.n_buckets))
        )

    def _with_robots_allowed(self, df: DataFrame) -> DataFrame:
        """Stamp the once-per-URL robots verdict (df has registrable_domain, url)."""
        if self.robots is None:
            return df.withColumn("robots_allowed", F.lit(True))
        rules = self.robots.select("registrable_domain", "robots_rules")
        if self.cfg.broadcast_dims:
            rules = F.broadcast(rules)
        return (
            df.join(rules, "registrable_domain", "left")
            .withColumn(
                "robots_allowed",
                F.coalesce(
                    robots_allowed_udf(F.col("robots_rules"), F.col("url")), F.lit(True)
                ),
            )
            .drop("robots_rules")
        )

    def _refresh_robots(self, k: int) -> None:
        """Robots TTL re-fetch: pull the current rules dim from the provider,
        diff against the held rules, and re-verdict the ACTIVE frontier rows
        of only the CHANGED domains via a transitions append carrying the new
        ``robots_allowed`` (state/nft/attempt are copied from the effective
        row so latest-wins does not shadow an earlier real transition).

        Scale shape: robots is a dim table on both sides of the diff, the
        re-verdict join is broadcast-changed-domains × active frontier
        (O(rows of changed domains), never a frontier rewrite), and the
        verdicts fold into the frontier at the next compact() like any other
        transition. Crash-safety is free: the append rides this round's
        snapshot chain, so a mid-round failure rolls it back with the round
        and the re-run repeats the refresh deterministically.

        Rules-TEXT changes only — a domain's crawl_delay (and so its token
        rate) stays as first fetched, mirrored by the simulator, which also
        leaves existing host rates untouched on refresh."""
        spark = self.spark
        new = self._robots_provider(k)
        if new is None or self.robots is None:
            if new is not None:
                self.robots = new
            return
        old_rules = self.robots.select(
            "registrable_domain", F.col("robots_rules").alias("__old_rules")
        )
        changed = (
            new.select("registrable_domain", "robots_rules")
            .join(old_rules, "registrable_domain", "full_outer")
            .filter(
                F.coalesce(F.col("robots_rules"), F.lit(""))
                != F.coalesce(F.col("__old_rules"), F.lit(""))
            )
            .select(
                "registrable_domain",
                F.coalesce(F.col("robots_rules"), F.lit("")).alias("robots_rules"),
            )
        )
        self.robots = new  # newly-discovered domains verdict under new rules
        changed = changed.persist()
        try:
            if changed.limit(1).count() == 0:
                return
            eff = self._effective_frontier(
                self._read_active_frontier(), self.t["transitions"].read(spark)
            ).filter(self._active_state_pred())
            flips = (
                eff.join(F.broadcast(changed), "registrable_domain")
                .select(
                    "url_hash",
                    F.col("robots_allowed").alias("__old_v"),
                    robots_allowed_udf(F.col("robots_rules"), F.col("url")).alias("__new_v"),
                )
                .filter(F.col("__new_v") != F.col("__old_v"))
                .persist()
            )
            try:
                n_flips = flips.count()
                if n_flips == 0:
                    return
                # verdict-only rows: state/nft/attempt stay NULL so the
                # refresh can never shadow (or tie with) a real state
                # transition — _effective_frontier reads robots through its
                # own latest-wins view
                self.t["transitions"].append(
                    flips.select(
                        "url_hash",
                        F.lit(None).cast("string").alias("state"),
                        F.lit(None).cast("timestamp").alias("next_fetch_ts"),
                        F.lit(None).cast("int").alias("attempt"),
                        F.lit(k).cast("int").alias("round"),
                        F.col("__new_v").alias("robots_allowed"),
                    ),
                    {"round": k, "op": "robots_refresh"},
                )
                # (no active-row bound upkeep: run() never reads the bound
                # while a robots provider can flip verdicts)
                self._trans_rows += n_flips
            finally:
                flips.unpersist()
        finally:
            changed.unpersist()

    def _new_host_rows(self, domains: DataFrame, asof_round: int) -> DataFrame:
        cfg = self.cfg
        if self.robots is not None:
            rob = F.broadcast(self.robots) if self.cfg.broadcast_dims else self.robots
            joined = domains.join(rob, "registrable_domain", "left")
        else:
            joined = domains.withColumn("robots_rules", F.lit(None).cast("string")).withColumn(
                "crawl_delay_ms", F.lit(100).cast("long")
            )
        rate = F.lit(1000.0) / F.coalesce(F.col("crawl_delay_ms"), F.lit(100)).cast("double")
        return joined.select(
            "registrable_domain",
            F.coalesce(F.col("robots_rules"), F.lit("")).alias("robots_rules"),
            F.coalesce(F.col("crawl_delay_ms"), F.lit(100)).alias("crawl_delay_ms"),
            (rate * cfg.token_capacity_s).alias("tokens"),
            rate.alias("refill_rate"),
            rate.alias("base_refill_rate"),
            (rate * cfg.token_capacity_s).alias("capacity"),
            F.lit(None).cast("timestamp").alias("blocked_until"),
            F.lit(0).cast("int").alias("failure_count"),
            F.lit(asof_round).cast("int").alias("asof_round"),
        )

    HOST_COLS = (
        "registrable_domain", "robots_rules", "crawl_delay_ms", "tokens",
        "refill_rate", "base_refill_rate", "capacity", "blocked_until",
        "failure_count", "asof_round",
    )

    def _read_host_state(self) -> DataFrame:
        """Latest host row per registrable_domain (latest-wins by asof_round).

        host_state is **append-only deltas** (round-3 verdict #3): each round
        appends ONLY the domains it actually touched, stamped with the round;
        compact() folds the deltas into one row per domain. Tokens are
        refilled LAZILY at read time — ``min(cap, t + r·Δ)`` iterated once
        per round equals a single capped refill over the total elapsed time
        (if ``t + r ≥ cap`` the iterate pins at cap, and ``t + k·r ≥ cap``
        for every later k), and untouched hosts change in NO other way per
        round (adapt/breaker are identity on zero outcomes; e2e asserts
        engine == simulator outcomes), so skipping their rewrite is exact.

        Plan shape at scale: the BASE (one row per domain, written by the
        last init/compact overwrite) is never windowed or shuffled — only
        the appended delta (O(touched domains since last compact)) goes
        through the latest-wins window, and the base is anti-joined against
        the delta's (small, broadcastable) domain set. At 10^8 domains the
        old whole-table window was a ~20 GB shuffle per round; this is
        O(delta)."""
        base, delta = self.t["host_state"].split_base_delta(self.spark)
        if delta is None:
            return base
        w = Window.partitionBy("registrable_domain").orderBy(F.col("asof_round").desc())
        delta_latest = (
            delta.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return base.join(
            delta_latest.select("registrable_domain"), "registrable_domain", "left_anti"
        ).unionByName(delta_latest)

    # ---------------------------------------------------------------- resume
    def resume_round(self) -> int:
        """Next round to run. Rolls every table back to the snapshots the
        last completed round recorded — before any round completed, to the
        ones init_frontier bootstrapped — (exactly-once semantics, SURVEY.md
        T6), then rebuilds the driver-side state from the tables."""
        self.spark.sparkContext.setJobDescription("resume")
        last = (
            self.t["rounds"].read(self.spark)
            .filter(F.col("completed"))
            .orderBy(F.col("round").desc())
            .limit(1)
            .collect()
        )
        if last:
            snaps = {name: last[0][col] for name, col in _ROUND_SNAPS.items()}
            nxt = int(last[0]["round"]) + 1
        else:
            snaps = self.t["rounds"].snapshot().summary.get("snapshots")
            if snaps is None:
                raise ValueError(
                    f"{self.cfg.root}: the rounds table has no completed round "
                    "and no bootstrap snapshot ids to roll back to; restart "
                    "the crawl with init_frontier"
                )
            nxt = 0
        for name, sid in snaps.items():
            if self.t[name].current_snapshot_id() != sid:
                self.t[name].rollback(sid)
        self._trans_rows = self.t["transitions"].read(self.spark).count()
        # the active-row bound is unknown here: the resumed session ends
        # through the drained probe, not the bound-0 skip (no count job)
        self._next_round_bound = None
        # one distributed rebuild on resume; incremental add_df thereafter
        if self._bloom is not None:
            self._bloom.close()
        known = self.t["frontier"].read(self.spark).select("url_hash").unionByName(
            self.t["seen"].read(self.spark).select("url_hash")
        )
        self._bloom = PartitionedBloom.build(known, "url_hash", **self._bloom_sizing())
        return nxt

    def _finish_no_batch(self, rc: _Round, current: DataFrame) -> dict:
        """Nothing scheduled this round: stop, or record an empty round."""
        # A10 drained fast path: when NO row can ever become eligible again
        # the caller stops immediately and nothing is committed — nothing
        # changed, nothing will; resume replays the same empty round.
        # Robots-blocked rows stay 'discovered' forever, so they count as
        # drained unless a robots refresh can still flip their verdict (the
        # rule the active-row bound follows too).
        live = self._active_state_pred()
        if not self._robots_ttl_live():
            live = live & F.col("robots_allowed")
        if current.filter(live).limit(1).count() == 0:
            wall_ms, phases = rc.trace()
            return _round_result(rc.k, wall_ms, drained=True, phases=phases)
        # Record the empty round for resume/termination bookkeeping. No
        # host_state write at all — token refill is LAZY (computed from
        # asof_round at read time, see _read_host_state), and an empty round
        # changes nothing else (adapt/breaker are no-ops on zero outcomes,
        # failure_count < threshold between rounds by the trip-reset
        # invariant).
        rc.phase("commit")
        snaps = {n: self.t[n].current_snapshot_id() for n in _ROUND_SNAPS if n != "metrics"}
        wall_ms, phases = self._record_round(rc, snaps, [("fetch", -1, 0, 0, 0)], (0, 0, 0, 0))
        return _round_result(rc.k, wall_ms, phases=phases)

    def _record_round(self, rc: _Round, snaps: dict, counters: list[tuple],
                      totals: tuple[int, int, int, int]) -> tuple[int, dict[str, int]]:
        """Close the round's trace; write its metrics rows, then its rounds
        row (the resume barrier) last."""
        # counters: (stage, partition_id, urls_fetched, urls_deduped,
        # failures); totals: fetched, failed, discovered, eligible. One
        # `stage=<phase>` row per phase carries that phase's wall time; the
        # phase rows sum to the round's wall_ms.
        wall_ms, phases = rc.trace()
        k, fsnap = rc.k, snaps["frontier"]
        rows = [(k, *c, wall_ms, fsnap) for c in counters]
        rows += [(k, name, -1, 0, 0, 0, ms, fsnap) for name, ms in phases.items()]
        snaps["metrics"] = self.t["metrics"].append_local(rows, METRICS_SCHEMA, {"round": k})
        self.t["rounds"].append_local(
            [(k, True, *totals, wall_ms, *(snaps[n] for n in _ROUND_SNAPS))],
            ROUNDS_SCHEMA,
            {"round": k},
        )
        return wall_ms, phases

    # ----------------------------------------------------------------- round
    def run_round(self, k: int) -> dict:
        with _Round(self, k) as rc:
            return self._run_round_impl(rc)

    # Crawl-lifetime caches are materialized under phase ``pin`` and kept
    # out of the round's release diff (ADVICE r5, medium): persist()
    # registers an RDD id only at first PHYSICAL execution, so a cache first
    # filled inside a round would look round-local to the diff and be
    # silently unpersisted, re-evaluating its source in every later job.
    def _pin_robots(self, rc: _Round) -> None:
        """Pin the robots dim before ``rc`` takes its baseline: once per
        Crawler, and once more after each robots-TTL refresh replaced it."""
        if self.robots is None or self.robots is self._robots_pinned:
            return
        rc.phase("pin")
        # the superseded dim is released first — an equal plan shares its
        # cache entry
        if self._robots_pinned is not None:
            self._robots_pinned.unpersist()
        self.robots = self._robots_pinned = self.robots.persist()
        self.robots.count()

    def _pin_fetch_index(self, rc: _Round) -> None:
        """Pin the fetch index once a round has a batch to fetch, adding
        the RDD it registers to ``rc``'s baseline: a round that only
        reports drained (a resumed, finished crawl) never builds it. A
        cache-only scan when a caller already forced the index."""
        if not self.cfg.truncate_lineage or self._pages_idx_forced:
            return
        rc.phase("pin")
        before = rc.pinned_ids()
        self.pages_idx.count()
        self._pages_idx_forced = True
        rc.base_rdd_ids |= rc.pinned_ids() - before

    def _run_round_impl(self, rc: _Round) -> dict:
        # one method per phase; each rc.phase call labels the jobs that
        # follow r<k>:<phase> and starts that phase's timer
        k, ttl = rc.k, self.cfg.robots_ttl_rounds
        if ttl > 0 and k > 0 and k % ttl == 0 and self._robots_provider is not None:
            # Robots TTL (round-4 verdict item #5): refresh rules BEFORE
            # eligibility so this round already schedules under the new
            # verdicts (simulator.py mirrors at the identical point).
            rc.phase("robots_refresh")
            self._refresh_robots(k)
        rc.phase("eligibility")
        host_state, current, batch = self._schedule(rc)
        rc.phase("small_probe")
        pages_src = self._probe_batch(batch)
        if pages_src is None:
            return self._finish_no_batch(rc, current)
        self._pin_fetch_index(rc)

        rc.phase("fetch_parse_dedup_probe")
        fetched = self._fetch_extract(rc, batch, pages_src)
        flagged = self._flag_links(rc, fetched)
        # TWO ordered stats actions per round (was one 3-branch union; round-5
        # event-log profile): with the branches fused, AQE submits the
        # independent shuffle stages CONCURRENTLY and the cheap counter
        # branches race the heavy links chain for the same uncached `fetched`
        # partitions — the losers hold task slots blocked on the BlockManager
        # per-block lock (profiled: a 15.5 s stage wall carrying 4.5 core-s
        # of work). Ordered actions keep every input of action 2 already
        # cached by action 1, so nothing ever blocks:
        #   1. the heavy chain alone — fetch join -> parse (python) fused
        #      with explode/shuffle -> link dedup -> Bloom flag — one LINEAR
        #      DAG (python parse overlaps JVM shuffle work task-pipelined,
        #      the property the round-4 A/B measured as faster), returning
        #      only the suspect bucket list;
        #   2. the batch count + per-status fetch counters, pure cache scans.
        suspect_buckets = self._suspect_buckets(flagged)
        rc.phase("stats")
        n = self._fetch_counts(batch, fetched)
        # Pin both known-side snapshots BEFORE the background seen append is
        # submitted: the round's discovery reads a fixed file list and is
        # immune to the in-flight commit landing mid-round (ADVICE r1 — the
        # round stays deterministic by construction regardless of thread
        # timing; this round's fetches are covered by the frontier side).
        pins = (self.t["frontier"].current_snapshot_id(), self.t["seen"].current_snapshot_id())
        futs = self._submit_fetch_commits(rc, batch, fetched, n)

        rc.phase("discover")
        new_rows, n_new, n_new_blocked = self._discover(rc, flagged, suspect_buckets, pins)
        hs_delta = self._host_fold(rc, host_state, batch, fetched, new_rows, n.batch)

        rc.phase("commit")
        # bucketed append: keeps EVERY frontier file prunable by the
        # known_loader backstop (an unpartitioned append would be
        # conservatively re-read for every suspect bucket)
        futs["frontier"] = rc.submit(self.t["frontier"], new_rows, "bucket")
        # host_state delta append is independent of every other commit — run
        # it in the pool too so the commit barrier is max(), not sum()
        futs["host_state"] = rc.submit(self.t["host_state"], hs_delta)
        return self._commit(rc, futs, n, n_new, n_new_blocked)

    def _lazy_elapsed(self, k: int):
        # virtual seconds from a host's asof_round to round k: the LAZY
        # token refill's elapsed time (see _read_host_state)
        return (F.lit(k) - F.col("asof_round")).cast("double") * F.lit(self.cfg.round_duration_s)

    def _schedule(self, rc: _Round) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Eligibility, politeness gates and token budgets -> (host_state
        latest view, effective frontier, the round's cached fetch batch)."""
        cfg, now_lit = self.cfg, F.lit(rc.now)
        # Eligibility only ever needs rows that can still become eligible —
        # archived terminal rows (bucket ≥ n_buckets since the last compact)
        # are pruned file-level here; the dedup known-set still reads them
        # via the {b, b+n_buckets} partition pair.
        frontier = self._read_active_frontier()
        trans = self.t["transitions"].read(self.spark)
        # one computation of the base/delta latest-wins view per round: the
        # eligibility join, the touched-host fold, and the new-domain
        # anti-join all reuse the cached result instead of re-running the
        # split-read plan three times
        host_state = rc.materialize(self._read_host_state())

        # eligibility + politeness gates (latest-wins over the delta) --
        # T5: expired failures re-enter (their next_fetch_ts was stamped
        # now+TTL at failure time); T10: stale fetched rows re-enter (stamped
        # now+staleness at fetch time). Both are plain predicates on columns
        # the transition already wrote — no extra join or clock table.
        current = self._effective_frontier(frontier, trans)
        elig = (
            current.filter(
                self._active_state_pred()
                & (F.col("next_fetch_ts") <= now_lit)
                & F.col("robots_allowed")
            )
            .join(
                F.broadcast(host_state) if cfg.broadcast_dims else host_state,
                "registrable_domain",
                "left",
            )
            .filter(F.col("blocked_until").isNull() | (F.col("blocked_until") <= now_lit))
        )
        # token-bucket budget -> skew-safe rank ---------------------------
        # LAZY refill: tokens in host_state are as-of asof_round (the last
        # round that touched the host); refill covers the whole gap in one
        # capped step — exactly equal to per-round iteration (cap commutes,
        # see _read_host_state) — so untouched hosts never need a rewrite.
        avail = refill_tokens(
            F.col("tokens"), F.col("refill_rate"), self._lazy_elapsed(rc.k), F.col("capacity")
        )
        budget = F.floor(avail).cast("int")
        if self.budget_overrides is not None:  # W2: per-domain cap
            elig = elig.join(
                F.broadcast(
                    self.budget_overrides.select(
                        "registrable_domain",
                        F.col("budget").cast("int").alias("__override_budget"),
                    )
                ),
                "registrable_domain",
                "left",
            )
            budget = F.least(budget, F.coalesce(F.col("__override_budget"), budget))
        elig = elig.withColumn("host_budget", budget).filter(
            F.col("host_budget") >= 1
        )
        batch = rank_fetch_batch(elig, n_salts=cfg.n_salts).select(
            "url", "url_hash", "bucket", "host", "registrable_domain",
            "priority", "next_fetch_ts", "attempt", "discovered_round",
        )
        return host_state, current, rc.materialize(batch)  # batch is reused 4×

    def _probe_batch(self, batch: DataFrame) -> DataFrame | None:
        """Measure the round's batch before any fetch plan exists -> the
        fetch index to join it against, or None when the batch is empty."""
        # One small JVM job over the cached batch — it materializes the
        # checkpoint every later phase reads — collects its rows per hash
        # bucket: emptiness, the buckets and the row count in one
        # measurement. Empty rounds exit before the fetch/probe DAG is even
        # built. The batch itself stays the cached JVM frame; under
        # truncate_lineage every downstream plan sees it as a flat
        # checkpointed leaf.
        per_bucket = batch.groupBy("bucket").count().collect()
        if not per_bucket:
            return None
        if not self.cfg.broadcast_fetch:
            return self.pages_idx  # the shuffle join needs the whole partitioning
        # Broadcast mode prunes the range-clustered cached index to the
        # batch's own buckets: in-memory batch min/max stats then skip every
        # other cached partition, so a 1-URL tail round costs O(batch)
        # instead of O(corpus), as a real network fetch does. A small batch
        # also coalesces the pruned index to min(cores, batch rows)
        # partitions: the fetch-join partitioning is the parse stage's, every
        # parse task pays a Python worker's fixed start-up, and the index's
        # 8× cores wave packing only pays off on big rounds.
        pruned = self.pages_idx.filter(
            F.col("__pbucket").isin(sorted(int(r["bucket"]) for r in per_bucket))
        )
        n_rows = sum(int(r["count"]) for r in per_bucket)
        if n_rows > SMALL_ROUND_ROWS:
            return pruned
        return pruned.coalesce(min(self.spark.sparkContext.defaultParallelism, n_rows))

    def _fetch_extract(self, rc: _Round, batch: DataFrame, pages_src: DataFrame) -> DataFrame:
        """Fetch (simulated from the pages corpus) + extract, cached."""
        cfg = self.cfg
        if cfg.broadcast_fetch:
            hit = pages_src.join(F.broadcast(batch), "url_hash", "inner")
        else:
            # shuffle only the batch onto the index's partitioning; the
            # shuffle_hash hint keeps AQE from re-sorting the cached corpus
            # (SMJ) or pulling the batch to the driver (broadcast)
            hit = pages_src.join(
                batch.repartition(self._pages_parts, "url_hash").hint("shuffle_hash"),
                "url_hash",
                "inner",
            )
        hit = hit.drop("__pbucket")  # clustering key; absent in co-partitioned mode
        if cfg.transient_fail_mod > 1:
            transient = (
                F.pmod(
                    F.xxhash64(F.concat(F.col("url"), F.col("attempt").cast("string"))),
                    F.lit(cfg.transient_fail_mod),
                )
                == 0
            )
        else:
            transient = F.lit(False)
        # One materialization for the whole fetch+extract stage: status,
        # text, out-links computed in a single pass, html dropped before the
        # checkpoint so only extracted data is persisted.
        fetched = (
            hit.withColumn("pid", F.spark_partition_id())
            .withColumn("fstatus", F.when(transient, "transient").otherwise("fetched"))
            .withColumn("page", extract_page_udf(F.col("html"), F.col("url")))
            .withColumn("text", F.col("page.text"))
            .withColumn("outlinks", F.col("page.outlinks"))
        )
        if cfg.extract_entities:
            fetched = fetched.withColumn("embedded_json", F.col("page.embedded_json"))
        return rc.materialize(fetched.drop("html", "page"))

    def _flag_links(self, rc: _Round, fetched: DataFrame) -> DataFrame:
        """Deduped out-links of the fetched pages with their Bloom verdict,
        cached: the first stats action materializes link dedup + probe in
        one pass over the just-cached fetch output."""
        cfg = self.cfg
        exploded = fetched.filter(F.col("fstatus") == "fetched").select(
            F.col("priority").alias("parent_priority"),
            F.col("url").alias("__parent_url"),
            F.explode("outlinks").alias("url"),
        )
        # F3: per-scope link predicates — pure column exprs, applied BEFORE
        # the groupBy/anti-join so filtered links never enter the shuffle
        if cfg.link_shape is not None:
            exploded = exploded.filter(F.col("url").rlike(cfg.link_shape))
        if cfg.link_same_scope is not None:
            link_scope = F.regexp_extract("url", cfg.link_same_scope, 1)
            parent_scope = F.regexp_extract("__parent_url", cfg.link_same_scope, 1)
            exploded = exploded.filter(
                (link_scope != "") & (link_scope == parent_scope)
            )
        links = (
            exploded.drop("__parent_url")
            .withColumn("url_hash", url_hash_expr(F.col("url")))
            # deterministic dedup: several parents may link the same URL —
            # keep max priority (dropDuplicates would pick an arbitrary row)
            .groupBy("url_hash")
            .agg(F.max("parent_priority").alias("parent_priority"), F.min("url").alias("url"))
        )
        return rc.materialize(flag_maybe_seen(links, self._bloom, self.spark))

    def _suspect_buckets(self, flagged: DataFrame) -> list[int]:
        """Stats action 1: the hash buckets holding Bloom-positive links."""
        return sorted(
            int(r["bucket"])
            for r in flagged.filter(F.col("__maybe_seen"))
            .select(bucket_expr(F.col("url_hash"), self.cfg.n_buckets).alias("bucket"))
            .distinct()
            .collect()
        )

    def _fetch_counts(self, batch: DataFrame, fetched: DataFrame) -> _FetchCounts:
        """Stats action 2: batch count + per-status fetch counters."""
        b_stat = batch.agg(F.count("*").alias("n")).select(
            F.lit("batch").alias("tag"), F.lit("").alias("fstatus"),
            F.lit(-1).cast("int").alias("pid"), F.col("n").cast("long").alias("n"),
            F.lit(0).cast("long").alias("raw_links"),
        )
        s_stat = (
            fetched.groupBy("fstatus", "pid")
            .agg(F.count("*").alias("n"), F.sum(F.size("outlinks")).alias("raw_links"))
            .select(
                F.lit("stage").alias("tag"), "fstatus",
                F.col("pid").cast("int").alias("pid"),
                F.col("n").cast("long").alias("n"),
                F.coalesce(F.col("raw_links"), F.lit(0)).cast("long").alias("raw_links"),
            )
        )
        n = _FetchCounts()
        for r in b_stat.unionByName(s_stat).collect():
            if r["tag"] == "batch":
                n.batch += r["n"]
                continue
            ent = n.by_pid.setdefault(int(r["pid"]), [0, 0])
            if r["fstatus"] == "fetched":
                n.ok += r["n"]
                n.raw_links += r["raw_links"] or 0
                ent[0] += r["n"]
            else:
                n.transient += r["n"]
                ent[1] += r["n"]
        return n

    def _submit_fetch_commits(self, rc: _Round, batch: DataFrame, fetched: DataFrame,
                              n: _FetchCounts) -> dict:
        """Start the results, seen, transitions (and entities) appends."""
        # They depend only on the cached fetch stage: started NOW in the
        # commit pool, the writes overlap discovery. Spark schedules
        # concurrent jobs fairly; each SnapshotTable commit is independent
        # and atomic, and the rounds row (the resume barrier) is written
        # only after every future resolves.
        # Delta appends inherit the cached fetch stage's partitioning (256
        # map partitions at the bench shape) and wrote one TINY file each —
        # every later read of the table then paid a per-file open/stat cost
        # (and, before the session threshold fix, a distributed listing JOB:
        # 948 listed paths for the transitions delta by round 3, seconds per
        # round in the r6 event-log profile). The row counts are already on
        # the driver from the stats action, so size the file count from them
        # (guide §6: output files in the 100 MB-1 GB band): ~15 KB/page row
        # -> 16k rows/file ≈ 250 MB; ~50 B/transition row -> 4M rows/file.
        n_results_files = n.ok // 16_384 + 1
        ok = fetched.filter(F.col("fstatus") == "fetched")
        results_rows = ok.select(
            "url", "url_hash", "warc_ts",
            F.lit("fetched").alias("status"), "text", "lang",
            F.lit(rc.k).cast("int").alias("round"),
        ).coalesce(n_results_files)
        seen_rows = ok.select("url_hash", "bucket", F.lit(rc.now).alias("crawl_ts"))
        trans_rows = self._transition_rows(rc, batch, fetched).coalesce(n.batch // 4_000_000 + 1)
        futs = {
            "results": rc.submit(self.t["results"], results_rows),
            "seen": rc.submit(self.t["seen"], seen_rows, "bucket"),
            "transitions": rc.submit(self.t["transitions"], trans_rows),
        }
        if self.cfg.extract_entities:
            futs["entities"] = rc.submit(
                self.t["entities"], self._entity_rows(rc, ok).coalesce(n_results_files)
            )
        return futs

    def _transition_rows(self, rc: _Round, batch: DataFrame, fetched: DataFrame) -> DataFrame:
        """One frontier state transition per scheduled URL."""
        cfg, now = self.cfg, rc.now
        ok = fetched.filter(F.col("fstatus") == "fetched")
        failed_transient = fetched.filter(F.col("fstatus") == "transient")
        missing = batch.join(fetched.select("url_hash"), "url_hash", "left_anti")
        give_up = F.col("attempt") + 1 >= cfg.max_attempts
        if cfg.staleness_s is not None:  # T10: stamp re-crawl due time
            fetched_nft = F.lit(now + dt.timedelta(seconds=cfg.staleness_s))
            fetched_attempt = F.lit(0).cast("int")
        else:
            fetched_nft = F.col("next_fetch_ts")
            fetched_attempt = F.col("attempt")
        backoff_nft = backoff_next_fetch_ts(F.lit(now), F.col("attempt"))
        if cfg.failure_ttl_s is not None:  # T5: stamp expiry; attempts restart
            failed_nft = F.lit(now + dt.timedelta(seconds=cfg.failure_ttl_s))
            failed_attempt = F.lit(0).cast("int")
        else:
            failed_nft = F.col("next_fetch_ts")
            failed_attempt = F.col("attempt")
        changed = (
            ok.select("url_hash", F.lit("fetched").alias("new_state"),
                      fetched_nft.alias("new_nft"), fetched_attempt.alias("new_attempt"))
            .unionByName(
                missing.select("url_hash", F.lit("failed").alias("new_state"),
                               failed_nft.alias("new_nft"),
                               failed_attempt.alias("new_attempt"))
            )
            .unionByName(
                failed_transient.select(
                    "url_hash",
                    F.when(give_up, "failed").otherwise("discovered").alias("new_state"),
                    (
                        F.when(give_up, failed_nft).otherwise(backoff_nft)
                        if cfg.failure_ttl_s is not None
                        else backoff_nft
                    ).alias("new_nft"),
                    (
                        F.when(give_up, failed_attempt).otherwise(F.col("attempt") + 1)
                        if cfg.failure_ttl_s is not None
                        else F.col("attempt") + 1
                    ).cast("int").alias("new_attempt"),
                )
            )
        )
        return changed.select(
            "url_hash",
            F.col("new_state").alias("state"),
            F.col("new_nft").alias("next_fetch_ts"),
            F.col("new_attempt").alias("attempt"),
            F.lit(rc.k).cast("int").alias("round"),
            # verdict unchanged by state transitions; only the robots-TTL
            # refresh writes a non-null here
            F.lit(None).cast("boolean").alias("robots_allowed"),
        )

    def _entity_rows(self, rc: _Round, ok: DataFrame) -> DataFrame:
        """Nested per-page entities from the embedded payload."""
        # explicit schema (JVM from_json), comments kept NESTED as
        # array<struct> — the reference's repo->issue->comments model
        issue = F.element_at(
            F.from_json("embedded_json", PAYLOAD_DDL)["payload"]["preloadedQueries"], 1
        )["result"]["data"]["repository"]["issue"]
        comments = F.transform(
            F.filter(
                issue["frontTimelineItems"]["edges"],
                lambda e: e["node"]["__typename"] == "IssueComment",
            ),
            lambda e: F.struct(
                e["node"]["author"]["login"].alias("author"),
                F.to_timestamp(
                    e["node"]["createdAt"], "yyyy-MM-dd'T'HH:mm:ss'Z'"
                ).alias("timestamp"),
                e["node"]["body"].alias("content"),
            ),
        )
        # W4 inside the engine table: comments chronologically sorted
        # (reference src/pr_scraper.py:721-722), JVM-side comparator
        comments = F.array_sort(
            comments,
            lambda a, b: F.when(a["timestamp"] < b["timestamp"], -1)
            .when(a["timestamp"] > b["timestamp"], 1)
            .otherwise(0),
        )
        return ok.filter(F.col("embedded_json").isNotNull()).select(
            "url_hash",
            "url",
            F.lit(rc.k).cast("int").alias("round"),
            F.struct(
                issue["number"].alias("number"),
                issue["state"].alias("state"),
                comments.alias("comments"),
            ).alias("issue"),
        )

    def _discover(self, rc: _Round, flagged: DataFrame, suspect_buckets: list[int],
                  pins: tuple) -> tuple[DataFrame, int, int]:
        """Out-links -> (cached new frontier rows, n_new, n_new_blocked)."""
        # links + probe verdicts were cached and their suspect buckets
        # collected by the first stats action — discovery here is just the
        # exact backstop over the pruned known-key files, read at the
        # pinned (frontier, seen) snapshots
        cfg, k = self.cfg, rc.k
        frontier_snap0, seen_snap0 = pins

        def known_loader(buckets: list[int]) -> DataFrame:
            """Known keys (frontier ∪ seen) restricted to the given hash
            buckets — both tables are bucket-partitioned, so the backstop
            anti-join reads only files that can hold a duplicate. Frontier
            archive partitions (terminal rows moved to bucket+n_buckets at
            compaction) are part of the known set, hence the pair."""
            both = list(buckets) + [b + cfg.n_buckets for b in buckets]
            fr = self.t["frontier"].read_partitions(self.spark, "bucket", both, frontier_snap0)
            sn = self.t["seen"].read_partitions(self.spark, "bucket", buckets, seen_snap0)
            return fr.select("url_hash").unionByName(sn.select("url_hash"))

        fresh = resolve_unseen(flagged, known_loader, suspect_buckets)
        new_rows = (
            fresh.withColumn("bucket", bucket_expr(F.col("url_hash"), cfg.n_buckets))
            .withColumn("host", host_expr(F.col("url")))
            .withColumn("registrable_domain", registrable_domain_expr(F.col("host")))
            .withColumn(
                "priority",
                F.greatest(
                    F.col("parent_priority") * cfg.priority_decay, F.lit(0.01)
                ),
            )
            .withColumn("next_fetch_ts", F.lit(self.now(k + 1)))
            .withColumn("state", F.lit("discovered"))
            .withColumn("attempt", F.lit(0).cast("int"))
            .withColumn("discovered_round", F.lit(k + 1).cast("int"))
            .transform(self._with_robots_allowed)
            .select([f.name for f in FRONTIER_SCHEMA.fields])
        )
        new_rows = rc.materialize(new_rows)
        # Distributed incremental Bloom maintenance: per-bucket delta bitmaps
        # built executor-side, OR-merged on the driver — no collect() of raw
        # url_hashes, and the returned key count IS n_new (one job serves
        # bloom-add + discovery count).
        n_new, n_new_blocked = self._bloom.add_df(
            new_rows.select("url_hash", "robots_allowed"),
            false_count_of="robots_allowed",
        )
        return new_rows, int(n_new), int(n_new_blocked)

    def _host_fold(self, rc: _Round, host_state: DataFrame, batch: DataFrame,
                   fetched: DataFrame, new_rows: DataFrame, n_batch: int) -> DataFrame:
        """The round's host_state delta: touched and new domains only."""
        # spend tokens, breaker — TOUCHED DOMAINS ONLY (round-3 verdict #3:
        # the full-table overwrite was O(all domains ever seen) per round;
        # at 10^7-10^8 registrable domains that is the same anti-pattern the
        # frontier's transitions delta was built to avoid. A round APPENDS
        # one row per domain it scheduled — the only rows whose state
        # changes beyond the lazy capped refill — plus rows for newly-
        # discovered domains; _read_host_state resolves latest-wins and
        # compact() folds the delta.)
        cfg, now_lit = self.cfg, F.lit(rc.now)
        # One tagged union + one aggregation instead of three per-frame
        # groupBys joined separately (r6: the old shape planned 9-18 little
        # broadcast/agg jobs inside every round's host_state commit). Every
        # ok/transient domain is by construction also a batch domain, so the
        # single aggregate is exactly the old inner+left+left join result.
        per_host = (
            batch.select(
                "registrable_domain",
                F.lit(1).alias("__att"), F.lit(0).alias("__fail"), F.lit(0).alias("__ok"),
            )
            .unionByName(
                fetched.filter(F.col("fstatus") == "transient").select(
                    "registrable_domain",
                    F.lit(0).alias("__att"), F.lit(1).alias("__fail"), F.lit(0).alias("__ok"),
                )
            )
            .unionByName(
                fetched.filter(F.col("fstatus") == "fetched").select(
                    "registrable_domain",
                    F.lit(0).alias("__att"), F.lit(0).alias("__fail"), F.lit(1).alias("__ok"),
                )
            )
            .groupBy("registrable_domain")
            .agg(
                F.sum("__att").alias("attempted"),
                F.sum("__fail").alias("round_failures"),
                F.sum("__ok").alias("round_successes"),
            )
        )
        hs_touched = (
            host_state.join(per_host, "registrable_domain", "inner")
            .withColumn(
                "tokens",
                F.greatest(
                    F.lit(0.0),
                    refill_tokens(F.col("tokens"), F.col("refill_rate"),
                                  self._lazy_elapsed(rc.k), F.col("capacity"))
                    - F.col("attempted"),
                )
            )
        )
        if cfg.adaptive_rate:
            hs_touched = hs_touched.withColumn(
                "refill_rate",
                adapt_refill_rate(
                    F.col("refill_rate"), F.col("base_refill_rate"),
                    F.col("attempted"), F.col("round_failures"),
                    F.col("round_successes"),
                ),
            )
        hs_touched = apply_circuit_breaker(hs_touched.drop("attempted"), now_lit)
        hs_touched = hs_touched.withColumn("asof_round", F.lit(rc.k).cast("int"))
        # new domains discovered this round join host_state lazily
        new_domains = new_rows.select("registrable_domain").distinct().join(
            host_state.select("registrable_domain"), "registrable_domain", "left_anti"
        )
        # one ~100 B row per touched/new domain: a single file per round
        # keeps the per-round host_state latest-wins read O(few files)
        # (bounded by n_batch domains; see _submit_fetch_commits)
        return hs_touched.select(*self.HOST_COLS).unionByName(
            self._new_host_rows(new_domains, asof_round=rc.k)
        ).coalesce(n_batch // 4_000_000 + 1)

    def _commit(self, rc: _Round, futs: dict, n: _FetchCounts, n_new: int,
                n_new_blocked: int) -> dict:
        """Await the table commits, record the round, advance the bounds."""
        cfg = self.cfg
        snaps = {name: f.result() for name, f in futs.items()}
        if "entities" not in snaps:
            snaps["entities"] = self.t["entities"].current_snapshot_id()
        # per-partition rows carry per-partition fetch/failure counts only;
        # the GLOBAL dedup count (raw links − n_new) is recorded exactly
        # once on its own stage row — summing urls_deduped over a round
        # gives the true number instead of overcounting by the partition
        # count (round-3 verdict #4)
        counters = [("fetch", pid, ok, 0, bad) for pid, (ok, bad) in sorted(n.by_pid.items())]
        counters = (counters or [("fetch", -1, 0, 0, 0)]) + [
            ("dedup", -1, 0, n.raw_links - n_new, 0)
        ]
        wall_ms, phases = self._record_round(
            rc, snaps, counters, (n.ok, n.transient + n.missing, n_new, n.batch)
        )
        # exactly one transition row per scheduled URL was appended
        self._trans_rows += n.batch
        # Active-row bound maintenance: rows leave the schedulable set only
        # when their new state is terminal under the CURRENT config —
        # fetched is terminal unless staleness re-crawls (T10), missing->
        # failed is terminal unless failure TTL re-admits (T5). Transients
        # (including give-ups, an over-count) and re-enterable states stay
        # counted, so the bound NEVER under-predicts; discoveries add only
        # their robots-ALLOWED rows (blocked rows are never eligible and
        # would otherwise accumulate into the bound forever).
        if self._next_round_bound is not None:
            gone = (n.ok if cfg.staleness_s is None else 0) + (
                n.missing if cfg.failure_ttl_s is None else 0
            )
            self._next_round_bound = (
                max(0, self._next_round_bound - gone) + n_new - n_new_blocked
            )
        return _round_result(
            rc.k, wall_ms, eligible=n.batch, fetched=n.ok, transient=n.transient,
            missing=n.missing, links=n.raw_links, new=n_new, phases=phases,
        )

    def checkpoint_stats(self) -> DataFrame:
        """A6: checkpoint-statistics rollup over the rounds lineage table
        (reference ``get_statistics``, src/checkpoint_manager.py:282-296):
        completed rounds, fetched/failed totals, success rate, last round."""
        rounds = self.t["rounds"].read(self.spark)
        fetched = F.sum("fetched")
        failed = F.sum("failed")
        return rounds.agg(
            F.count("*").alias("rounds"),
            F.sum(F.col("completed").cast("long")).alias("completed_rounds"),
            fetched.alias("fetched"),
            failed.alias("failed"),
            F.round(fetched / F.greatest(fetched + failed, F.lit(1)), 6)
            .alias("success_rate"),
            F.max("round").alias("last_round"),
            F.sum("wall_ms").alias("total_wall_ms"),
        )

    # ------------------------------------------------------------------ run
    def run(self, seeds: DataFrame | None = None, max_rounds: int | None = None,
            log=None) -> list[dict]:
        """Run (or resume) the crawl to convergence; returns round stats."""
        if seeds is not None:
            self.init_frontier(seeds)
            start = 0
        else:
            start = self.resume_round()
        cap = max_rounds if max_rounds is not None else self.cfg.max_rounds
        stats, empty, since_compact = [], 0, 0
        # With robots TTL armed, robots-blocked rows (EXCLUDED from the
        # bound) can re-enter at a future refresh, so bound 0 no longer
        # proves drained-forever — the skip stays off and trailing rounds
        # run out the normal empty/drained probes instead.
        ttl_live = self._robots_ttl_live()
        for k in range(start, cap):
            if self._next_round_bound == 0 and not ttl_live:
                # The driver-tracked active-row bound never under-predicts
                # (seeds − terminal-under-config + allowed discoveries), so
                # bound 0 proves no row can ever become eligible again —
                # the same certainty as run_round's drained probe, without
                # launching a single job. Outcome-equivalent to running the
                # trailing empty round(s): nothing is committed either way
                # (resume replays the same empty round), so the simulator
                # mirror — which just runs the empty rounds out — reaches
                # identical fetch/seen outcomes.
                s = _round_result(k, 0, drained=True)
                stats.append(s)
                if log:
                    log(s)
                break
            s = self.run_round(k)
            stats.append(s)
            if log:
                log(s)
            if s.get("drained"):
                break  # no row can ever become eligible again (A10 fast path)
            empty = empty + 1 if s["eligible"] == 0 else 0
            if empty >= self.cfg.empty_rounds_stop:
                break
            # Periodic compaction (round-3 verdict #2): every round replays
            # the transitions delta through a latest-wins window, so on long
            # crawls the delta must be folded back into the bucketed
            # frontier every compact_every_rounds ACTIVE rounds to keep
            # per-round cost O(recent rounds), not O(crawl lifetime).
            # Resume-safe: the rounds row written before the compact records
            # pre-compact snapshots, and rollback to them restores exactly
            # that state (delta + base ≡ folded base by construction).
            since_compact = since_compact + 1 if s["eligible"] > 0 else since_compact
            if (
                self.cfg.compact_every_rounds
                and since_compact >= self.cfg.compact_every_rounds
            ):
                self.compact()
                since_compact = 0
                if self.cfg.expire_snapshots_keep:
                    for t in self.t.values():
                        t.expire_snapshots(keep_last=self.cfg.expire_snapshots_keep)
        # fold the transitions delta into the frontier so readers see final
        # states without replaying the delta (resume-safe: rollback restores)
        self.compact()
        return stats
