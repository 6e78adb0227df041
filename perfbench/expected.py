"""Expected outcomes for the correctness gate, computed once and cached.

* Crawls: the reference simulator (``gh_crawler_spark.simulator``) replayed
  over the same seeded corpus, seeds, robots and config. Cached under a key
  that covers the source of the whole ``gh_crawler_spark`` package (the
  simulator imports its URL, hashing, link-extraction and politeness code),
  the corpus and the config, so editing any of them recomputes it.
* Queries: each query's DuckDB oracle from ``gh_crawler_spark.queries``.
  Cached per query under a key that covers the oracle SQL text and the bytes
  of every table the SQL names, so editing the SQL (or an input) recomputes
  it. The oracles of the queries that read only the seed-independent
  documents table cost minutes of DuckDB, so their results are committed
  under ``perfbench/oracles`` (``python3 perfbench/run.py --write-oracles``
  rewrites them) and no run pays for them while their key still matches.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import re

import pandas as pd

COMMITTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracles")


def _sha(*parts: bytes | str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
        h.update(b"\0")
    return h.hexdigest()[:24]


def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return _sha(f.read())


def _write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _package_sha() -> str:
    import gh_crawler_spark

    root = os.path.dirname(gh_crawler_spark.__file__)
    files = sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True))
    return _sha(*(f"{os.path.relpath(f, root)}:{_file_sha(f)}" for f in files))


@dataclasses.dataclass
class CrawlExpected:
    fetch_by_round: dict[int, set[int]]
    seen: set[int]


def crawl_expected(cache_dir: str, corpus_key: str, corpus_path: str,
                   seeds: list[tuple[str, float]],
                   robots: dict[str, tuple[str, int]], cfg, rounds: int) -> CrawlExpected:
    """Simulator outcome after ``rounds`` rounds: fetch set per round and the
    final seen set."""
    import gh_crawler_spark.simulator as simulator

    cfg_repr = repr(dataclasses.replace(cfg, root=""))
    key = _sha(_package_sha(), corpus_key, cfg_repr, repr(sorted(seeds)),
               repr(sorted(robots.items())), str(rounds))
    path = os.path.join(cache_dir, f"expected-crawl-{key}.json")
    if not os.path.exists(path):
        import pyarrow.parquet as pq

        from gh_crawler_spark.functions.urls import canonicalize_url_py

        table = pq.read_table(corpus_path, columns=["url", "html"]).to_pydict()
        pages = {canonicalize_url_py(u): h for u, h in zip(table["url"], table["html"])}
        sim = simulator.SimCrawler(cfg, pages, robots)
        sim.seed(seeds)
        sim.run(max_rounds=rounds)
        _write_json(path, {"fetch": sorted(sim.fetch_log), "seen": sorted(sim.seen)})
    with open(path) as f:
        raw = json.load(f)
    by_round: dict[int, set[int]] = {}
    for k, h in raw["fetch"]:
        by_round.setdefault(int(k), set()).add(int(h))
    return CrawlExpected(by_round, {int(h) for h in raw["seen"]})


def oracle_tables(name: str) -> list[str]:
    """The input tables the oracle SQL of query ``name`` reads."""
    from gh_crawler_spark.queries import QUERIES, TABLES

    return [t for t in TABLES if re.search(rf"\b{t}\b", QUERIES[name][1])]


def _duckdb(sf_dir: str, tables: list[str], sql: str, attempts: int = 3) -> pd.DataFrame:
    """Run ``sql`` over the named parquet tables. The macro-expanded XXH64
    oracles now and then die with a bad_alloc that a fresh connection does
    not repeat, so an out-of-memory error is retried."""
    import duckdb

    for attempt in range(attempts):
        con = duckdb.connect()
        try:
            con.execute("SET threads=4")
            con.execute("SET memory_limit='2GB'")
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{sf_dir}/{t}.parquet')")
            return con.execute(sql).df()
        except duckdb.OutOfMemoryException:
            if attempt == attempts - 1:
                raise
        finally:
            con.close()


def oracle_expected(cache_dir: str, sf_dir: str, name: str,
                    store: str | None = None) -> pd.DataFrame:
    """The DuckDB oracle result of query ``name`` over the tables in
    ``sf_dir``: taken from the results committed in ``COMMITTED`` or cached
    in ``cache_dir``, else computed and written to ``store`` (default
    ``cache_dir``)."""
    from gh_crawler_spark.queries import QUERIES

    sql = QUERIES[name][1]
    used = oracle_tables(name)
    key = _sha(name, sql, *(_file_sha(os.path.join(sf_dir, f"{t}.parquet")) for t in used))
    fname = f"expected-{name}-{key}.parquet"
    for d in (COMMITTED, cache_dir):
        if os.path.exists(os.path.join(d, fname)):
            return pd.read_parquet(os.path.join(d, fname))
    path = os.path.join(store or cache_dir, fname)
    if not os.path.exists(path):
        df = _duckdb(sf_dir, used, sql)
        tmp = f"{path}.tmp{os.getpid()}"
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return pd.read_parquet(path)
