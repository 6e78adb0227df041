"""Seeded benchmark inputs, written once as parquet under the cache dir.

Every input is a pure function of ``(seed, size)``: the same seed gives the
same bytes. The crawl corpus comes from the engine's own deterministic page
generator (``sources.pages``); the query tables follow the columns and value
distributions of the repository's sf0.1 test tables at a chosen share of
their row counts. Inputs are written once per key
and read back with ``spark.read.parquet`` so set-up and every later scan
start from the same column-pruned parquet files instead of re-running a
generator.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class CrawlSize:
    pages: int
    domains: int
    paras: tuple[int, int]
    seeds: int          # 0 = every corpus URL is a seed (batch refresh)

    def key(self, seed: int) -> str:
        return (f"corpus-s{seed}-n{self.pages}-d{self.domains}"
                f"-p{self.paras[0]}_{self.paras[1]}")


# Row counts of the repository's sf0.1 test tables (TESTDATA.md), the scale
# the query registry is benchmarked at: the tables the measured queries read
# and the key ranges of lineitem's foreign keys. The generator below
# reproduces the tables' value distributions; a QuerySize scales the counts.
SF01_ROWS = {"supplier": 1_000, "part": 20_000, "orders": 150_000,
             "lineitem": 600_000, "documents": 5_000, "embeddings": 2_000}


@dataclass(frozen=True)
class QuerySize:
    scale: float        # share of the sf0.1 row counts, every table but documents
    documents: int

    def rows(self, table: str) -> int:
        if table == "documents":
            return self.documents
        return max(10, round(SF01_ROWS[table] * self.scale))

    def key(self, seed: int) -> str:
        return f"tables-s{seed}-x{self.scale:g}-d{self.documents}"


# The documents table is the same for every seed: the DuckDB oracle of
# td_minhash_lsh costs minutes of macro-expanded XXH64 SQL, so the expected
# results of the document queries are computed once and committed
# (expected.py) instead of once per seed. Every other table follows the seed.
DOCS_SEED = 0


def _publish(tmp: str, final: str) -> str:
    """Atomically move a finished directory into place (a crashed run never
    leaves a half-written input that a later run would trust)."""
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, final)
    return final


CORPUS_FILES = 8


def crawl_corpus(spark, cache_dir: str, seed: int, size: CrawlSize) -> str:
    """Parquet path of the seeded page corpus (generated on first use), in
    ``CORPUS_FILES`` files like a Spark write of as many partitions."""
    final = os.path.join(cache_dir, size.key(seed))
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        from gh_crawler_spark.sources.pages import _row
    except ImportError:  # no row-level generator: the engine's Spark job
        from gh_crawler_spark.sources.pages import generate_pages

        generate_pages(
            spark, size.pages, seed=seed, n_domains=size.domains,
            n_partitions=CORPUS_FILES, paras=size.paras, with_oracle_text=False,
        ).write.parquet(tmp)
        return _publish(tmp, final)
    # The rows of the engine's generator, written in-process: a Spark job of
    # a few hundred rows costs seconds of worker start-up in every run.
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("lang", pa.string(), nullable=False),
    ])
    os.makedirs(tmp)
    bounds = np.linspace(0, size.pages, CORPUS_FILES + 1).astype(int)
    for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        rows = [_row(seed, i, size.pages, size.domains, size.paras, False)
                for i in range(lo, hi)]
        cols = list(zip(*rows)) if rows else [[]] * len(schema)
        pq.write_table(pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema),
            os.path.join(tmp, f"part-{k:05d}.parquet"))
    return _publish(tmp, final)


# -- query tables ------------------------------------------------------------

# Value domains of the sf0.1 documents.
_LANGS, _LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15]
# sf0.1 documents: 10-100 tokens drawn uniformly from these 31 words; 0.16 %
# exact copies and 5 % near copies (one token more or fewer at the end) of an
# earlier document, which give the dedup and similarity operators their pairs.
_VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
          "key line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()


def _ts(rng: np.random.Generator, n: int, start: str, days: int,
        unit: str = "us") -> pd.Series:
    """n timestamps uniform over ``days`` days, truncated to ``unit``."""
    us = rng.integers(0, days * 86_400_000_000, n)
    return pd.Series(pd.Timestamp(start) + pd.to_timedelta(us, unit="us")).dt.floor(unit)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[j] for j in rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.0016:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.05:
            toks = texts[int(rng.integers(0, len(texts)))].split()
            if len(toks) > 10 and rng.random() < 0.5:
                toks = toks[:-1]
            else:
                toks = toks + [_VOCAB[int(rng.integers(0, len(_VOCAB)))]]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def query_frames(seed: int, size: QuerySize) -> dict[str, pd.DataFrame]:
    """The tables the measured queries read, as pandas frames: the column
    names, types and value distributions of the sf0.1 test tables, at
    ``size``'s row counts."""
    rng = np.random.default_rng(seed)
    n = {t: size.rows(t) for t in SF01_ROWS}
    no, npart, ns, nl = n["orders"], n["part"], n["supplier"], n["lineitem"]
    # Whole-unit prices (sf0.1 has cents): every price * (1 - discount) then
    # has at most two decimals, so a two-decimal rounded sum never sits on a
    # rounding tie that Spark and DuckDB could break differently.
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": rng.integers(901, 105_000, nl).astype(np.float64),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(rng, nl, "1995-01-02", 2498, "D"),
    })
    nv = n["embeddings"]
    emb = rng.normal(size=(nv, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return {
        "lineitem": lineitem,
        "documents": _documents(np.random.default_rng(DOCS_SEED), size.documents),
        "embeddings": embeddings,
    }


def _write_tables(final: str, frames: dict[str, pd.DataFrame]) -> str:
    """Directory of ``<table>.parquet`` files (the ``sf_dir`` layout the
    query registry reads), written on first use."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, frame in frames.items():
        frame.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False,
                         coerce_timestamps="us", allow_truncated_timestamps=True)
    return _publish(tmp, final)


def query_tables(cache_dir: str, seed: int, size: QuerySize) -> str:
    return _write_tables(os.path.join(cache_dir, size.key(seed)), query_frames(seed, size))


def documents_table(cache_dir: str, size: QuerySize) -> str:
    """A directory holding only the seed-independent documents table (the
    same bytes ``query_tables`` writes for every seed)."""
    docs = _documents(np.random.default_rng(DOCS_SEED), size.documents)
    return _write_tables(os.path.join(cache_dir, f"documents-n{size.documents}"),
                         {"documents": docs})
