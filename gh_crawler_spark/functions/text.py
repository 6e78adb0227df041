"""HTML text + out-link extraction — the byte-identical per-URL invariant.

The reference extracts text with BeautifulSoup ``get_text(strip=True)`` plus
content cleaning (collapse ``\\s+`` to one space, strip; reference
``src/utils.py:42-49``, ``src/issue_scraper.py:342-364``) and truncation rules
(``content[:2000] + "..."``; ``src/pr_scraper.py:639-641``). bs4/lxml are not
available in this sandbox, so the engine defines ONE deterministic pure-Python
extraction and uses it in BOTH places:

  * the synthetic-pages datagen writes ``text = extract_text_py(html)`` as the
    oracle column, and
  * the engine's Arrow-vectorized pandas UDF applies the same function at
    fetch time,

so "byte-identical extracted text per url" (BASELINE.json input_hint) holds by
construction and is asserted row-by-row in tests (SURVEY.md §5.2).

EXTRACTION SPEC:
  1. decode bytes as UTF-8 (errors='replace')
  2. drop <script>/<style>/<noscript>/<template> blocks and <!-- comments -->
  3. replace remaining tags with ' '; unescape entities
  4. collapse whitespace runs to a single space; strip ends
  5. out-links: href of every <a> outside dropped blocks, document order,
     absolutized (stdlib urljoin), canonicalized, first-occurrence deduped
     (the ``dict.fromkeys`` idiom mirrors the reference's order-preserving
     dedup, ``src/pr_scraper.py:294``)

Two implementations of the spec live here: the **regex engine** (primary —
~4-20x faster, this is the hot path at 100 TB) and an ``html.parser``
reference implementation used as a cross-check in tests; equality over the
corpus is itself a test (tests/test_text.py::test_fast_equals_parser).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gh_crawler_spark.functions.urls import canonicalize_url_py

_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})
_WS_RE = re.compile(r"\s+")
_BLOCK_RE = re.compile(r"<(script|style|noscript|template)\b.*?</\1\s*>", re.I | re.S)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_TAG_RE = re.compile(r"<[^>]*>")
_HREF_RE = re.compile(r"""<a\s[^>]*?href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)
_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:")
# Embedded page-data payload (the reference scrapes React preloadedQueries
# JSON out of a script tag, src/issue_scraper.py:408-505); matched on the RAW
# html — block-stripping would delete it (it is invisible to text/links).
_EMBED_RE = re.compile(
    r'<script type="application/json" id="page-data">(.*?)</script>', re.S
)


def _decode(html: bytes | str) -> str:
    if isinstance(html, (bytes, bytearray)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


def _strip_blocks(s: str) -> str:
    return _COMMENT_RE.sub(" ", _BLOCK_RE.sub(" ", s))


def extract_text_py(html: bytes | str) -> str:
    """The byte-identical extraction (spec above). Shared oracle + UDF body."""
    s = _TAG_RE.sub(" ", _strip_blocks(_decode(html)))
    if "&" in s:
        s = unescape(s)
    return _WS_RE.sub(" ", s).strip()


def _raw_hrefs(stripped: str) -> list[str]:
    return [
        unescape(m.group(1) or m.group(2) or m.group(3) or "")
        for m in _HREF_RE.finditer(stripped)
    ]


def _canonical_links(hrefs: list[str], base_url: str) -> list[str]:
    out: list[str] = []
    for href in hrefs:
        href = href.strip()
        if not href or href.startswith("#") or href.lower().startswith(_SKIP_SCHEMES):
            continue
        absolute = urljoin(base_url, href)
        if not absolute.startswith(("http://", "https://")):
            continue
        out.append(canonicalize_url_py(absolute))
    return list(dict.fromkeys(out))


def extract_outlinks_py(html: bytes | str, base_url: str) -> list[str]:
    """Canonicalized out-links, first-occurrence order, deduped."""
    return _canonical_links(_raw_hrefs(_strip_blocks(_decode(html))), base_url)


def extract_page_py(
    html: bytes | str, base_url: str
) -> tuple[str, list[str], str | None]:
    """Single-pass text + out-links + embedded JSON (one decode, one strip)."""
    decoded = _decode(html)
    stripped = _strip_blocks(decoded)
    s = _TAG_RE.sub(" ", stripped)
    if "&" in s:
        s = unescape(s)
    text = _WS_RE.sub(" ", s).strip()
    m = _EMBED_RE.search(decoded)
    return text, _canonical_links(_raw_hrefs(stripped), base_url), (m.group(1) if m else None)


def truncate_ref(text: str, limit: int) -> str:
    """Reference truncation rule: ``s[:k] + '...'`` when over the limit
    (src/pr_scraper.py:639; SURVEY.md L3). Column analog:
    ``when(length > k, concat(substring(s,1,k), '...')).otherwise(s)``."""
    return text[:limit] + "..." if len(text) > limit else text


# ---------------------------------------------------------------------------
# html.parser reference implementation (cross-check only; not the hot path)
# ---------------------------------------------------------------------------


class _TextAndLinks(HTMLParser):
    """Single-pass DOM-ish extractor: text chunks + hrefs (outside skip tags)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.hrefs: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a" and self._skip_depth == 0:
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append(v)
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data.strip():
            self.chunks.append(data)


def _parse(html: bytes | str) -> _TextAndLinks:
    p = _TextAndLinks()
    p.feed(_decode(html))
    return p


def extract_text_parser_py(html: bytes | str) -> str:
    """Parser-based implementation of the same spec (test cross-check)."""
    p = _parse(html)
    return _WS_RE.sub(" ", " ".join(p.chunks)).strip()


def extract_outlinks_parser_py(html: bytes | str, base_url: str) -> list[str]:
    return _canonical_links([h.strip() for h in _parse(html).hrefs], base_url)


# ---------------------------------------------------------------------------
# Arrow-vectorized UDFs (the only Python in the hot path; SURVEY.md §2.10)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda h: extract_text_py(h) if h is not None else None)


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_outlinks_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_outlinks_py(h, b) if h is not None and b is not None else []
            for h, b in zip(html, base_url)
        ]
    )


_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("outlinks", T.ArrayType(T.StringType())),
        T.StructField("embedded_json", T.StringType()),
    ]
)


@F.pandas_udf(_PAGE_SCHEMA)
def extract_page_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    """Single-parse extraction: text + out-links + embedded page-data JSON in
    one pass per page (the hot-path variant). Byte-identical to
    extract_text_py/extract_outlinks_py — same shared spec functions."""
    texts: list[str | None] = []
    links: list[list[str]] = []
    embeds: list[str | None] = []
    for h, b in zip(html, base_url):
        if h is None:
            texts.append(None)
            links.append([])
            embeds.append(None)
            continue
        t, ls, ej = extract_page_py(h, b)
        texts.append(t)
        links.append(ls)
        embeds.append(ej)
    return pd.DataFrame({"text": texts, "outlinks": links, "embedded_json": embeds})
