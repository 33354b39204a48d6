"""Spark-facing column functions: native Catalyst expressions where the
semantics allow, Arrow-vectorized pandas UDFs for the HTML kernels.

Rule of thumb applied throughout (input_hint: "no per-row Python"):
string/regex/array work stays JVM-side (`F.*`, codegen'd); only HTML
parsing, chunking and embedding cross into Python, always as pandas
UDFs over Arrow batches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels import embed as embed_k
from .kernels.html import (
    discover_links,
    extract_page,
    extract_title,
    parse_robots,
    parse_sitemap,
    site_id_from_title,
)
from .kernels.merge import merge_content

# --------------------------------------------------------- native columns

# Same pattern as kernels.urls.strip_fragment (helper.py:65-68); Java and
# Python regex agree on this pattern for ASCII URLs.
_FRAGMENT_PATTERN = r"(https?://[^\s#]+)"

# Exclusion rules — keep in sync with kernels.filters (Java-compatible).
_EXCLUDE_PATTERN = (
    r"(?i)(?:"
    r"[/?&_-](?:log[-_]?in|sign[-_]?in|sign[-_]?up|register|logout)(?:[/?&.#]|$)"
    r"|sessionType=(?:login|signup)"
    r"|/support(?:[/?#]|$)"
    r"|/account(?:[/?#]|$)"
    r"|/settings(?:[/?#]|$)"
    r")"
)
_LOCALE_PATTERN = (
    r"(?i)(?:/(?:es|fr|de|ja|zh|zh-cn|zh-tw|ko|pt|pt-br|ru|it|nl|pl|tr|ar|hi|id|th|vi)/"
    r"|[?&](?:lang|locale|hl)=(?!en)\w)"
)


def tokens_col(col="text") -> Column:
    """Lowercase alnum-run tokens in ONE regex pass: split on the
    complement class, drop boundary empties.  Token-for-token identical
    to the two-pass regexp_replace+trim+split form and to
    kernels.embed.tokenize (re.findall('[a-z0-9]+')) — but the replace
    pass (which rebuilds the whole string through
    Matcher.appendReplacement) profiled as the DOMINANT cost of the
    entire dedup/text family: a jstack mid-job showed all 32 executor
    threads inside java.util.regex on it.  One pass halves that."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != "")


def strip_fragment_col(url: Column) -> Column:
    """Native fragment strip; falls back to the input when no match,
    mirroring kernels.urls.strip_fragment."""
    extracted = F.regexp_extract(url, _FRAGMENT_PATTERN, 1)
    return F.when(extracted == "", url).otherwise(extracted)


def host_col(url: Column) -> Column:
    """netloc of an absolute URL (JVM-side regex).  ``?`` and ``#`` end
    the authority just like ``/`` does — urlparse().netloc semantics
    ('https://host?x=1' → 'host', not 'host?x=1')."""
    return F.regexp_extract(url, r"^https?://([^/?#\s]+)", 1)


def path_col(url: Column) -> Column:
    """path (+query) of an absolute URL — robots prefixes match on it."""
    return F.regexp_replace(url, r"^https?://[^/?#\s]+", "")


def rule_filter_links(links: Column) -> Column:
    """Filter an ARRAY<STRING> of links with the relevance rules —
    JVM-side higher-order function, no Python."""
    return F.filter(links, lambda u: ~u.rlike(_EXCLUDE_PATTERN) & ~u.rlike(_LOCALE_PATTERN))


def dense_dot(a: Column, b: Column) -> Column:
    """dot(ARRAY<FLOAT/DOUBLE>, ARRAY<...>) via zip_with+aggregate (JVM)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sparse_dot_with_query(indices: Column, values: Column, query_map: dict[int, float]) -> Column:
    """dot(doc sparse vector, small query sparse vector) — the query is
    folded into the plan as a literal MAP (tens of terms), so scoring
    stays in whole-stage codegen."""
    if not query_map:
        return F.lit(0.0)
    entries = []
    for k, v in query_map.items():
        entries.append(F.lit(int(k)))
        entries.append(F.lit(float(v)))
    m = F.create_map(*entries)
    return F.aggregate(
        F.zip_with(
            indices, values,
            lambda i, v: F.coalesce(m[i], F.lit(0.0)) * v.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ------------------------------------------------------------ pandas UDFs


_PAGE_SCHEMA = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("links", T.ArrayType(T.StringType())),
])


@F.pandas_udf(_PAGE_SCHEMA)
def extract_page_udf(html: pd.Series) -> pd.DataFrame:
    """html BINARY → (merged text, raw links) in ONE decode+parse —
    the fused X1+X2+X3+X4 stage the crawl round uses (one
    ArrowEvalPython stage instead of two, one HTML parse per page)."""
    texts, links = [], []
    for b in html:
        if b is None:
            texts.append(None)
            links.append(None)
            continue
        s = bytes(b).decode("utf-8", "replace")
        md, hidden = extract_page(s)
        texts.append(merge_content(md, hidden))
        links.append(discover_links(s))
    return pd.DataFrame({"text": texts, "links": links})


def _decode(b) -> str | None:
    return None if b is None else bytes(b).decode("utf-8", "replace")


_SEED_PROBE_SCHEMA = T.StructType([
    T.StructField("site_id", T.StringType()),
    T.StructField("locs", T.ArrayType(T.StringType())),
])


@F.pandas_udf(_SEED_PROBE_SCHEMA)
def seed_probe_udf(seed_url: pd.Series, html: pd.Series, html1: pd.Series,
                   html2: pd.Series) -> pd.DataFrame:
    """One seed's probes → (site_id, sitemap <loc> list) in one Python
    stage.  site_id comes from the seed page's <title>, netloc when the
    page or its title is missing (helper.py:41-63).  The sitemap falls
    through on the PARSE RESULT, not on file presence: a /sitemap.xml
    with zero <loc> urls falls back to /sitemap_index.xml
    (helper.py:215-226, "if urls_found: break"); locs is NULL when
    neither file exists."""
    site_ids, locs = [], []
    for u, b, b1, b2 in zip(seed_url, html, html1, html2):
        title = "" if b is None else extract_title(_decode(b))
        site_ids.append(site_id_from_title(title, u))
        found = None if b1 is None else parse_sitemap(_decode(b1))
        if not found:
            found = None if b2 is None else parse_sitemap(_decode(b2))
        locs.append(found)
    return pd.DataFrame({"site_id": site_ids, "locs": locs})


_ROBOTS_SCHEMA = T.StructType([
    T.StructField("disallow", T.ArrayType(T.StringType())),
    T.StructField("crawl_delay", T.DoubleType()),
])


@F.pandas_udf(_ROBOTS_SCHEMA)
def parse_robots_udf(html: pd.Series) -> pd.DataFrame:
    rows = []
    for b in html:
        dis, delay = parse_robots(bytes(b).decode("utf-8", "replace"))
        rows.append({"disallow": dis, "crawl_delay": delay})
    return pd.DataFrame(rows)


def dense_embed_udf(dim: int, backend: str = "hashing"):
    """X7 dense embedding UDF; ``backend`` names a registered batch
    embedder (kernels.embed.register_embed_backend) resolved inside
    the UDF so each Python worker loads its own model copy."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(text: pd.Series) -> pd.Series:
        fn = embed_k.get_embed_backend(backend)
        return pd.Series(fn(text.tolist(), dim))

    return _embed


_SPARSE_SCHEMA = T.StructType([
    T.StructField("indices", T.ArrayType(T.IntegerType())),
    T.StructField("values", T.ArrayType(T.FloatType())),
])


_VECTOR_SCHEMA = T.StructType([
    T.StructField("values", T.ArrayType(T.FloatType())),
    T.StructField("sparse", _SPARSE_SCHEMA),
])


def embed_vectors_udf(dim: int, avgdl: float, k1: float = 1.2,
                      b: float = 0.75, backend: str = "hashing"):
    """Fused X7+X8 encoder (r9): ONE pandas UDF computes both the dense
    hashing embedding and the BM25 sparse vector — one tokenize and
    one md5 per distinct token (see kernels.embed.embed_doc_hashing)
    where the split UDFs (plan: two pythonUDF expressions batched in
    one ArrowEvalPython node) each re-tokenized and re-hashed every
    token occurrence of the full text.  The doc
    side of BM25 needs only (avgdl, k1, b) — plain literals closed
    over the UDF — so the (possibly huge) idf vocabulary is never
    shipped to executors at all (it is query-side only).  Non-hashing
    dense backends keep the fused boundary: the backend embeds the
    batch, the BM25 pass runs alongside in the same worker."""

    @F.pandas_udf(_VECTOR_SCHEMA)
    def _embed(text: pd.Series) -> pd.DataFrame:
        if backend == "hashing":
            rows_v, rows_s = [], []
            for t in text:
                v, idx, val = embed_k.embed_doc_hashing(
                    t if isinstance(t, str) else "", dim, avgdl, k1, b)
                rows_v.append(v)
                rows_s.append({"indices": idx, "values": val})
        else:
            fn = embed_k.get_embed_backend(backend)
            rows_v = fn(text.tolist(), dim)
            stats = embed_k.BM25Stats({}, avgdl, 0, k1, b)
            rows_s = []
            for t in text:
                idx, val = embed_k.bm25_encode_document(t or "", stats)
                rows_s.append({"indices": idx, "values": val})
        return pd.DataFrame({"values": rows_v, "sparse": rows_s})

    return _embed


def bm25_encode_udf(stats_bc):
    """Doc-side BM25 encoder; ``stats_bc`` is a broadcast of
    BM25Stats.to_dict() (fit once, shipped once per executor —
    the reference pickles its fitted encoder, load_bm25.py:15-44)."""

    @F.pandas_udf(_SPARSE_SCHEMA)
    def _encode(text: pd.Series) -> pd.DataFrame:
        stats = embed_k.BM25Stats.from_dict(stats_bc.value)
        rows = []
        for t in text:
            idx, val = embed_k.bm25_encode_document(t or "", stats)
            rows.append({"indices": idx, "values": val})
        return pd.DataFrame(rows)

    return _encode
