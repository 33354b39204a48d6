"""Post-crawl pipeline stages: chunk → embed → vectors (O6 chain,
reference scrape_controller.py:25-32).

All stages are DataFrame transforms; Python only inside Arrow pandas
UDFs / mapInPandas.  The vector ids are stable hashes — the reference
uses uuid4 (upsert_usecase/helper.py:53) which is nondeterministic, so
we derive ``sha2(site_id||url||chunk_ix)`` instead (SURVEY.md §2.3 X9).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import functions as Fx
from .kernels import embed as embed_k
from .kernels.chunker import chunk_text, summary_chunk

METADATA_SCHEMA = (
    "struct<sdk_framework_name:string, base_url:string, href:string, "
    "sdk_framework:string, has_code_snippet:boolean, version:string, "
    "versions:string, supported_languages:array<string>, "
    "domains:array<string>, subdomains:array<string>>"
)
CHUNKS_SCHEMA = (
    "url string, site_id string, chunk_ix int, chunked_data string, "
    f"metadata {METADATA_SCHEMA}, is_summary boolean"
)


def _chunk_frames(batches):
    """The per-batch chunk loop of :func:`chunk_pages`: frames of
    (url, site_id, base_url, text) in, CHUNKS_SCHEMA frames out.  A
    NULL text is one NULL chunk (chunk_ix 0), as SQL's NULL
    propagation gives — never an exception that fails the job."""
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            if not isinstance(r.text, str):
                rows.append({
                    "url": r.url, "site_id": r.site_id, "chunk_ix": 0,
                    "chunked_data": None, "metadata": None,
                    "is_summary": False,
                })
                continue
            for c in chunk_text(
                r.text, href=r.url, base_url=r.base_url, site_id=r.site_id
            ):
                rows.append({
                    "url": r.url, "site_id": r.site_id,
                    "chunk_ix": c["chunk_ix"],
                    "chunked_data": c["chunked_data"],
                    "metadata": c["metadata"],
                    "is_summary": False,
                })
        yield pd.DataFrame(rows) if rows else pd.DataFrame(
            columns=["url", "site_id", "chunk_ix", "chunked_data",
                     "metadata", "is_summary"]
        )


def chunk_pages(crawled: DataFrame) -> DataFrame:
    """Deterministic chunking of crawled pages (X5) via mapInPandas."""
    # fan out before the Python chunker (r9): a single-file/driver
    # corpus otherwise runs the whole per-doc chunk loop in ONE task
    # (measured 2.3 s single-threaded at sf1.0); multi-file crawl
    # snapshots pass through the gate untouched
    from .ops.dedup import _fan_out

    return _fan_out(
        crawled.select("url", "site_id", "base_url", "text"), "url"
    ).mapInPandas(_chunk_frames, CHUNKS_SCHEMA)


def summary_chunks(crawled: DataFrame, top_n: int = 4) -> DataFrame:
    """Per-site summary chunk (X6): deterministic top-4 pages by
    (text length desc, url), then one synthesized summary row.

    The candidate cut uses a per-site window (reference caps the LLM's
    candidate list at 180 hrefs, chunking_helper.py:292-294)."""
    w = Window.partitionBy("site_id").orderBy(
        F.length("text").desc(), F.col("url").asc()
    )
    top = (
        crawled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select("site_id", "base_url", "url", "text")
    )

    def synth(pdf: pd.DataFrame) -> pd.DataFrame:
        site_id = pdf["site_id"].iloc[0]
        base_url = pdf["base_url"].iloc[0]
        pages = sorted(
            zip(pdf["url"], pdf["text"]), key=lambda t: (-len(t[1]), t[0])
        )
        c = summary_chunk(site_id, base_url, pages, top_n=top_n)
        return pd.DataFrame([{
            "url": base_url, "site_id": site_id, "chunk_ix": 0,
            "chunked_data": c["chunked_data"], "metadata": c["metadata"],
            "is_summary": True,
        }])

    return top.groupBy("site_id").applyInPandas(synth, CHUNKS_SCHEMA)


def all_chunks(crawled: DataFrame) -> DataFrame:
    return chunk_pages(crawled).unionByName(summary_chunks(crawled))


def fit_bm25_distributed(
    chunks: DataFrame, max_vocab: int = 1_000_000
) -> embed_k.BM25Stats:
    """Corpus-wide BM25 stats with distributed DF/agg computation:
    document frequencies via explode+distinct+groupBy (map-side partial
    aggregation), avgdl via one avg — only the (term → df) vocabulary
    is collected, never the corpus.

    The collected vocabulary is BOUNDED: top ``max_vocab`` terms by
    document frequency (TakeOrdered, never a full-vocab driver
    materialization — a web-scale corpus has 10^8+ distinct tokens).
    Terms past the cap score as idf 0 at query time; their idf is
    near-constant-maximal anyway, so the cap only drops ultra-rare-term
    discrimination, never common-term ranking.

    Single-pass fit (r9, replacing the r4 two-consumer checkpoint):
    ONE mapInPandas pass tokenizes each partition in Python (C-speed
    regex + set) and emits PARTIAL aggregates — one (tok, df) row per
    distinct token per batch plus one sentinel row carrying the
    batch's (Σdl, n_docs) — so a single small groupBy finishes both
    the document frequencies and avgdl.  The r4 shape paid a JVM
    regex tokenize of the whole corpus into an eagerly-materialized
    checkpoint and then re-read it twice; the partial-agg rows here
    are vocabulary-sized, never corpus-sized, and nothing is
    checkpointed.  Numbers are identical: df still counts documents
    per token, avgdl is still Σdl/n in double."""

    def _partials(batches):
        from collections import Counter

        for pdf in batches:
            df_c: Counter = Counter()
            total_dl = 0
            n = 0
            for t in pdf["chunked_data"]:
                toks = embed_k.tokenize(t if isinstance(t, str) else "")
                total_dl += len(toks)
                n += 1
                df_c.update(set(toks))
            rows = [{"tok": k, "df": v, "dl": 0, "n": 0}
                    for k, v in df_c.items()]
            rows.append({"tok": None, "df": 0, "dl": total_dl, "n": n})
            yield pd.DataFrame(rows)

    from .ops.dedup import _fan_out

    part = _fan_out(chunks.select("chunked_data")).mapInPandas(
        _partials, "tok string, df long, dl long, n long"
    )
    agg = part.groupBy("tok").agg(
        F.sum("df").alias("df"), F.sum("dl").alias("dl"),
        F.sum("n").alias("n"),
    ).localCheckpoint(eager=True)
    tot = agg.filter(F.col("tok").isNull()).select(
        F.sum("n").alias("n"), F.sum("dl").alias("dl")).collect()[0]
    n = int(tot["n"] or 0)
    avgdl = (tot["dl"] / n) if n else 1.0
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition
    # top-N then a driver merge of N-row heaps — bounded memory
    df_rows = (
        agg.filter(F.col("tok").isNotNull())
        .orderBy(F.desc("df"), F.asc("tok")).limit(max_vocab).collect()
    )
    import math

    idf = {
        embed_k.term_id(r["tok"]): math.log(
            (n - r["df"] + 0.5) / (r["df"] + 0.5) + 1.0)
        for r in df_rows
    }
    return embed_k.BM25Stats(idf, float(avgdl), n)


def _norm_version_field(v):
    """Reference rule for version-ish string fields
    (upsert_usecase/helper.py:59-90): drop iff the value is one of the
    EXACT sentinels None/''/'none'/'null' (case-sensitive — 'None'
    survives and lowercases), else keep str(value).lower()."""
    return F.when(
        v.isNotNull() & ~v.isin("", "none", "null"), F.lower(v)
    )


def normalize_metadata(chunks: DataFrame) -> DataFrame:
    """X9 metadata normalization (upsert_usecase/helper.py:37-155):
    lowercase stringification of enum-ish fields, drop empty
    version/versions/supported_languages, inject chunked_data into
    metadata, stable id."""
    m = F.col("metadata")
    # str(list).lower() of a non-empty list — "['a', 'b']" — exactly as
    # the reference stringifies supported_languages (helper.py:100-117);
    # empty/None drops to NULL (the reference deletes the key)
    langs = m["supported_languages"]
    langs_str = F.when(
        langs.isNotNull() & (F.size(langs) > 0),
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(langs, lambda x: F.concat(F.lit("'"), F.lower(x), F.lit("'"))),
                ", ",
            ),
            F.lit("]"),
        ),
    )
    meta = F.struct(
        F.lower(m["sdk_framework_name"]).alias("sdk_framework_name"),
        m["base_url"].alias("base_url"),
        m["href"].alias("href"),
        F.lower(m["sdk_framework"]).alias("sdk_framework"),
        F.lower(m["has_code_snippet"].cast("string")).alias("has_code_snippet"),
        _norm_version_field(m["version"]).alias("version"),
        _norm_version_field(m["versions"]).alias("versions"),
        langs_str.alias("supported_languages"),
        F.transform(m["domains"], F.lower).alias("domains"),
        F.transform(m["subdomains"], F.lower).alias("subdomains"),
        F.col("chunked_data").alias("chunked_data"),
        F.lower(F.col("is_summary").cast("string")).alias("is_summary"),
    )
    vid = F.sha2(
        F.concat_ws("\0", "site_id", "url", F.col("chunk_ix").cast("string"),
                    F.col("is_summary").cast("string")),
        256,
    )
    return chunks.select(
        vid.alias("id"), "url", "site_id", "chunk_ix", "chunked_data",
        "is_summary", meta.alias("metadata"),
    )


def build_vectors(
    spark, chunks: DataFrame, dim: int = 64,
    stats: embed_k.BM25Stats | None = None, embed_backend: str = "hashing",
) -> tuple[DataFrame, embed_k.BM25Stats]:
    """chunks → vectors(id, values, sparse, metadata) (X7/X8/X9 + S7).

    BM25 stats are fit once; the doc-side encoder needs only
    (avgdl, k1, b) — closed over the fused UDF as literals, so the idf
    vocabulary (query-side only) is never shipped to executors.  Dense
    embeddings come from the named pluggable backend ('hashing'
    default; 'fastembed' = bge-base-en-v1.5 where installed;
    register_embed_backend for more).  Both vectors are computed by
    ONE fused pandas UDF (r9) — one tokenize and one digest per
    distinct token, where the split UDFs each re-tokenized and
    re-hashed the text (guide §4.2; only the needed columns cross)."""
    from .ops.dedup import _fan_out

    stats = stats or fit_bm25_distributed(chunks)
    # fan out before the encoder UDF — same single-task hazard as
    # chunk_pages (the fused UDF otherwise vectorizes a single-file
    # corpus on one core)
    normalized = normalize_metadata(_fan_out(chunks, "url"))
    vec = Fx.embed_vectors_udf(
        dim, stats.avgdl, stats.k1, stats.b, embed_backend
    )(F.col("chunked_data"))
    out = normalized.withColumn("_vec", vec).select(
        "*",
        F.col("_vec.values").alias("values"),
        F.col("_vec.sparse").alias("sparse"),
    ).drop("_vec")
    return out, stats
