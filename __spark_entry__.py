"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full crawl of the tiny synthetic web +
hybrid query over the resulting vectors.
``queries()`` — one entry per implemented operator family
(SURVEY.md §2 + training-data ops); each takes (spark, sf_dir).
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible
query (same column names/aliases both sides).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _doc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Crawl the deterministic tiny web end-to-end (frontier rounds →
    seen-set → extraction), then return the crawled table ordered by
    priority.  Also smoke-reads sf0.001 documents to pin the driver
    contract."""
    from doccrawler_spark.crawl import CrawlConfig, crawl, crawled_all
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = tempfile.mkdtemp(prefix="doccrawler_entry_")
    catalog = crawl(spark, web, seeds, root, CrawlConfig(max_depth=3))
    out = crawled_all(spark, catalog).orderBy("priority").select(
        "url", "site_id", "depth", "round", "priority",
        F.length("text").alias("text_len"),
    )
    # touch the driver-provided table too (contract smoke)
    _ = _doc(spark, "/root/testdata/sf0.001", "documents").limit(1).count()
    return out


# --------------------------------------------------------------- queries


def _q_crawl_tiny(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entry(spark)


def _q_crawl_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME deterministic tiny crawl as crawl_tiny_e2e, forced down
    the cluster-scale F8 path every round (the hash-bucketed seen TABLE
    anti-join; broadcast cutoff 0) — identical results through a
    different physical dedup plan, so it shares crawl_tiny's
    VALUES-golden oracle.  This puts the cluster-scale seen-set
    machinery itself under the driver correctness gate."""
    from doccrawler_spark.crawl import CrawlConfig, crawl, crawled_all
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = tempfile.mkdtemp(prefix="doccrawler_entry_bkt_")
    catalog = crawl(
        spark, web, seeds, root,
        CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                    seen_buckets=8),
    )
    return crawled_all(spark, catalog).orderBy("priority").select(
        "url", "site_id", "depth", "round", "priority",
        F.length("text").alias("text_len"),
    )


def _q_exact_dedup(spark, sf_dir):
    from doccrawler_spark.ops.dedup import exact_dedup

    return exact_dedup(_doc(spark, sf_dir, "documents")).orderBy("fingerprint")


def _q_ngram_jaccard(spark, sf_dir):
    from doccrawler_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _doc(spark, sf_dir, "documents"), n=3, threshold=0.6
    ).orderBy("doc_a", "doc_b")


def _q_minhash_lsh(spark, sf_dir):
    from doccrawler_spark.ops.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _doc(spark, sf_dir, "documents"), n=3, k=16, bands=4
    ).orderBy("doc_a", "doc_b")


def _q_minhash_verified(spark, sf_dir):
    from doccrawler_spark.ops.dedup import minhash_verified_pairs

    return minhash_verified_pairs(
        _doc(spark, sf_dir, "documents"), n=3, k=16, bands=4, threshold=0.6
    ).orderBy("doc_a", "doc_b")


def _q_simhash(spark, sf_dir):
    from doccrawler_spark.ops.dedup import simhash64

    return simhash64(_doc(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_embedding_neardup(spark, sf_dir):
    from doccrawler_spark.ops.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _doc(spark, sf_dir, "embeddings"), threshold=0.3
    ).orderBy("vec_a", "vec_b")


def _q_cosine_topk(spark, sf_dir):
    from doccrawler_spark.ops.similarity import cosine_topk

    emb = _doc(spark, sf_dir, "embeddings")
    qv = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    return cosine_topk(emb, list(qv), k=10)


def _q_lsh_topk(spark, sf_dir):
    from doccrawler_spark.ops.similarity import lsh_topk

    emb = _doc(spark, sf_dir, "embeddings")
    qv = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    return lsh_topk(emb, list(qv), k=10, n_bits=8)


def _q_ivf_topk(spark, sf_dir):
    """IVF ANN: coarse quantizer from data-sampled centroids, probe the
    2 nearest of 8 cells, exact cosine inside."""
    from doccrawler_spark.ops.similarity import ivf_topk

    emb = _doc(spark, sf_dir, "embeddings")
    qv = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    return ivf_topk(emb, [float(x) for x in qv], k=10, n_cells=8, n_probe=2)


# bump when the index layout/quantizer logic changes — invalidates the
# per-(input, params) on-disk index cache below
_ANN_IDX_VERSION = "catalog"  # bumped: layouts as catalog snapshots


def _ann_index_dir(sf_dir: str, kind: str, tag: str) -> str:
    """Deterministic per-(input, params, code-version) ANN index cache
    location — the write-once half of write-once-query-many, so the
    indexed driver rows measure the pruned SCAN, not a rebuild per
    query.  Staleness is guarded by the source parquet's (mtime, size)
    and ``_ANN_IDX_VERSION`` inside the key."""
    import hashlib
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        stamp = "missing"
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{kind}|{tag}|{_ANN_IDX_VERSION}|{stamp}"
        .encode()
    ).hexdigest()[:16]
    return os.path.join(
        tempfile.gettempdir(), "doccrawler_ann_idx", f"{kind}_{key}"
    )


def _ensure_index(d: str, build) -> None:
    """Build the shared /tmp ANN index cache entry ``d`` unless a
    layout is committed there.  A build publishes through the layout's
    snapshot manifest (``ops.similarity``), so concurrent builders are
    safe: each writes its own directory, the manifest replace is the
    one commit point, and a reader sees no layout or a complete one.
    A torn entry (a build that crashed before its commit) has no
    manifest and is rebuilt; its directory is reclaimed by a later
    commit once the catalog's grace window has passed."""
    from doccrawler_spark.ops.similarity import index_exists

    if not index_exists(d):
        build(d)


def _q_ivf_topk_indexed(spark, sf_dir):
    """Same query + quantizer as ivf_topk, answered from the write-time
    IVF layout: cell is a partition column, the scan prunes to the 2
    probed cells (asserted in BENCH/PLANS.md)."""
    from doccrawler_spark.ops.similarity import (
        hash_sample_centroids,
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = _doc(spark, sf_dir, "embeddings")
    qv = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    d = _ann_index_dir(sf_dir, "ivf", "c8")
    _ensure_index(
        d, lambda t: write_ivf_index(emb, t,
                                     centroids=hash_sample_centroids(emb, 8))
    )
    return ivf_topk_indexed(spark, d, [float(x) for x in qv], k=10, n_probe=2)


def _q_lsh_topk_indexed(spark, sf_dir):
    """Same query as lsh_topk, answered from the write-time multi-table
    LSH layout: (band, key) are partition columns, the scan prunes to
    ≤4 bucket directories (asserted in BENCH/PLANS.md)."""
    from doccrawler_spark.ops.similarity import (
        lsh_topk_indexed,
        write_lsh_index,
    )

    emb = _doc(spark, sf_dir, "embeddings")
    qv = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    d = _ann_index_dir(sf_dir, "lsh", "b8t4")
    _ensure_index(d, lambda t: write_lsh_index(emb, t, n_bits=8, n_tables=4))
    return lsh_topk_indexed(spark, d, list(qv), k=10)


def _q_knn_join_indexed(spark, sf_dir):
    """Same bulk-ANN result as knn_join (shares its oracle), answered
    from the write-time (band,key) LSH layout: the corpus side is a
    partition-pruned scan of only the bucket dirs the 5 query vectors
    probe — the index-side search the 100-TB dedup workload runs —
    instead of re-banding the full corpus per batch."""
    from doccrawler_spark.ops.similarity import (
        knn_join_indexed,
        write_lsh_index,
    )

    emb = _doc(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d = _ann_index_dir(sf_dir, "lsh", "b4t4")
    _ensure_index(d, lambda t: write_lsh_index(emb, t, n_bits=4, n_tables=4))
    return knn_join_indexed(spark, d, q, k=5).orderBy("q_id", "vec_id")


def _q_knn_join(spark, sf_dir):
    """Bulk ANN: top-5 neighbors for each of the first 5 vectors —
    multi-table banded sign-LSH (4 bands × 4 bits) + per-bucket GEMM
    top-k, no unbounded window (the oracle replays the simple
    equivalent: candidates sharing ≥1 band, global per-query top-k —
    the bucket-level pre-top-k is lossless)."""
    from doccrawler_spark.ops.similarity import knn_join

    emb = _doc(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return knn_join(emb, q, k=5, n_bits=4, n_tables=4).orderBy("q_id", "vec_id")


def _q_token_stats(spark, sf_dir):
    from doccrawler_spark.ops.text import token_stats

    return token_stats(_doc(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_quality(spark, sf_dir):
    from doccrawler_spark.ops.text import quality_scores

    return quality_scores(_doc(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_lang_id(spark, sf_dir):
    from doccrawler_spark.ops.text import lang_id

    return lang_id(_doc(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_fingerprint(spark, sf_dir):
    from doccrawler_spark.ops.text import fingerprints

    return fingerprints(_doc(spark, sf_dir, "documents")).orderBy("doc_id")


_HYBRID_QUERY_TEXT = "spark shuffle partition join"


def _q_hybrid_topk(spark, sf_dir):
    """Hybrid dense+sparse retrieval over vectors built from documents.
    The md5 hashing-trick embedder + BM25 arithmetic are replayed
    exactly by the DuckDB oracle (same md5 slots/signs, same integer
    slot sums, same float32 storage rounding)."""
    from doccrawler_spark.pipeline import build_vectors
    from doccrawler_spark.query import hybrid_query

    docs = _doc(spark, sf_dir, "documents")
    chunks = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("source").alias("site_id"),
        F.lit(0).alias("chunk_ix"),
        F.col("text").alias("chunked_data"),
        F.struct(
            F.col("source").alias("sdk_framework_name"),
            F.col("source").alias("base_url"),
            F.col("doc_id").cast("string").alias("href"),
            F.lit("framework").alias("sdk_framework"),
            F.lit(False).alias("has_code_snippet"),
            F.lit(None).cast("string").alias("version"),
            F.lit(None).cast("string").alias("versions"),
            F.array().cast("array<string>").alias("supported_languages"),
            F.array().cast("array<string>").alias("domains"),
            F.array().cast("array<string>").alias("subdomains"),
        ).alias("metadata"),
        F.lit(False).alias("is_summary"),
    )
    vectors, stats = build_vectors(spark, chunks, dim=64)
    return hybrid_query(
        vectors, _HYBRID_QUERY_TEXT, alpha=0.5, top_k=20, top_n=10,
        stats=stats, dim=64,
    ).select(
        "id", "url", "site_id",
        F.round("score", 6).alias("score"),
        F.round("rerank_score", 6).alias("rerank_score"),
    )


def _q_chunk_documents(spark, sf_dir):
    """Deterministic heading-aligned chunking (X5) over markdown
    synthesized from the documents table: two headed sections per doc
    exercise the heading split AND the min-chunk merge rule; the DuckDB
    oracle restates both rules in closed form (rich fence/re-homing
    paths are pinned by tests/test_pipeline.py goldens).

    The section body is sanitized to a single nonempty line with no
    '#'/backtick/newline (collapse non-alnum runs, prefix 'x') so the
    closed form holds for ARBITRARY driver text — an un-sanitized doc
    containing heading/fence markers or leading '#' lines would chunk
    differently than the closed form predicts."""
    from doccrawler_spark.ops.dedup import _fan_out
    from doccrawler_spark.pipeline import CHUNKS_SCHEMA, _chunk_frames

    # markdown synthesis in Python workers (r9): the JVM
    # regexp_replace form ran in the single-file scan task (and
    # parallel JVM regex measured slower than one thread — the
    # exact_dedup pathology), while re.sub in fanned-out workers is a
    # C regex in separate processes.  Identical strings: the replace
    # leaves only ASCII alnum+space, so strip()==trim().  NULL text
    # gives NULL markdown, as the oracle's 'x' || NULL does.  The
    # synthesized frames feed chunk_pages' loop in the SAME Python
    # stage: one fan-out, no second exchange of the ~2x-body markdown.
    def _synth(batches):
        import re as _re

        pat = _re.compile(r"[^a-zA-Z0-9]+")
        for pdf in batches:
            body = ["x" + pat.sub(" ", t).strip()
                    if isinstance(t, str) else None for t in pdf["text"]]
            yield pdf.assign(text=[
                f"# Guide\n{b}\n## Usage\n{b}" if b is not None else None
                for b in body
            ])

    raw = _doc(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("source").alias("site_id"),
        F.col("source").alias("base_url"),
        "text",
    )
    return _fan_out(raw, "url").mapInPandas(
        lambda batches: _chunk_frames(_synth(batches)), CHUNKS_SCHEMA
    ).select(
        "url", "site_id", "chunk_ix", F.length("chunked_data").alias("chunk_chars"),
        "is_summary",
    ).orderBy("url", "chunk_ix")


def _q_crawl_errors(spark, sf_dir):
    """S8 error sink at the driver: crawl the tiny web (its fixture has
    dead links — every 7th page links to a missing /doc/missingN URL)
    and return every logged fetch miss; the oracle is a VALUES golden
    from the independent sequential oracle's miss list
    (tests/oracle.py; ref producer crawler_service.py:62-70, sink
    error_repository.py:14-21)."""
    from doccrawler_spark.crawl import CrawlConfig, crawl, errors_all
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = tempfile.mkdtemp(prefix="doccrawler_errors_")
    catalog = crawl(spark, web, seeds, root, CrawlConfig(max_depth=3))
    return errors_all(spark, catalog).orderBy("priority").select(
        "url", "host", "site_id", "depth", "round", "priority", "reason"
    )


def _q_streaming_seen(spark, sf_dir):
    """Structured-Streaming surface at the driver: crawl the tiny web,
    then tail its committed frontier snapshots as a FILE STREAM and run
    the watermarked exactly-once URL dedup
    (streaming.streaming_seen_dedup — dropDuplicatesWithinWatermark);
    the materialized stream output must equal the sequential oracle's
    seen-set insertions (VALUES golden: url, site_id, round added)."""
    from doccrawler_spark.crawl import CrawlConfig, crawl
    from doccrawler_spark.streaming import frontier_stream, streaming_seen_dedup
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = tempfile.mkdtemp(prefix="doccrawler_stream_")
    crawl(spark, web, seeds, root, CrawlConfig(max_depth=3))

    import re as _re

    name = "stream_seen_" + _re.sub(r"[^0-9a-zA-Z]", "", os.path.basename(root))
    q = (
        streaming_seen_dedup(frontier_stream(spark, root))
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        f"SELECT url, site_id, round FROM {name}"
    ).orderBy("url")


def _q_multimodal_features(spark, sf_dir):
    from doccrawler_spark.ops.multimodal import documents_as_media, extract_features

    media = documents_as_media(_doc(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "media_id", "kind", "n_bytes", "sha"
    ).orderBy("media_id")


def _q_multimodal_frames(spark, sf_dir):
    """Video frame-sampling plumbing: one row per sampled frame ts
    (explode-shaped output contract of a real frame sampler)."""
    from doccrawler_spark.ops.multimodal import documents_as_media, frame_sample

    media = documents_as_media(_doc(spark, sf_dir, "documents"))
    return frame_sample(media, every_ms=200).orderBy("media_id", "frame_ts_ms")


# relational operator checklist over the TPC-H-ish tables (SURVEY §2.6)


def _q_groupby_agg(spark, sf_dir):
    li = _doc(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_broadcast_join(spark, sf_dir):
    o = _doc(spark, sf_dir, "orders")
    c = _doc(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


def _q_anti_join(spark, sf_dir):
    o = _doc(spark, sf_dir, "orders")
    li = _doc(spark, sf_dir, "lineitem")
    # SHUFFLE_HASH (r9): the planner's BroadcastHashJoin builds and
    # ships a hash relation over EVERY lineitem key (6M at sf1.0, one
    # single-threaded ~48 MB build) to drop 17% of a 25 MB orders
    # table; partition-local hash builds measured 2.6x faster here and
    # are the scalable anti-join shape when the exclusion side is the
    # big one (guide §3.1).  Identical results — plan hint only.
    return (
        o.join(li.hint("SHUFFLE_HASH"), o.o_orderkey == li.l_orderkey,
               "left_anti")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def _q_topk_per_group(spark, sf_dir):
    from pyspark.sql import Window

    li = _doc(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("l_suppkey", "rnk", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_suppkey", "rnk")
    )


def _q_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = _doc(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_ix", sess)
        .groupBy("user_id", "session_ix")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("user_id", "session_ix")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crawl_tiny_e2e": _q_crawl_tiny,
        "crawl_bucketed_e2e": _q_crawl_bucketed,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh": _q_minhash_lsh,
        "minhash_verified": _q_minhash_verified,
        "simhash": _q_simhash,
        "embedding_neardup": _q_embedding_neardup,
        "cosine_topk": _q_cosine_topk,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "lsh_topk_indexed": _q_lsh_topk_indexed,
        "ivf_topk_indexed": _q_ivf_topk_indexed,
        "knn_join": _q_knn_join,
        "knn_join_indexed": _q_knn_join_indexed,
        "token_stats": _q_token_stats,
        "quality_scores": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "hybrid_topk": _q_hybrid_topk,
        "chunk_documents": _q_chunk_documents,
        "crawl_errors": _q_crawl_errors,
        "streaming_seen": _q_streaming_seen,
        "multimodal_features": _q_multimodal_features,
        "multimodal_frames": _q_multimodal_frames,
        "groupby_agg": _q_groupby_agg,
        "broadcast_join": _q_broadcast_join,
        "anti_join": _q_anti_join,
        "topk_per_group": _q_topk_per_group,
        "sessionize": _q_sessionize,
    }


# ------------------------------------------------------------ oracle SQL


_TINY_ORACLE_CACHE: list = []


def _run_tiny_oracle():
    """Run the SEQUENTIAL oracle (tests/oracle.py — an independent
    pure-Python reimplementation of the reference crawl semantics, no
    Spark) over the same deterministic tiny web ``entry()`` crawls;
    memoized (crawl_tiny_e2e + crawl_errors goldens share one run)."""
    if _TINY_ORACLE_CACHE:
        return _TINY_ORACLE_CACHE[0]
    import importlib.util
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "_seq_oracle", os.path.join(here, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolves cls.__module__
    spec.loader.exec_module(mod)

    from doccrawler_spark.webgen import gen_seeds, gen_web_pages, tiny_spec

    web_spec = tiny_spec()
    pages = {
        r["url"]: r["html"].decode("utf-8") for r in gen_web_pages(web_spec)
    }
    seeds = [s["seed_url"] for s in gen_seeds(web_spec)]
    res = mod.SequentialOracle(pages, mod.OracleConfig(max_depth=3)).run(seeds)
    _TINY_ORACLE_CACHE.append(res)
    return res


def _sqlq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _tiny_crawl_golden_sql() -> str:
    """VALUES-literal oracle for the flagship crawl (see
    _run_tiny_oracle)."""
    res = _run_tiny_oracle()
    q = _sqlq

    rows = ", ".join(
        f"({q(r['url'])}, {q(r['site_id'])}, {r['depth']}, {r['round']}, "
        f"{r['priority']}, {len(r['text'])})"
        for r in sorted(res.crawled, key=lambda r: r["priority"])
    )
    return f"""
        SELECT url, site_id, CAST(depth AS INTEGER) AS depth,
               CAST(round AS INTEGER) AS round,
               CAST(priority AS BIGINT) AS priority,
               CAST(text_len AS INTEGER) AS text_len
        FROM (VALUES {rows})
          AS t(url, site_id, depth, round, priority, text_len)
        ORDER BY priority
    """


def _tiny_seen_golden_sql() -> str:
    """VALUES-literal oracle for the streaming seen-dedup: the
    sequential oracle's seen-set insertions (url, site_id, round)."""
    res = _run_tiny_oracle()
    q = _sqlq
    rows = ", ".join(
        f"({q(r['url'])}, {q(r['site_id'])}, {r['round']})"
        for r in sorted(res.seen_rows, key=lambda r: r["url"])
    )
    return f"""
        SELECT url, site_id, CAST(round AS INTEGER) AS round
        FROM (VALUES {rows}) AS t(url, site_id, round)
        ORDER BY url
    """


def _tiny_errors_golden_sql() -> str:
    """VALUES-literal oracle for the S8 error sink: the sequential
    oracle's fetch-miss rows (same tiny-web run as the flagship)."""
    res = _run_tiny_oracle()
    q = _sqlq
    rows = ", ".join(
        f"({q(r['url'])}, {q(r['host'])}, {q(r['site_id'])}, {r['depth']}, "
        f"{r['round']}, {r['priority']}, 'fetch_miss')"
        for r in sorted(res.miss_rows, key=lambda r: r["priority"])
    )
    if not rows:
        rows = "(NULL, NULL, NULL, NULL, NULL, NULL, NULL)"
        empty_filter = "WHERE url IS NOT NULL"
    else:
        empty_filter = ""
    return f"""
        SELECT url, host, site_id, CAST(depth AS INTEGER) AS depth,
               CAST(round AS INTEGER) AS round,
               CAST(priority AS BIGINT) AS priority, reason
        FROM (VALUES {rows})
          AS t(url, host, site_id, depth, round, priority, reason)
        {empty_filter}
        ORDER BY priority
    """


def _hybrid_topk_sql() -> str:
    """DuckDB replay of the full hybrid retrieval pipeline: md5
    hashing-trick dense embedding (slot sums are INTEGERS → exact in
    any summation order; float32 storage rounding mirrored via CAST AS
    FLOAT), Okapi BM25 with corpus-fit idf/avgdl, alpha blend, top-20,
    lexical-overlap rerank, top-10."""
    from doccrawler_spark.kernels import embed as embed_k

    dim = 64
    dense_q = embed_k.dense_embed(_HYBRID_QUERY_TEXT, dim)
    q_lits = ", ".join("%.17e" % x for x in dense_q)
    q_tokens = sorted(set(embed_k.tokenize(_HYBRID_QUERY_TEXT)))
    qterm_rows = ", ".join(
        f"('{t}', {embed_k.term_id(t)})" for t in q_tokens
    )
    q_tok_list = "[" + ", ".join(f"'{t}'" for t in q_tokens) + "]"
    n_q = len(q_tokens)
    return f"""
        WITH docs AS (
          SELECT doc_id::VARCHAR AS url, source AS site_id, text FROM documents
        ), toks AS (
          SELECT url, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
          FROM docs
        ), dl AS (
          SELECT url, count(*) AS dl FROM toks GROUP BY url
        ), corpus AS (
          SELECT (SELECT count(*) FROM docs) AS n, (SELECT avg(dl) FROM dl) AS avgdl
        ),
        -- dense: md5 hashing-trick slots (integer ±1 sums), L2-normalized,
        -- stored as float32 exactly like the ARRAY<FLOAT> vectors table
        slots AS (
          SELECT url, ('0x' || substr(md5(tok), 1, 8))::BIGINT % {dim} AS slot,
                 sum(CASE WHEN ('0x' || substr(md5(tok), 9, 2))::BIGINT & 1 = 1
                     THEN 1.0 ELSE -1.0 END) AS v
          FROM toks GROUP BY url, slot
        ), grid AS (
          SELECT d.url, g.i FROM docs d,
                 (SELECT unnest(range(0, {dim})) AS i) g
        ), dv AS (
          SELECT g.url, g.i, coalesce(s.v, 0.0) AS v
          FROM grid g LEFT JOIN slots s ON s.url = g.url AND s.slot = g.i
        ), dnorm AS (
          SELECT url, sqrt(sum(v * v)) AS nrm FROM dv GROUP BY url
        ), dvec AS (
          SELECT dv.url,
                 list(CAST(CASE WHEN nrm > 0 THEN dv.v / nrm ELSE 0.0 END AS FLOAT)
                      ORDER BY dv.i) AS vec
          FROM dv JOIN dnorm ON dnorm.url = dv.url
          GROUP BY dv.url
        ), dense AS (
          SELECT url, list_dot_product([{q_lits}], vec::DOUBLE[]) AS dd FROM dvec
        ),
        -- sparse: Okapi BM25 (k1=1.2, b=0.75), query-side idf weights
        qterm AS (
          SELECT * FROM (VALUES {qterm_rows}) AS t(tok, tid)
        ), dfq AS (
          SELECT q.tid, count(DISTINCT t.url) AS df
          FROM qterm q LEFT JOIN toks t ON t.tok = q.tok GROUP BY q.tid
        ), wq AS (
          SELECT tid, CASE WHEN df = 0 THEN 0.0
                 ELSE ln(((SELECT n FROM corpus) - df + 0.5::DOUBLE)
                         / (df + 0.5::DOUBLE) + 1.0::DOUBLE) END AS w
          FROM dfq
        ), tfq AS (
          SELECT t.url, q.tid, count(*) AS tf
          FROM toks t JOIN qterm q ON q.tok = t.tok GROUP BY t.url, q.tid
        ), contrib AS (
          SELECT tfq.url, tfq.tid,
                 CAST(tfq.tf * (1.2::DOUBLE + 1.0::DOUBLE)
                      / (tfq.tf + 1.2::DOUBLE
                         * (1.0::DOUBLE - 0.75::DOUBLE
                            + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM corpus)))
                      AS FLOAT)::DOUBLE * wq.w AS x
          FROM tfq JOIN dl ON dl.url = tfq.url JOIN wq ON wq.tid = tfq.tid
        ), sparse AS (
          SELECT url, list_sum(list(x ORDER BY tid)) AS sd FROM contrib GROUP BY url
        ),
        scored AS (
          SELECT d.url, d.site_id,
                 sha256(d.site_id || chr(0) || d.url || chr(0) || '0'
                        || chr(0) || 'false') AS id,
                 0.5::DOUBLE * dense.dd
                   + 0.5::DOUBLE * coalesce(sparse.sd, 0.0) AS score,
                 len(list_intersect(list_distinct(string_split(
                       regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'), ' ')),
                     {q_tok_list})) / {n_q}.0::DOUBLE AS rr
          FROM docs d
          JOIN dense ON dense.url = d.url
          LEFT JOIN sparse ON sparse.url = d.url
        ), topk AS (
          SELECT * FROM scored ORDER BY score DESC, url ASC, id ASC LIMIT 20
        )
        SELECT id, url, site_id, round(score, 6) AS score,
               round(rr, 6) AS rerank_score
        FROM topk
        ORDER BY rr DESC, score DESC, url ASC, id ASC LIMIT 10
    """


_NORM = "trim(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')))"
# single-pass tokens — mirrors doccrawler_spark.functions.tokens_col
_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
    "t -> t <> '')"
)

_EN = "['the','and','of','to','in','is','that','with','for','on']"
_ES = "['el','la','de','que','y','los','en','un','por','con']"
_DE = "['der','die','und','das','ist','von','mit','ein','zu','den']"
_FR = "['le','la','et','les','des','est','dans','que','pour','une']"


def _stop_hits(stop_list: str) -> str:
    return (
        f"len(list_intersect(list_distinct({_TOKS}), {stop_list}))"
    )


# Integer shingle-key chain (mirrors ops/dedup.py _shingle_keys): one
# md5 per TOKEN → 31-bit base, shingle key = positional XOR of bases
# times odd constants (no shingle strings on either side).
_SKEY_CONSTS = (506952113, 1520856339, 387276917)
_BK = (
    f"list_transform({_TOKS}, "
    "t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647)"
)
_SKEYS = (
    "CASE WHEN len(bk) >= 3 THEN list_distinct(list_transform("
    "range(0, len(bk) - 2), "
    f"i -> xor(xor(bk[i+1] * {_SKEY_CONSTS[0]}, bk[i+2] * {_SKEY_CONSTS[1]}), "
    f"bk[i+3] * {_SKEY_CONSTS[2]}))) ELSE []::BIGINT[] END"
)
# per-doc CTE chain ending in sh(doc_id, skey) — shared by the ngram /
# minhash oracles
_SH_CTES = f"""
              bkt AS (
                SELECT doc_id, {_BK} AS bk FROM documents
              ), sh AS (
                SELECT doc_id, unnest({_SKEYS}) AS skey FROM bkt
              )
"""

# shared CTE chain: shingle keys → affine minhash sig → banded keys →
# candidate pairs (used by minhash_lsh + minhash_verified)
_MINHASH_CTES = f"""
            WITH {_SH_CTES}, based AS (
              SELECT doc_id, skey % 2147483647 AS b FROM sh
            ), sig AS (
              SELECT doc_id,
                     {", ".join(
                         f"min((b * {2 * i + 1} + {i * 2654435761})"
                         f" % 2147483647) AS h{i}" for i in range(16))}
              FROM based GROUP BY doc_id
            ), banded AS (
              SELECT doc_id,
                     [{", ".join(f"h{i}" for i in range(16))}] AS sig,
                     unnest([
                       {", ".join(
                           "{'band': %d, 'key': %s}" % (
                               b, " || '|' || ".join(
                                   f"h{b*4+r}::VARCHAR" for r in range(4)))
                           for b in range(4))}
                     ]) AS bk
              FROM sig
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.bk.band = b.bk.band AND a.bk.key = b.bk.key
               AND a.doc_id < b.doc_id
            )
"""


def oracle_sql() -> dict[str, str]:
    out = {
        "crawl_tiny_e2e": _tiny_crawl_golden_sql(),
        "crawl_errors": _tiny_errors_golden_sql(),
        "streaming_seen": _tiny_seen_golden_sql(),
        "hybrid_topk": _hybrid_topk_sql(),
        "ivf_topk": """
            WITH cents AS (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                       AS cid,
                     list_transform(embedding::DOUBLE[],
                       x -> x / (CASE WHEN sqrt(list_dot_product(
                                        embedding::DOUBLE[], embedding::DOUBLE[])) = 0
                                 THEN 1.0
                                 ELSE sqrt(list_dot_product(
                                        embedding::DOUBLE[], embedding::DOUBLE[]))
                                 END)) AS c
              FROM (SELECT * FROM embeddings
                    ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8)
            ), q AS (
              SELECT embedding::DOUBLE[] AS qv FROM embeddings
              ORDER BY vec_id LIMIT 1
            ), probes AS (
              SELECT cid FROM (
                SELECT cid, row_number() OVER (
                  ORDER BY list_dot_product(qv, c) DESC, cid ASC) AS rn
                FROM cents, q
              ) WHERE rn <= 2
            ), celled AS (
              SELECT vec_id, label, embedding, cid AS cell FROM (
                SELECT e.vec_id, e.label, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
                                  c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cents c
              ) WHERE rn = 1
            )
            SELECT vec_id, label,
                   round(list_dot_product(embedding::DOUBLE[], qv) /
                         (sqrt(list_dot_product(qv, qv)) *
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
            FROM celled JOIN probes ON cell = probes.cid, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "knn_join": """
            WITH q AS (
              SELECT vec_id AS q_id, embedding AS q_emb
              FROM embeddings ORDER BY vec_id LIMIT 5
            ), bands AS (
              SELECT unnest(range(0, 4)) AS band
            ), qb AS (
              SELECT q_id, q_emb, band,
                     list_aggregate(list_transform(range(0, 4),
                       i -> CASE WHEN q_emb[band*4 + i + 1] >= 0
                            THEN '1' ELSE '0' END),
                       'string_agg', '') AS key
              FROM q, bands
            ), cb AS (
              SELECT vec_id, embedding, band,
                     list_aggregate(list_transform(range(0, 4),
                       i -> CASE WHEN embedding[band*4 + i + 1] >= 0
                            THEN '1' ELSE '0' END),
                       'string_agg', '') AS key
              FROM embeddings, bands
            ), cand AS (
              -- OR across bands: a pair colliding in >=1 band, once
              SELECT DISTINCT q_id, vec_id, q_emb, embedding
              FROM qb JOIN cb USING (band, key)
            ), scored AS (
              SELECT q_id, vec_id,
                     round(list_dot_product(embedding::DOUBLE[], q_emb::DOUBLE[]) /
                           (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                            sqrt(list_dot_product(q_emb::DOUBLE[], q_emb::DOUBLE[]))), 6) AS cosine
              FROM cand
              -- a zero-norm side makes 0/0, NULL here: such a pair
              -- matches nothing and is never ranked, as in the engine
              WHERE cosine IS NOT NULL
            ), ranked AS (
              SELECT q_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, cosine
            FROM ranked WHERE rank <= 5 ORDER BY q_id, vec_id
        """,
        "chunk_documents": """
            WITH s AS (
              SELECT doc_id::VARCHAR AS url, source AS site_id,
                     'x' || trim(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g'))
                       AS body
              FROM documents
            ), t AS (
              SELECT url, site_id,
                     8 + length(body) AS n1, 9 + length(body) AS n2
              FROM s
            )
            SELECT url, site_id, CAST(0 AS INTEGER) AS chunk_ix,
                   CAST(CASE WHEN n2 < 200 THEN n1 + 2 + n2 ELSE n1 END
                        AS INTEGER) AS chunk_chars,
                   false AS is_summary
            FROM t
            UNION ALL
            SELECT url, site_id, CAST(1 AS INTEGER), CAST(n2 AS INTEGER), false
            FROM t WHERE n2 >= 200
            ORDER BY url, chunk_ix
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   substr(sha256(text), 1, 16) AS sha
            FROM documents ORDER BY media_id
        """,
        "multimodal_frames": """
            SELECT doc_id AS media_id,
                   CAST(unnest(range(0, octet_length(encode(text)) + 1, 200))
                        AS INTEGER) AS frame_ts_ms
            FROM documents WHERE doc_id % 3 = 2
            ORDER BY media_id, frame_ts_ms
        """,
        "exact_dedup": f"""
            SELECT md5({_NORM}) AS fingerprint,
                   min(doc_id) AS keeper_doc_id,
                   count(*) AS n_docs
            FROM documents GROUP BY 1 ORDER BY fingerprint
        """,
        "ngram_jaccard": f"""
            WITH {_SH_CTES}, sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), keep AS (
              -- the engine's max_df stop-shingle cap, replayed exactly:
              -- a shingle held by more than 2000 docs never joins
              SELECT skey FROM (
                SELECT skey, count(*) AS df FROM sh GROUP BY skey
              ) WHERE df <= 2000
            ), shk AS (
              SELECT sh.doc_id, sh.skey FROM sh JOIN keep USING (skey)
            ), common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM shk a JOIN shk b
                ON a.skey = b.skey AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.6
            ORDER BY doc_a, doc_b
        """,
        "minhash_lsh": _MINHASH_CTES + """
            SELECT doc_a, doc_b,
                   round(len(list_filter(list_zip(sig_a, sig_b),
                         z -> z[1] = z[2])) / 16.0, 6) AS est_jaccard
            FROM cand ORDER BY doc_a, doc_b
        """,
        "minhash_verified": _MINHASH_CTES + """
            , sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), common AS (
              SELECT p.doc_a, p.doc_b, count(*) AS n_common
              FROM (SELECT doc_a, doc_b FROM cand) p
              JOIN sh a ON a.doc_id = p.doc_a
              JOIN sh b ON b.doc_id = p.doc_b AND b.skey = a.skey
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6)
                     AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.6
            ORDER BY doc_a, doc_b
        """,
        "simhash": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
              WHERE true
            ), th AS (
              SELECT doc_id, tok,
                     CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT AS BIGINT) AS h
              FROM toks WHERE tok <> ''
            ), votes AS (
              SELECT doc_id, b.bit,
                     sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM th, (SELECT unnest(range(0, 32)) AS bit) b
              GROUP BY doc_id, b.bit
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id ORDER BY doc_id
        """,
        "embedding_neardup": """
            WITH banded AS (
              SELECT vec_id, embedding, bb.band,
                     list_aggregate(list_transform(
                       list_slice(embedding, bb.band*8 + 1, bb.band*8 + 8),
                       x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                       'string_agg', '') AS key
              FROM embeddings, (SELECT unnest(range(0, 4)) AS band) bb
            ), cand AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     a.embedding AS emb_a, b.embedding AS emb_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
            ), scored AS (
              SELECT vec_a, vec_b,
                     round(list_dot_product(emb_a::DOUBLE[], emb_b::DOUBLE[]) /
                           (sqrt(list_dot_product(emb_a::DOUBLE[], emb_a::DOUBLE[])) *
                            sqrt(list_dot_product(emb_b::DOUBLE[], emb_b::DOUBLE[]))), 6) AS cosine
              FROM cand
            )
            SELECT vec_a, vec_b, cosine FROM scored
            WHERE cosine >= 0.3 ORDER BY vec_a, vec_b
        """,
        "cosine_topk": """
            WITH q AS (
              SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id, label,
                   round(list_dot_product(embedding::DOUBLE[], qv) /
                         (sqrt(list_dot_product(qv, qv)) *
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "lsh_topk": """
            WITH q AS (
              SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id, label,
                   round(list_dot_product(embedding::DOUBLE[], qv) /
                         (sqrt(list_dot_product(qv, qv)) *
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
            FROM embeddings, q
            WHERE """ + " OR ".join(
            f"""list_aggregate(list_transform(list_slice(embedding, {t*8+1}, {t*8+8}),
                  x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '')
                = list_aggregate(list_transform(list_slice(qv, {t*8+1}, {t*8+8}),
                  x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '')"""
            for t in range(4)
        ) + """
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "token_stats": """
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                   length(text) AS n_chars_measured,
                   greatest(len(string_split_regex(trim(text), '\\s+')),
                            CAST(ceil(length(text) / 4.0) AS INT)) AS n_subwords_est
            FROM documents ORDER BY doc_id
        """,
        "quality_scores": f"""
            WITH t AS (
              SELECT doc_id, text,
                     len({_TOKS}) AS n_tok,
                     {_stop_hits(_EN)} AS stop_hits,
                     (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       * 1.0 / greatest(length(text), 1) AS punct,
                     least(length(text) / 500.0, 1.0) AS len_score
              FROM documents
            )
            SELECT doc_id,
                   round(len_score, 6) AS len_score,
                   round(stop_hits * 1.0 / greatest(n_tok, 1), 6) AS stop_ratio,
                   round(punct, 6) AS punct_ratio,
                   round(0.4 * len_score
                         + 0.4 * least(stop_hits * 5.0 / greatest(n_tok, 1), 1.0)
                         + 0.2 * (1.0 - least(punct * 4.0, 1.0)), 6) AS quality
            FROM t ORDER BY doc_id
        """,
        "lang_id": f"""
            WITH v AS (
              SELECT doc_id, lang AS lang_actual,
                     {_stop_hits(_EN)} AS en, {_stop_hits(_ES)} AS es,
                     {_stop_hits(_DE)} AS de, {_stop_hits(_FR)} AS fr
              FROM documents
            )
            SELECT doc_id, lang_actual,
                   CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                        WHEN en = greatest(en, es, de, fr) THEN 'en'
                        WHEN es = greatest(en, es, de, fr) THEN 'es'
                        WHEN de = greatest(en, es, de, fr) THEN 'de'
                        ELSE 'fr' END AS lang_pred
            FROM v ORDER BY doc_id
        """,
        "fingerprint": f"""
            SELECT doc_id, md5({_NORM}) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "groupby_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "broadcast_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "anti_join": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
            ORDER BY o_orderkey
        """,
        "topk_per_group": """
            SELECT l_suppkey, rnk, l_orderkey, l_linenumber, l_extendedprice
            FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                     row_number() OVER (PARTITION BY l_suppkey
                       ORDER BY l_extendedprice DESC, l_orderkey ASC,
                                l_linenumber ASC) AS rnk
              FROM lineitem
            ) WHERE rnk <= 3 ORDER BY l_suppkey, rnk
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          OR lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            ), s AS (
              SELECT user_id, value,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_ix
              FROM g
            )
            SELECT user_id, session_ix, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM s GROUP BY user_id, session_ix ORDER BY user_id, session_ix
        """,
    }
    # the write-time-indexed ANN paths return results IDENTICAL to the
    # per-query-scan operators at the same quantizer/params — one
    # oracle, two physical plans (full scan vs partition-pruned scan)
    out["ivf_topk_indexed"] = out["ivf_topk"]
    out["lsh_topk_indexed"] = out["lsh_topk"]
    out["knn_join_indexed"] = out["knn_join"]
    # the bucketed-seen-table crawl is result-identical to the
    # broadcast crawl — one golden, two physical seen-set plans
    out["crawl_bucketed_e2e"] = out["crawl_tiny_e2e"]
    return out
