"""Structured-Streaming metrics feed: tail the crawl's per-round
metrics snapshots and check the running aggregates match the batch
ground truth (SURVEY.md §2.5 O5 / S9 streaming surface)."""

from pyspark.sql import functions as F

from doccrawler_spark.crawl import CrawlConfig, crawl
from doccrawler_spark.streaming import run_metrics_query
from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

WEB_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def test_metrics_stream_matches_batch(spark, tmp_path):
    spec = tiny_spec()
    web = spark.createDataFrame(web_pages_pandas(spec), schema=WEB_SCHEMA)
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = str(tmp_path) + "/snap"
    catalog = crawl(spark, web, seeds, root, CrawlConfig(max_depth=3))

    q = run_metrics_query(spark, root, name="m_test")
    try:
        q.processAllAvailable()
        streamed = {
            r["round"]: (r["pages_fetched"], r["bytes_fetched"])
            for r in spark.sql("SELECT * FROM m_test").collect()
        }
    finally:
        q.stop()

    rounds = catalog.committed_rounds("metrics")
    assert rounds, "crawl produced no metrics snapshots"
    for r_ in rounds:
        batch = (
            catalog.read(spark, "metrics", r_)
            .agg(F.sum("pages_fetched"), F.sum("bytes_fetched"))
            .collect()[0]
        )
        assert streamed[r_] == (batch[0], batch[1]), f"round {r_}"


def test_stream_skips_uncommitted_torn_round(spark, tmp_path):
    """A crash can leave a junk partial round dir with NO manifest; the
    streaming source (commit-published stream dirs) must not consume
    it, while a raw frontier/r* glob would crash or read garbage.
    Also pins the r4 object-store contract: nothing under stream/ is a
    symlink (S3/GCS have no such primitive)."""
    import os
    from pathlib import Path

    from doccrawler_spark.crawl import seen_all
    from doccrawler_spark.streaming import frontier_stream, streaming_seen_dedup

    spec = tiny_spec()
    web = spark.createDataFrame(web_pages_pandas(spec), schema=WEB_SCHEMA)
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = str(tmp_path) + "/snap"
    catalog = crawl(spark, web, seeds, root, CrawlConfig(max_depth=3))

    # torn round: junk part-file in an UNCOMMITTED round dir
    torn = catalog.data_dir("frontier", 99)
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000-junk.snappy.parquet"), "wb") as f:
        f.write(b"\x00garbage that is not parquet")

    q = (streaming_seen_dedup(frontier_stream(spark, root))
         .writeStream.outputMode("append")
         .format("memory").queryName("seen_torn").start())
    try:
        q.processAllAvailable()
        streamed = {r["url"] for r in
                    spark.sql("SELECT url FROM seen_torn").collect()}
    finally:
        q.stop()
    batch_seen = {r["url"] for r in
                  seen_all(spark, catalog).select("url").collect()}
    assert streamed == batch_seen
    stream_root = os.path.join(root, "stream")
    links = [
        os.path.join(dp, n)
        for dp, dns, fns in os.walk(stream_root)
        for n in dns + fns
        if Path(dp, n).is_symlink()
    ]
    assert not links, f"object-store-unsafe symlinks in publish path: {links}"


def test_stream_publish_heals_interrupted_copy(spark, tmp_path):
    """A publish that crashed mid-copy leaves a round dir missing some
    files; stream_dir() must complete it idempotently and the stream
    must still see every committed row exactly once."""
    import os

    from doccrawler_spark.crawl import seen_all
    from doccrawler_spark.streaming import frontier_stream, streaming_seen_dedup

    spec = tiny_spec()
    web = spark.createDataFrame(web_pages_pandas(spec), schema=WEB_SCHEMA)
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = str(tmp_path) + "/snap"
    catalog = crawl(spark, web, seeds, root, CrawlConfig(max_depth=3))

    rounds = catalog.committed_rounds("frontier")
    assert rounds
    # simulate the torn publish: delete one published file + one whole
    # published round dir (as if the process died before copying them)
    r0 = rounds[0]
    pub = os.path.join(root, "stream", "frontier", f"r{r0:05d}")
    victims = [n for n in os.listdir(pub) if n.endswith(".parquet")]
    os.remove(os.path.join(pub, victims[0]))
    if len(rounds) > 1:
        import shutil

        shutil.rmtree(os.path.join(root, "stream", "frontier",
                                   f"r{rounds[-1]:05d}"))

    q = (streaming_seen_dedup(frontier_stream(spark, root))
         .writeStream.outputMode("append")
         .format("memory").queryName("seen_healed").start())
    try:
        q.processAllAvailable()
        streamed = {r["url"] for r in
                    spark.sql("SELECT url FROM seen_healed").collect()}
    finally:
        q.stop()
    batch_seen = {r["url"] for r in
                  seen_all(spark, catalog).select("url").collect()}
    assert streamed == batch_seen


def test_streaming_seen_dedup_and_site_progress(spark, tmp_path):
    """Streaming F8 analogue + stateful per-site progress: both match
    the batch ground truth computed from the same snapshots."""
    from doccrawler_spark.crawl import seen_all
    from doccrawler_spark.streaming import (
        frontier_stream,
        site_progress_stream,
        streaming_seen_dedup,
    )

    spec = tiny_spec()
    web = spark.createDataFrame(web_pages_pandas(spec), schema=WEB_SCHEMA)
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = str(tmp_path) + "/snap"
    catalog = crawl(spark, web, seeds, root, CrawlConfig(max_depth=3))

    fr = frontier_stream(spark, root)

    q = (streaming_seen_dedup(fr).writeStream.outputMode("append")
         .format("memory").queryName("seen_stream").start())
    try:
        q.processAllAvailable()
        streamed = {r["url"] for r in
                    spark.sql("SELECT url FROM seen_stream").collect()}
    finally:
        q.stop()
    batch_seen = {r["url"] for r in
                  seen_all(spark, catalog).select("url").collect()}
    assert streamed == batch_seen

    q2 = (site_progress_stream(frontier_stream(spark, root))
          .writeStream.outputMode("update")
          .format("memory").queryName("site_progress").start())
    try:
        q2.processAllAvailable()
        rows = spark.sql(
            "SELECT site_id, max_by(urls_discovered, urls_discovered) AS n "
            "FROM site_progress GROUP BY site_id"
        ).collect()
    finally:
        q2.stop()
    # a pure-sitemap site discovers no seen-delta urls — batch ground
    # truth has no row for it, streaming state reports an explicit 0
    got = {r["site_id"]: r["n"] for r in rows if r["n"] > 0}
    want = {
        r["site_id"]: r["n"]
        for r in seen_all(spark, catalog).groupBy("site_id")
        .agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_stream_exactly_once_across_compaction(spark, tmp_path):
    """Rewriting committed rounds (compact) must be INVISIBLE to a live
    file stream: the sealed stream entries keep their first-published
    paths, so a running query sees zero new files — no re-delivered
    rows, no unlinked-mid-read crash (r8 code-review finding)."""
    import os

    from doccrawler_spark.snapshots import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    catalog.write(spark.range(0, 100).repartition(4), "t", 1)
    catalog.write(spark.range(100, 250).repartition(4), "t", 2)
    sdir = catalog.stream_dir("t")

    q = (spark.readStream.schema("id long")
         .option("pathGlobFilter", "*.parquet").parquet(f"{sdir}/r*")
         .writeStream.outputMode("append")
         .format("memory").queryName("t_compact").start())
    try:
        q.processAllAvailable()
        before = sorted(r["id"] for r in
                        spark.sql("SELECT id FROM t_compact").collect())
        assert before == list(range(0, 250))

        stats = catalog.compact(spark, "t")
        assert set(stats) == {1, 2}          # both rounds rewritten
        catalog.stream_dir("t")              # publish path re-walked

        q.processAllAvailable()  # must not crash, must deliver nothing
        after = sorted(r["id"] for r in
                       spark.sql("SELECT id FROM t_compact").collect())
    finally:
        q.stop()
    assert after == before

    # sealed entries keep the pre-compaction 4-file sets, rows intact
    e1 = os.path.join(sdir, "r00001")
    names = [n for n in os.listdir(e1) if n.endswith(".parquet")]
    assert len(names) == 4
    assert os.path.exists(os.path.join(e1, "_published.json"))
    raw = {n for n in os.listdir(catalog.data_path("t", 1))
           if n.endswith(".parquet")}
    assert raw.isdisjoint(names)
    got = sorted(r["id"] for r in spark.read.parquet(e1).collect())
    assert got == list(range(0, 100))
