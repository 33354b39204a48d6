"""End-to-end equivalence: Spark engine vs sequential oracle on the
tiny synthetic web (SURVEY.md §5.2 item 3).

Asserts (a) final URL-seen set equality, (b) crawl ordering at
(depth, priority) granularity, (c) byte-identical extracted text per
url (== the golden web_pages.text), (d) identical per-site budget
consumption, (e) resume-from-checkpoint reproduces identical state,
(f) politeness deferral (quota per host per round) matches.
"""

import os

import pytest

from doccrawler_spark.crawl import CrawlConfig, crawl, crawled_all, seen_all
from doccrawler_spark.webgen import (
    SiteSpec,
    WebSpec,
    gen_seeds,
    tiny_spec,
    web_pages_pandas,
)
from tests.oracle import OracleConfig, SequentialOracle

WEB_PAGES_SPARK_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _load(spark, spec):
    pdf = web_pages_pandas(spec)
    web = spark.createDataFrame(pdf, schema=WEB_PAGES_SPARK_SCHEMA)
    pages_by_url = {
        r["url"]: bytes(r["html"]).decode("utf-8") for _, r in pdf.iterrows()
    }
    golden_text = {r["url"]: r["text"] for _, r in pdf.iterrows()}
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    return web, pages_by_url, golden_text, seeds


def _run_both(spark, tmp_path, spec, *, max_depth, politeness, round_seconds=60.0,
              budget=50, resume_after=None, **engine_cfg):
    """The oracle and the engine over the same web; ``engine_cfg`` sets
    engine-only CrawlConfig fields (physical gates, never semantics)."""
    web, pages, golden, seeds = _load(spark, spec)
    ocfg = OracleConfig(max_depth=max_depth, budget_per_site=budget,
                        politeness=politeness, round_seconds=round_seconds)
    oracle = SequentialOracle(pages, ocfg).run(seeds)

    ecfg = CrawlConfig(max_depth=max_depth, budget_per_site=budget,
                       politeness=politeness, round_seconds=round_seconds,
                       **engine_cfg)
    root = os.path.join(str(tmp_path), "snap")
    if resume_after is not None:
        # run only N rounds, then resume to completion from the snapshot
        partial = CrawlConfig(**{**ecfg.__dict__, "max_rounds": resume_after})
        crawl(spark, web, seeds, root, partial)
        catalog = crawl(spark, web, seeds, root, ecfg, resume=True)
    else:
        catalog = crawl(spark, web, seeds, root, ecfg)
    return oracle, catalog, web, golden


def _assert_equivalent(spark, oracle, catalog, golden):
    eng = crawled_all(spark, catalog).orderBy("priority").collect()
    assert len(eng) == len(oracle.crawled), (
        f"engine crawled {len(eng)} pages, oracle {len(oracle.crawled)}"
    )
    o_sorted = sorted(oracle.crawled, key=lambda r: r["priority"])
    for e, o in zip(eng, o_sorted):
        assert e["url"] == o["url"], (e["url"], o["url"])
        assert e["site_id"] == o["site_id"]
        assert e["depth"] == o["depth"]
        assert e["round"] == o["round"]
        assert e["priority"] == o["priority"]
        # byte-identical text vs oracle AND vs the golden column
        assert e["text"] == o["text"], f"text mismatch for {e['url']}"
        assert e["text"] == golden[e["url"]], f"golden mismatch for {e['url']}"

    eng_seen = {r["url"] for r in seen_all(spark, catalog).select("url").collect()}
    assert eng_seen == oracle.seen

    eng_budget = {
        r["site_id"]: r["used"]
        for r in catalog.read(spark, "budget").collect()
    }
    assert eng_budget == oracle.budget


def test_tiny_bfs_and_sitemap(spark, tmp_path):
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=3, politeness=True
    )
    # sanity: both modes produced pages; sitemap site fetched but never expanded
    assert any(r["site_id"].startswith("docsalphatest") for r in oracle.crawled)
    assert any(r["site_id"].startswith("docsbetatest") for r in oracle.crawled)
    _assert_equivalent(spark, oracle, catalog, golden)


@pytest.mark.parametrize("engine_cfg", [
    {},
    # every round takes the streamed-join fetch instead of the IN-list
    # point lookup that tiny frontiers get by default
    {"point_lookup_max_frontier": 0},
], ids=["default", "streamed_fetch"])
def test_deeper_crawl_multi_round(spark, tmp_path, engine_cfg):
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=4, politeness=True,
        **engine_cfg,
    )
    assert oracle.rounds >= 3
    _assert_equivalent(spark, oracle, catalog, golden)


def test_budget_clamp(spark, tmp_path):
    # budget of 2 filter batches per site → expansion stops early
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=4, politeness=True, budget=2
    )
    assert max(oracle.budget.values()) == 2
    _assert_equivalent(spark, oracle, catalog, golden)


def test_politeness_deferral(spark, tmp_path):
    # a crawl-delayed host gets quota round_seconds/delay = 3 per round
    spec = WebSpec(sites=(
        SiteSpec("docs.slow.test", 40, branching=4, crawl_delay=20.0,
                 disallow=("/private/",)),
    ))
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, spec, max_depth=4, politeness=True, round_seconds=60.0
    )
    # quota must have forced deferral across extra rounds
    assert oracle.rounds > 3
    _assert_equivalent(spark, oracle, catalog, golden)


def test_politeness_off_matches_pure_reference_semantics(spark, tmp_path):
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=3, politeness=False
    )
    _assert_equivalent(spark, oracle, catalog, golden)


def test_resume_from_checkpoint(spark, tmp_path):
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=4, politeness=True,
        resume_after=1,
    )
    _assert_equivalent(spark, oracle, catalog, golden)


def test_dataframe_seeds_distributed_probe_path(spark, tmp_path):
    """A seed TABLE (cluster-scale: 10^6+ seeds never on the driver)
    must crawl identically to the same seeds as a python list; forcing
    seed_collect_max=0 exercises the distributed semi-join probe path
    plus the seed_probes snapshot."""
    spec = tiny_spec()
    web, pages, golden, seeds = _load(spark, spec)
    oracle = SequentialOracle(pages, OracleConfig(max_depth=3)).run(seeds)

    seeds_df = spark.createDataFrame(
        [(u, i) for i, u in enumerate(seeds)], "seed_url string, seed_ix int"
    )
    cfg = CrawlConfig(max_depth=3, seed_collect_max=0)
    root = os.path.join(str(tmp_path), "snap")
    catalog = crawl(spark, web, seeds_df, root, cfg)
    assert catalog.exists("seed_probes", 0)
    _assert_equivalent(spark, oracle, catalog, golden)


def test_resume_invisible_partial_round(spark, tmp_path):
    """Atomic-manifest contract: a crash mid-round leaves data files
    without a manifest — resume must neither read them (dedup/fetch
    source) nor trip over them (overwrite on retry), and the final
    crawl must still equal the oracle byte-for-byte."""
    spec = tiny_spec()
    web, pages, golden, seeds = _load(spark, spec)
    oracle = SequentialOracle(pages, OracleConfig(max_depth=4)).run(seeds)

    root = os.path.join(str(tmp_path), "snap")
    ecfg = CrawlConfig(max_depth=4)
    partial = CrawlConfig(**{**ecfg.__dict__, "max_rounds": 1})
    crawl(spark, web, seeds, root, partial)

    # simulate the crash: uncommitted data dirs + a torn tmp manifest
    for t in ("crawled", "frontier", "errors", "metrics"):
        d = os.path.join(root, t, "r00002")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-junk.parquet"), "wb") as f:
            f.write(b"not a parquet file")
    with open(os.path.join(root, "frontier",
                           "_r00002.manifest.json.tmp.999"), "w") as f:
        f.write("{")

    catalog = crawl(spark, web, seeds, root, ecfg, resume=True)
    _assert_equivalent(spark, oracle, catalog, golden)


@pytest.mark.parametrize("commit", [
    os.path.join("metrics", "_r00002.manifest.json"),
    os.path.join("frontier", "_r00002.manifest.json"),
    os.path.join("errors", "_r00002.manifest.json"),
    os.path.join("_crawl_state", "r00002.json"),
], ids=["metrics", "frontier", "errors", "state"])
def test_crash_at_round_commit_resumes_to_oracle(spark, tmp_path, monkeypatch,
                                                 commit):
    """A crash at one of round 2's commits: the ``metrics``,
    ``frontier`` or ``errors`` manifest replace (the table's new
    directory is left unreferenced and the catalog reclaims it; round 2
    is a point-lookup round, so ``metrics`` and ``errors`` crash at an
    Arrow commit), or the driver-state write after every snapshot is
    committed (nothing is stranded, and the re-run round must derive
    the same ``next_priority`` from its rewritten frontier).  A resume
    gives the same seen set, crawl order, text and budget as a run
    with no crash."""
    from doccrawler_spark import snapshots

    spec = tiny_spec()
    web, pages, golden, seeds = _load(spark, spec)
    oracle = SequentialOracle(pages, OracleConfig(max_depth=4)).run(seeds)

    root = os.path.join(str(tmp_path), "snap")
    ecfg = CrawlConfig(max_depth=4)
    real = snapshots._write_json
    fired = []

    def crash(path, obj):
        if not fired and path.endswith(commit):
            fired.append(path)
            raise OSError(f"injected crash at {commit}")
        real(path, obj)

    monkeypatch.setattr(snapshots, "_write_json", crash)
    with pytest.raises(OSError):
        crawl(spark, web, seeds, root, ecfg)
    monkeypatch.setattr(snapshots, "_write_json", real)
    assert fired

    catalog = snapshots.SnapshotCatalog(root)
    assert catalog.latest_state()[0] == 1
    table = commit.split(os.sep)[0]
    if table == "_crawl_state":
        assert all(catalog.exists(t, 2) for t in ("crawled", "frontier", "errors"))
        assert catalog.vacuum_superseded(grace_s=0) == 0
    else:
        assert not catalog.exists(table, 2)
        tdir = os.path.join(root, table)
        stranded = [os.path.join(tdir, n) for n in os.listdir(tdir)
                    if n.startswith("r00002")]
        assert len(stranded) == 1
        assert catalog.vacuum_superseded(grace_s=0) == 1
        assert not os.path.exists(stranded[0])

    catalog = crawl(spark, web, seeds, root, ecfg, resume=True)
    _assert_equivalent(spark, oracle, catalog, golden)


def test_seed_probe_kernel(spark, tmp_path):
    """The fused seed-probe UDF on each probe outcome: a sitemap.xml
    with <loc> entries wins over sitemap_index.xml; an empty
    sitemap.xml falls through to sitemap_index.xml; no sitemap crawls
    the seed BFS (pre-seen); a missing seed page takes the netloc site
    id.  Budget rows come from the same probe results."""
    def page(title):
        return f"<html><head><title>{title}</title></head><body></body></html>"

    def sitemap(*locs):
        return "<urlset>" + "".join(f"<url><loc>{u}</loc></url>" for u in locs) + "</urlset>"

    rows = {
        "https://a.test/": page("Alpha Docs!"),
        "https://a.test/sitemap.xml": sitemap("https://a.test/x", "https://a.test/y"),
        "https://a.test/sitemap_index.xml": sitemap("https://a.test/never"),
        "https://b.test/": page("Beta"),
        "https://b.test/sitemap.xml": sitemap(),
        "https://b.test/sitemap_index.xml": sitemap("https://b.test/z"),
        "https://c.test/": page("Gamma Site"),
        # d.test serves no page at all
    }
    web = spark.createDataFrame(
        [(u, h.encode()) for u, h in rows.items()], "url string, html binary")
    seeds = ["https://a.test/", "https://b.test/", "https://c.test/", "https://d.test/"]
    root = os.path.join(str(tmp_path), "snap")
    catalog = crawl(spark, web, seeds, root, CrawlConfig(max_rounds=0))

    got = [
        (r["url"], r["site_id"], r["home_url"], r["sitemap_mode"], r["is_new"])
        for r in catalog.read(spark, "frontier", 0).orderBy("priority").collect()
    ]
    assert got == [
        ("https://a.test/x", "Alpha_Docs", "https://a.test/", True, False),
        ("https://a.test/y", "Alpha_Docs", "https://a.test/", True, False),
        ("https://b.test/z", "Beta", "https://b.test/", True, False),
        ("https://c.test/", "Gamma_Site", "https://c.test/", False, True),
        ("https://d.test/", "d_test", "https://d.test/", False, True),
    ]
    budget = {r["site_id"]: (r["used"], r["max"])
              for r in catalog.read(spark, "budget", 0).collect()}
    assert budget == {s: (0, 50) for s in
                      ("Alpha_Docs", "Beta", "Gamma_Site", "d_test")}
    # an unlimited budget past 2**31 (the throughput mode) fits too
    catalog = crawl(spark, web, seeds, os.path.join(str(tmp_path), "unlimited"),
                    CrawlConfig(max_rounds=0, budget_per_site=2**31))
    assert {r["max"] for r in catalog.read(spark, "budget", 0).collect()} == {2**31}


def test_sitemap_index_fallthrough(spark, tmp_path):
    """An existing-but-empty /sitemap.xml must fall through to
    /sitemap_index.xml (helper.py:219-225 breaks only when urls were
    FOUND, not when the file merely exists)."""
    spec = WebSpec(sites=(
        SiteSpec("docs.idx.test", 30, sitemap_size=10,
                 sitemap_index_fallthrough=True),
        SiteSpec("docs.plain.test", 10, branching=2),
    ))
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, spec, max_depth=3, politeness=True
    )
    # the fallthrough site crawled in sitemap mode: exactly its 10 locs,
    # all at depth 1, never expanded
    idx_rows = [r for r in oracle.crawled if "docs.idx.test" in r["url"]]
    assert len(idx_rows) == 10
    assert all(r["depth"] == 1 for r in idx_rows)
    _assert_equivalent(spark, oracle, catalog, golden)


@pytest.mark.parametrize("engine_cfg", [
    {},
    # streamed rounds take the snapshot anti-join sink, point-lookup
    # rounds the driver-held one
    {"point_lookup_max_frontier": 0},
], ids=["default", "streamed_fetch"])
def test_error_sink_records_fetch_misses(spark, tmp_path, engine_cfg):
    """S8: every dead link (fixture seeds one every 7th page) lands in
    the errors table with reason=fetch_miss — exactly the urls the
    oracle records as misses (ref error_repository.py:14-21)."""
    from doccrawler_spark.crawl import errors_all

    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=3, politeness=True,
        **engine_cfg,
    )
    errs = errors_all(spark, catalog).collect()
    assert len(errs) > 0, "fixture has dead links; errors table is empty"
    assert all(r["reason"] == "fetch_miss" for r in errs)
    assert {r["url"] for r in errs} == set(oracle.misses)
    _assert_equivalent(spark, oracle, catalog, golden)


@pytest.mark.parametrize("engine_cfg", [
    {},
    {"point_lookup_max_frontier": 0},
], ids=["default", "streamed_fetch"])
def test_fetch_metrics_match_crawled(spark, tmp_path, engine_cfg):
    """Each round's metrics — one row per crawled part file — sum to
    the round's crawled pages and to the html bytes of those pages in
    ``web_pages``, on both fetch paths."""
    from pyspark.sql import functions as F

    oracle, catalog, web, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=4, politeness=True,
        **engine_cfg,
    )
    html_len = {r["url"]: r["n"]
                for r in web.select("url", F.length("html").alias("n")).collect()}
    rounds = catalog.committed_rounds("crawled")
    assert catalog.committed_rounds("metrics") == rounds and len(rounds) >= 3
    total = 0
    for r in rounds:
        urls = [x["url"] for x in catalog.read(spark, "crawled", r).collect()]
        m = catalog.read(spark, "metrics", r).collect()
        assert sum(x["pages_fetched"] for x in m) == len(urls), r
        assert sum(x["bytes_fetched"] or 0 for x in m) == sum(html_len[u] for u in urls), r
        assert {x["round"] for x in m} <= {r}
        assert sorted(x["partition_id"] for x in m) == list(range(len(m)))
        total += len(urls)
    assert total == len(oracle.crawled)


def test_bucketed_seen_table_e2e(spark, tmp_path):
    """Cluster-scale F8 wired end-to-end: force the bucketed-seen-TABLE
    branch every round (broadcast cutoff 0) and assert (a) full crawl
    equivalence with the sequential oracle, (b) per-round appends were
    healed and manifest-committed, (c) a torn (un-manifested) append
    file is vacuumed, (d) the anti-join plan reads the seen table
    bucket-in-place — Bucketed: true, zero Exchange above its scan."""
    spec = tiny_spec()
    web, pages, golden, seeds = _load(spark, spec)
    oracle = SequentialOracle(pages, OracleConfig(max_depth=4)).run(seeds)
    cfg = CrawlConfig(max_depth=4, broadcast_dedup_max_frontier=0,
                      seen_buckets=8)
    root = os.path.join(str(tmp_path), "snap")
    catalog = crawl(spark, web, seeds, root, cfg)
    _assert_equivalent(spark, oracle, catalog, golden)

    # each append writes one file per bucket at most, not one per
    # bucket per write task
    import json

    for r in catalog.seen_appended_rounds():
        with open(catalog._seen_append_manifest(r)) as f:
            assert len(json.load(f)["files"]) <= cfg.seen_buckets, r

    # appends healed through the second-to-last frontier round
    frontier_rounds = catalog.committed_rounds("frontier")
    assert set(catalog.seen_appended_rounds()) >= set(frontier_rounds[:-1])
    tbl_urls = {r["url"] for r in catalog.seen_table(spark, 8).collect()}
    assert tbl_urls <= oracle.seen and tbl_urls

    # torn append: junk data file without a manifest entry → vacuumed
    junk_name = "part-99999-torn_00000.c000.snappy.parquet"
    with open(os.path.join(catalog._seen_dir(), junk_name), "wb") as f:
        f.write(b"not parquet")
    assert junk_name in catalog.seen_vacuum(spark, 8)

    # plan property (same assertion show_plans makes, here against the
    # crawl's OWN table): seen side scans Bucketed: true, and the only
    # Exchange in the join is on the candidate side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.createDataFrame([("x",)], "url string")
        j = probe.join(catalog.seen_table(spark, 8), "url", "left_anti")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        seen_scan_part = plan[plan.index("FileScan"):]
        assert "Exchange" not in seen_scan_part
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_seen_append_one_file_per_bucket(spark, tmp_path):
    """A multi-task append to the bucketed seen table writes at most
    one file per bucket, and every url lands in its Murmur3 bucket."""
    import json

    from pyspark.sql import functions as F

    from doccrawler_spark.snapshots import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    urls = spark.range(0, 4000).select(
        F.concat(F.lit("https://h.test/p"), F.col("id").cast("string")).alias("url")
    ).repartition(8)
    catalog.seen_append(spark, urls, 0, 4)
    with open(catalog._seen_append_manifest(0)) as f:
        files = json.load(f)["files"]
    assert 0 < len(files) <= 4
    tbl = catalog.seen_table(spark, 4)
    assert tbl.count() == 4000
    # the scan's bucket id (from the file name) is the hash bucket
    bad = tbl.select(
        "url",
        F.input_file_name().alias("f"),
    ).select(
        F.regexp_extract("f", r"_(\d{5})\.c\d+", 1).cast("int").alias("b"),
        F.expr("pmod(hash(url), 4)").alias("want"),
    ).filter("b IS NULL OR b != want").count()
    assert bad == 0


def test_snapshot_read_launches_no_job(spark, tmp_path):
    """A committed snapshot's manifest carries its schema, so reading
    it launches no Spark job (no footer-inference job per read)."""
    import uuid

    from pyspark.sql import functions as F

    from doccrawler_spark.snapshots import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    df = spark.range(0, 100).select(
        "id", F.col("id").cast("string").alias("s")).repartition(3)
    catalog.write(df, "t", 0)

    sc = spark.sparkContext
    group = f"snapshot-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "snapshot read")
    try:
        read = catalog.read(spark, "t", 0)
        upto = catalog.read_upto(spark, "t", 5)
        fields = [(f.name, f.dataType.simpleString()) for f in read.schema]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert fields == [("id", "bigint"), ("s", "string")]
    assert sorted(r["id"] for r in read.collect()) == list(range(100))
    assert upto.count() == 100


def test_arrow_commit_contract(spark, tmp_path):
    """A ``pyarrow.Table`` commits like a DataFrame: one part file in a
    fresh directory, the same manifest schema Spark records for the
    same rows, a read (and the commit itself) that launches no job,
    footer ``count``/``stats`` that agree with Spark, a sealed stream
    entry, and the same compaction and supersede-then-reclaim life.
    ``read_arrow`` returns the rows typed as Spark reads them."""
    import json
    import uuid

    import pyarrow.compute as pc
    from pyspark.sql import functions as F
    from pyspark.sql.types import DataType, StructType

    from doccrawler_spark.shuffle import arrow_table
    from doccrawler_spark.snapshots import SnapshotCatalog

    ddl = "id long, n int, flag boolean, score double, tags array<string>, s string"
    rows = [
        (2**40, None, True, 0.5, ["a", None], "x"),
        (-1, 7, False, None, [], None),
        (3, 2**31 - 1, None, 1e300, None, "y"),
    ]
    table = arrow_table(rows, ddl)
    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    catalog.write(spark.createDataFrame(rows, ddl), "by_spark", 0)

    sc = spark.sparkContext
    group = f"arrow-commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "arrow commit")
    try:
        catalog.write(table, "t", 0)
        read = catalog.read(spark, "t", 0)
        schema = read.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    files = catalog.files("t", 0)
    assert len(files) == 1 and os.path.basename(files[0]).startswith("part-")
    assert catalog.data_path("t", 0).startswith(catalog.data_dir("t", 0) + ".")

    def manifest_schema(t):
        return StructType.fromJson(json.loads(catalog.manifest(t, 0)["schema"]))

    def by_id(df):
        return sorted(df.collect(), key=lambda r: r["id"])

    assert manifest_schema("t") == manifest_schema("by_spark") == DataType.fromDDL(ddl)
    assert schema == DataType.fromDDL(ddl)
    assert by_id(read) == by_id(catalog.read(spark, "by_spark", 0))
    assert by_id(read)[2]["id"] == 2**40 and by_id(read)[2]["n"] is None

    assert catalog.count("t", 0) == 3
    for col in ("id", "n", "flag", "score", "s"):
        want = read.agg(F.count("*"), F.count(col), F.min(col), F.max(col)).first()
        assert catalog.stats("t", 0, col) == tuple(want), col

    assert catalog.read_arrow("t", 0).equals(table)
    assert catalog.read_arrow("by_spark", 0).sort_by("id").equals(table.sort_by("id"))
    hit = catalog.read_arrow("by_spark", 0, ["id"], filter=pc.field("id") > 0)
    assert sorted(hit["id"].to_pylist()) == [3, 2**40]

    sd = os.path.join(catalog.stream_dir("t"), "r00000")
    assert {n for n in os.listdir(sd) if n.endswith(".parquet")} == {
        os.path.basename(files[0])}
    assert by_id(spark.read.parquet(sd)) == by_id(read)
    # one file, like a one-file Spark snapshot: compaction leaves it
    assert catalog.compact(spark, "t") == {}
    first = catalog.data_path("t", 0)
    catalog.write(table.slice(0, 1), "t", 0)
    assert os.path.isdir(first) and catalog.count("t", 0) == 1
    assert catalog.vacuum_superseded(grace_s=0) == 1
    assert not os.path.exists(first)
    assert [r["id"] for r in catalog.read(spark, "t", 0).collect()] == [2**40]


def test_terminal_point_lookup_commits_launch_no_job(spark, tmp_path, monkeypatch):
    """A terminal point-lookup round holds its metrics, errors and
    frontier rows on the driver: those three commits launch no Spark
    job, while its crawled write (fetch + extract) still does."""
    import uuid

    from doccrawler_spark.snapshots import SnapshotCatalog

    sc = spark.sparkContext
    groups: dict = {}
    real = SnapshotCatalog.write

    def write(self, data, table, round_, *a, **k):
        g = groups.setdefault((table, round_), f"commit-{uuid.uuid4().hex}")
        sc.setJobGroup(g, f"commit {table} r{round_}")
        try:
            return real(self, data, table, round_, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(SnapshotCatalog, "write", write)
    # quota 60/20 = 3 pages a round: rounds 2.. fetch the depth-2
    # children, none of which can expand
    spec = WebSpec(sites=(
        SiteSpec("docs.slow.test", 40, branching=8, crawl_delay=20.0),
    ))
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, spec, max_depth=3, politeness=True, round_seconds=60.0,
    )
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def jobs(table, r):
        return list(sc.statusTracker().getJobIdsForGroup(groups[(table, r)]))

    terminal = catalog.committed_rounds("crawled")[1:]
    assert len(terminal) >= 3
    for r in terminal:
        assert catalog.stats("frontier", r - 1, "depth").min + 1 >= 3
        for table in ("metrics", "errors", "frontier"):
            assert jobs(table, r) == [], (table, r)
        assert jobs("crawled", r), r
    _assert_equivalent(spark, oracle, catalog, golden)


def test_count_nonnull_matches_spark_count(spark, tmp_path):
    """``stats`` row and non-NULL counts (footer null counts) equal
    Spark's count(*) and count(col) on columns whose nulls spread over
    several files -- including one that sits after a nested column,
    whose leaf index differs from its field index.  An absent column
    counts no value."""
    from pyspark.sql import functions as F

    from doccrawler_spark.snapshots import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    df = spark.range(0, 2000).select(
        "id",
        F.when(F.col("id") % 5 == 0, F.struct(F.col("id").alias("a"),
                                              F.col("id").alias("b"))).alias("nested"),
        F.when((F.col("id") % 3 == 0) | (F.col("id") < 300), None)
        .otherwise(F.col("id") * 0.5).alias("v"),
    ).repartition(4, "id")
    catalog.write(df, "t", 0)
    files = [n for n in os.listdir(catalog.data_path("t", 0)) if n.endswith(".parquet")]
    assert len(files) >= 2
    snap = catalog.read(spark, "t", 0)
    for col in ("id", "v"):
        want = snap.agg(F.count("*"), F.count(col), F.min(col), F.max(col)).first()
        assert catalog.stats("t", 0, col) == tuple(want), col
    want = df.select(F.count("v"), F.count("id")).first()
    assert 0 < want[0] < 2000
    assert catalog.stats("t", 0, "v").non_null == want[0]
    assert catalog.stats("t", 0, "id").non_null == want[1] == 2000
    assert catalog.stats("t", 0, "no_such_column") == (2000, 0, None, None)
    assert catalog.count("t", 0) == 2000


def test_min_value_from_footer_stats(spark, tmp_path):
    """``stats`` min and max equal Spark's over row-group statistics
    across files, skipping all-NULL groups, and stay exact when a file
    written without statistics moves both the min and the max (it is
    read driver-side).  An all-NULL column, an absent column and an
    empty snapshot hold no value."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from doccrawler_spark.snapshots import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    df = spark.range(0, 2000).select(
        "id",
        F.when(F.col("id") < 500, None)
        .otherwise(F.col("id") % 7 + 3).cast("int").alias("depth"),
        F.lit(None).cast("int").alias("none"),
    ).repartition(4, "id")
    catalog.write(df, "t", 0)
    assert catalog.stats("t", 0, "depth") == (2000, 1500, 3, 9)
    assert catalog.stats("t", 0, "id") == (2000, 2000, 0, 1999)
    assert catalog.stats("t", 0, "none") == (2000, 0, None, None)

    d = catalog.data_path("t", 0)
    pq.write_table(pa.table({"id": pa.array([-1, 5000], pa.int64()),
                             "depth": pa.array([1, 99], pa.int32())}),
                   os.path.join(d, "nostats.parquet"), write_statistics=False)
    snap = catalog.read(spark, "t", 0)
    for col in ("id", "depth", "none"):
        want = snap.agg(F.count("*"), F.count(col), F.min(col), F.max(col)).first()
        assert catalog.stats("t", 0, col) == tuple(want), col
    assert catalog.stats("t", 0, "depth") == (2002, 1502, 1, 99)
    assert catalog.stats("t", 0, "id") == (2002, 2002, -1, 5000)
    assert catalog.stats("t", 0, "none") == (2002, 0, None, None)
    assert catalog.stats("t", 0, "no_such_column") == (2002, 0, None, None)
    assert catalog.count("t", 0) == 2002
    catalog.write(df.limit(0), "t", 1)
    assert catalog.stats("t", 1, "depth") == (0, 0, None, None)
    assert catalog.count("t", 1) == 0


@pytest.mark.parametrize("resume_after", [None, 2], ids=["uninterrupted", "resume"])
def test_terminal_rounds_skip_discovery(spark, tmp_path, resume_after):
    """A round whose shallowest frontier row cannot expand skips
    discovery: its frontier is the politeness-deferred rows alone and
    it writes no budget snapshot.  The crawl still equals the oracle
    in order, text, seen set, budget and misses, run straight through
    or stopped after the first such round and resumed."""
    from doccrawler_spark.crawl import errors_all

    # quota 60/20 = 3 pages a round: the seed's depth-2 children are
    # fetched over several terminal-depth rounds that defer the rest
    spec = WebSpec(sites=(
        SiteSpec("docs.slow.test", 40, branching=8, crawl_delay=20.0),
    ))
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, spec, max_depth=3, politeness=True,
        round_seconds=60.0, resume_after=resume_after,
    )
    assert oracle.rounds >= 4
    _assert_equivalent(spark, oracle, catalog, golden)
    assert errors_all(spark, catalog).count() == len(oracle.misses)

    # round 1 fetches the depth-1 seed and expands; every later round
    # is at the terminal depth, skips, and re-snapshots deferred rows
    assert catalog.committed_rounds("budget") == [0, 1]
    is_new = catalog.stats("frontier", 2, "is_new")
    assert is_new.rows > 0 and is_new.max is False


def test_invariants(spark, tmp_path):
    """Property checks: no URL fetched twice per site, nothing at depth
    >= MAX_DEPTH, seen-set monotone (SURVEY.md §5.2 item 4)."""
    oracle, catalog, _, golden = _run_both(
        spark, tmp_path, tiny_spec(), max_depth=3, politeness=True
    )
    df = crawled_all(spark, catalog)
    n = df.count()
    assert df.select("url", "site_id").distinct().count() == n
    assert df.filter(f"depth >= 3").count() == 0
    # seen contains every non-sitemap crawled url
    seen = {r["url"] for r in seen_all(spark, catalog).collect()}
    from pyspark.sql import functions as F
    non_sitemap = df.join(
        catalog.read(spark, "frontier", 0).filter("sitemap_mode").select("url"),
        "url", "left_anti",
    )
    for r in non_sitemap.select("url").collect():
        assert r["url"] in seen


def test_iceberg_backend_structural(tmp_path):
    """SURVEY §7 Iceberg backend, structural half: the config-only
    swap is pinned (catalog class, extension, warehouse wiring) so a
    cluster deployment is exactly ``get_spark(extra_conf=
    iceberg_conf(...))`` plus the runtime jar."""
    from doccrawler_spark.session import iceberg_conf

    conf = iceberg_conf("icecat", str(tmp_path / "wh"))
    assert conf["spark.sql.catalog.icecat"] == (
        "org.apache.iceberg.spark.SparkCatalog"
    )
    assert conf["spark.sql.catalog.icecat.type"] == "hadoop"
    assert conf["spark.sql.catalog.icecat.warehouse"].endswith("wh")
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


def test_iceberg_backend_roundtrip(spark, tmp_path):
    """SURVEY §7 Iceberg backend, runtime half: snapshot write + read
    through a real Iceberg catalog whenever an iceberg-spark-runtime
    jar is on the classpath — skip-gated in this sandbox (no network,
    no jar; verified at round 1)."""
    import pytest

    from doccrawler_spark.session import iceberg_conf

    conf = iceberg_conf("icecat", str(tmp_path / "wh"))
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        pytest.skip("iceberg-spark-runtime jar not on classpath")

    # jar present (a real cluster): exercise snapshot write + read
    for k, v in conf.items():
        spark.conf.set(k, v)
    spark.sql("CREATE DATABASE IF NOT EXISTS icecat.db")
    spark.range(5).writeTo("icecat.db.t_smoke").createOrReplace()
    assert spark.table("icecat.db.t_smoke").count() == 5


def test_rewrite_committed_round_is_atomic(spark, tmp_path):
    """Torn-write safety of the rewrite path catalog.compact takes:
    every write, a round's first included, publishes into a FRESH
    directory with the manifest replace as the commit point — the
    original bytes stay intact until the new manifest is visible, so a
    crash mid-rewrite can never leave a committed manifest pointing at
    a torn dir, a reader mid-scan never has files deleted under it,
    and a crashed rewrite's directory is reclaimed once unreferenced
    past the grace window."""
    from doccrawler_spark.snapshots import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    df1 = spark.range(0, 10).withColumnRenamed("id", "v")
    catalog.write(df1, "t", 3)
    first_dir = catalog.data_path("t", 3)
    assert first_dir.startswith(catalog.data_dir("t", 3) + ".")

    df2 = spark.range(100, 105).withColumnRenamed("id", "v")
    catalog.write(df2, "t", 3)
    second_dir = catalog.data_path("t", 3)
    assert second_dir != first_dir        # fresh dir, never in-place
    # superseded dir survives the grace window (a reader that resolved
    # it pre-swap finishes its scan), then vacuums on demand
    assert os.path.exists(first_dir)
    assert sorted(r["v"] for r in spark.read.parquet(first_dir).collect()) \
        == list(range(0, 10))
    assert catalog.vacuum_superseded(grace_s=0) == 1
    assert not os.path.exists(first_dir)
    got = sorted(r["v"] for r in catalog.read(spark, "t", 3).collect())
    assert got == list(range(100, 105))
    # footer-based counts resolve through the manifest path too
    assert catalog.count("t", 3) == 5
    # the stream view is SEALED at first publication (append-log
    # semantics: a file stream that consumed those paths must never
    # see renamed duplicates), so it keeps the first-published bytes —
    # alive via hard links even though the raw dir was vacuumed
    sd = os.path.join(catalog.stream_dir("t"), "r00003")
    names = {n for n in os.listdir(sd) if n.endswith(".parquet")}
    src = {n for n in os.listdir(second_dir) if n.endswith(".parquet")}
    assert names.isdisjoint(src) and names
    got = sorted(r["v"] for r in spark.read.parquet(sd).collect())
    assert got == list(range(0, 10))

    # crash-window simulation: rewrite data landed but the manifest
    # replace never happened → the committed snapshot still reads the
    # previously-published bytes, junk dir is simply unreferenced
    junk = catalog.data_dir("t", 3) + ".deadbeef"
    os.makedirs(junk)
    assert catalog.data_path("t", 3) == second_dir
    assert catalog.count("t", 3) == 5
    # ...and the unreferenced dir is reclaimed, after its grace window
    assert catalog.vacuum_superseded() == 0 and os.path.isdir(junk)
    assert catalog.vacuum_superseded(grace_s=0) == 1
    assert not os.path.exists(junk) and os.path.isdir(second_dir)

def test_compact_snapshots(spark, tmp_path):
    """catalog.compact rewrites multi-file committed rounds into few
    right-sized files through the atomic committed-round rewrite path:
    contents identical, time-travel intact, untouched rounds left in
    place, stream view re-published to exactly the new bytes."""
    from doccrawler_spark.snapshots import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "snap"))
    catalog.write(spark.range(0, 100).repartition(8), "t", 1)
    catalog.write(spark.range(100, 250).repartition(8), "t", 2)
    catalog.write(spark.range(250, 260).coalesce(1), "t", 3)
    dir3 = catalog.data_path("t", 3)

    def files(r):
        return sorted(n for n in os.listdir(catalog.data_path("t", r))
                      if n.endswith(".parquet"))

    assert len(files(1)) == 8 and len(files(2)) == 8

    stats = catalog.compact(spark, "t")
    assert set(stats) == {1, 2}
    assert stats[1] == (8, 1) and stats[2] == (8, 1)
    assert catalog.data_path("t", 3) == dir3        # untouched
    got1 = sorted(r["id"] for r in catalog.read(spark, "t", 1).collect())
    got2 = sorted(r["id"] for r in catalog.read(spark, "t", 2).collect())
    assert got1 == list(range(0, 100))
    assert got2 == list(range(100, 250))
    assert catalog.count("t", 1) == 100 and catalog.count("t", 2) == 150

    # stream view: sealed at first publication — compaction does NOT
    # re-publish (a file stream would re-ingest every row under the new
    # names), so the entry keeps its original 8 files whose rows equal
    # the compacted table exactly
    sd = os.path.join(catalog.stream_dir("t"), "r00002")
    names = {n for n in os.listdir(sd) if n.endswith(".parquet")}
    assert len(names) == 8 and names.isdisjoint(set(files(2)))
    got_stream = sorted(r["id"] for r in spark.read.parquet(sd).collect())
    assert got_stream == list(range(100, 250))

    # idempotent: already-compacted rounds are not rewritten again
    assert catalog.compact(spark, "t") == {}

    # a sub-file-target row count still respects min_files
    assert catalog.compact(spark, "t", rounds=[3]) == {}


def test_crawl_compacts_on_done(spark, tmp_path):
    """A finished crawl (state done) compacts: every committed crawled
    round is ONE right-sized file after the crawl finishes, with the
    oracle equivalence fully intact and the cost timed separately."""
    web, pages, golden, seeds = _load(spark, tiny_spec())
    from tests.oracle import OracleConfig, SequentialOracle

    oracle = SequentialOracle(
        pages, OracleConfig(max_depth=3, politeness=True)).run(seeds)
    timings: dict = {}
    catalog = crawl(spark, web, seeds, os.path.join(str(tmp_path), "s"),
                    CrawlConfig(max_depth=3), timings=timings)
    assert timings.get("compact_sec") is not None
    for r in catalog.committed_rounds("crawled"):
        files = [n for n in os.listdir(catalog.data_path("crawled", r))
                 if n.endswith(".parquet")]
        assert len(files) == 1, (r, files)
    _assert_equivalent(spark, oracle, catalog, golden)

    # a partial run (max_rounds cap, done=False) does NOT compact —
    # the table is still being appended to across resumes
    t2: dict = {}
    crawl(spark, web, seeds, os.path.join(str(tmp_path), "s2"),
          CrawlConfig(max_depth=3, max_rounds=1), timings=t2)
    assert "compact_sec" not in t2
