"""The distributed crawl loop: URL frontier + fetch scheduler (M2/M3).

Reference semantics reproduced (SURVEY.md §3.4, against /root/reference):
  * depth: enter at 1, fetch iff depth < MAX_DEPTH
    (crawler_service.py:46), expand iff depth+1 < MAX_DEPTH (:88);
  * seen-set: global across sites, add-at-enqueue
    (crawler_service.py:114-118), seeds pre-added
    (crawler_usecase.py:132), sitemap URLs never added (:123-127);
  * sitemap-mode pages fetched but never expanded (crawler_service.py:82);
  * canonicalization = fragment strip only (helper.py:65-68);
  * same-domain filter against the CURRENT page's host (:99-101);
  * per-site filter budget: page-level pre-check then one unit per
    ≤180-link batch (crawler_service.py:103-112, helper.py:239-248);
  * the deterministic crawl order is the single-worker FIFO with
    canonically sorted link expansion (SURVEY.md §3.4.4) — matched
    here by per-round global sequence numbers over
    (parent_priority, url).

Spark-first physical design:
  * fetch = inner equi-join frontier ⋈ web_pages on url (runtime
    bloom-filter join prunes the scan by frontier keys); a small
    frontier instead pushes its URL list into the scan as an IN filter
    (point lookup) and shuffles only the matching rows, so the extract
    UDF runs in a few coalesced tasks, not in every scan task;
  * driver-held rows (seeds, seed probe pages and probe results,
    robots, both inputs and both halves of the point-lookup politeness
    cut, sequence offsets) re-enter plans as Arrow local relations
    (``LocalTableScan``), never as a pickled RDD that every consumer
    rescans in a job of its own;
  * a snapshot whose rows the driver already holds commits as Arrow,
    with no Spark job: every round's fetch metrics (one row per crawled
    part file, from its footer row count and ``html_len`` column), a
    point-lookup round's errors (its fetch rows absent from the
    committed crawled urls) and, when it cannot expand, its frontier
    (the deferred rows), and the seed round's robots and budget.  Only
    the fetch+extract (``crawled``) write, discovery and the seed
    frontier (unbounded by the seed count: sitemap <loc>s) stay Spark
    writes;
  * seen-set dedup = left-anti join against per-round url deltas
    (Iceberg bucket-by-url_hash at cluster scale);
  * politeness = per-host round quota via salted two-phase top-k
    (skew-safe for hot hosts), deferred URLs keep their priority; a
    point-lookup round ranks its cut in one partition, so both windows
    plan with no shuffle Exchange;
  * budget = broadcast dim join + bounded per-site window (only the
    top `budget` candidate pages per site enter the window);
  * a round whose shallowest frontier row cannot expand (min depth + 1
    >= max_depth, read from the parquet footer statistics) skips
    discovery whole: its frontier is the deferred rows alone and its
    budget snapshot is not rewritten (spending nothing, it equals the
    last one);
  * every round commits atomic snapshots (frontier, seen delta,
    crawled, budget, metrics, errors) — resumable mid-crawl.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import functions as Fx
from .shuffle import arrow_table, global_sequence, local_relation, topk_per_group
from .snapshots import SnapshotCatalog

FRONTIER_SCHEMA = (
    "url string, host string, depth int, site_id string, home_url string, "
    "sitemap_mode boolean, priority long, url_hash long, round int, "
    "is_new boolean"
)
# the URL-seen set is carried INSIDE the frontier snapshots: rows with
# is_new=true are this round's seen-delta (one write instead of two per
# round; the anti-join scans frontier deltas' url column with the
# is_new filter pushed into parquet)
_FRONTIER_COLS = [
    "url", "host", "depth", "site_id", "home_url", "sitemap_mode", "priority",
]
CRAWLED_SCHEMA = (
    "url string, site_id string, base_url string, text string, depth int, "
    "round int, priority long"
)
ERRORS_SCHEMA = (
    "url string, host string, site_id string, depth int, round int, "
    "priority long, reason string"
)
# one row per crawled part file of a round
METRICS_SCHEMA = "partition_id int, pages_fetched bigint, bytes_fetched bigint, round int"
ROBOTS_SCHEMA = "host string, disallow array<string>, crawl_delay double"
# long: an unlimited budget (budget_per_site >= 2**30) may pass 2**31
BUDGET_SCHEMA = "site_id string, used long, max long"


@dataclass
class CrawlConfig:
    max_depth: int = 3
    budget_per_site: int = 50          # MAX_LLM_REQUEST_COUNT (readme.md:86)
    filter_batch_size: int = 180       # crawler_service.py:103
    politeness: bool = True            # north_rule addition (absent in ref)
    round_seconds: float = 60.0        # per-host quota = round_seconds/delay
    max_rounds: int = 64
    # frontier-size cutoff below which seen-set dedup uses the
    # broadcast semi/anti path (seen never shuffled); above it, the
    # hash-bucketed seen TABLE (one append per round, anti-join reads
    # buckets in place — Exchange only on the candidate side)
    broadcast_dedup_max_frontier: int = 2_000_000
    # bucket count of the seen table (cluster sizing: ≈ total seen
    # bytes / 256 MB; sandbox default keeps files small)
    seen_buckets: int = 64
    # a class constant, not a field: benchmark/trace.py reads it in its
    # per-round gate record.  It goes when gate recording moves into
    # the engine (ROADMAP item 1).
    bloom_prefilter = False
    # frontier-size cutoff below which fetch uses an IN-list point
    # lookup (parquet row-group stats pruning — the CDX-index pattern:
    # a 12-URL round must not decode the whole corpus) instead of
    # streaming the corpus through the join.  Parquet's In pushdown
    # degrades (and eventually stack-overflows) past ~1k values, so
    # keep this small; big rounds stream.
    point_lookup_max_frontier: int = 512
    # seed-count cutoff below which the round-0 probe pages, probe
    # results and robots rows are collected into driver-local
    # relations (robots and budget then commit as Arrow); above it, the
    # probe pages are snapshotted instead (10^6+-seed crawls never
    # materialize on the driver)
    seed_collect_max: int = 10_000
    # pluggable page fetcher (the S3 seam, doccrawler_spark/fetch.py):
    # None = the sandbox's no-network equi-join against ``web_pages``;
    # any fetch.Fetcher (e.g. ``fetch.http_fetcher()`` for real
    # deployment) is handed the URL sets of BOTH the seed probes and
    # every round's frontier and must return FETCH_SCHEMA rows —
    # misses (html IS NULL) vanish exactly like join misses and are
    # recovered by the snapshot-derived S8 errors sink.  With a
    # fetcher set, ``web_pages`` may be None.
    fetcher: "object | None" = None


_SITES_SCHEMA = "seed_url string, seed_ix long, site_id string, locs array<string>"


def _with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("host", Fx.host_col(F.col(url_col)))


def build_robots(spark: SparkSession, robots_rows: DataFrame) -> DataFrame:
    """(host, disallow ARRAY<STRING>, crawl_delay DOUBLE) from the
    /robots.txt rows — a small broadcastable dim.

    ``robots_rows`` is pre-pruned to the robots.txt urls of the seed
    hosts (the same-domain filter F5 keeps the crawl inside those
    hosts, so no other robots files can ever matter) — never a full
    ``endswith`` scan of the corpus."""
    parsed = robots_rows.select(
        F.col("url"),
        Fx.host_col(F.col("url")).alias("host"),
        Fx.parse_robots_udf(F.col("html")).alias("r"),
    )
    # one row per host: robots may have been probed under both schemes
    # (https preferred, matching live-crawler behavior where the https
    # fetch wins — 'https://…' sorts after 'http://…'); duplicate host
    # rows would fan out every broadcast politeness join downstream
    w = Window.partitionBy("host").orderBy(F.desc("url"))
    return (
        parsed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", "r.disallow", "r.crawl_delay")
    )


def _drop_disallowed(cand: DataFrame, robots: DataFrame, enabled: bool) -> DataFrame:
    """Politeness: drop robots-disallowed URLs before they are enqueued
    (never enter frontier nor seen)."""
    if not enabled:
        return cand
    joined = cand.join(F.broadcast(robots.select("host", "disallow")), "host", "left")
    path = Fx.path_col(F.col("url"))
    blocked = F.exists("disallow", lambda p: path.startswith(p))
    return joined.filter(F.col("disallow").isNull() | ~F.coalesce(blocked, F.lit(False))).drop(
        "disallow"
    )


def seed_round(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    web_pages: DataFrame,
    seeds: "list[str] | DataFrame",
    cfg: CrawlConfig,
) -> dict:
    """Round 0: site ids, sitemap probes, initial frontier + seen.

    Mirrors crawler_usecase.main (crawler_usecase.py:104-151): seeds in
    input order; sitemap hit → every <loc> at depth 1, sitemap_mode,
    NOT in seen; miss → the seed itself at depth 1, pre-seen.

    ``seeds`` is a python list (small crawls) or a DataFrame with a
    ``seed_url`` column (and optional ``seed_ix`` ordering column) —
    a 10^6+-row seed table never touches the driver: probes become a
    distributed semi-join and the probe relation is snapshotted.
    """
    if isinstance(seeds, DataFrame):
        seeds_df = seeds
        if "seed_ix" not in seeds_df.columns:
            # deterministic (LEXICOGRAPHIC seed_url) order — a DataFrame
            # has no stable "input order"; pass an explicit seed_ix
            # column when list-input ordering semantics matter
            seeds_df = global_sequence(seeds_df, ["seed_url"], "seed_ix")
        n_seeds = seeds_df.count()
    else:
        seeds_df = local_relation(
            spark, [(u, i) for i, u in enumerate(seeds)], "seed_url string, seed_ix int"
        )
        n_seeds = len(seeds)

    base = F.regexp_replace(F.col("seed_url"), r"/+$", "")
    probes = seeds_df.select(
        "seed_url", "seed_ix",
        F.concat(base, F.lit("/sitemap.xml")).alias("sm1"),
        F.concat(base, F.lit("/sitemap_index.xml")).alias("sm2"),
    )

    # Every special row seeding needs — seed base pages, sitemap
    # candidates, the seed hosts' robots.txt — as pure functions of the
    # seed urls (scheme://host from the same authority regex the
    # same-domain filter uses; urlparse semantics).
    scheme_host = F.regexp_extract("seed_url", r"^(https?://[^/?#\s]+)", 1)
    host_only = F.regexp_extract("seed_url", r"^https?://([^/?#\s]+)", 1)
    probe_urls_df = seeds_df.select(
        F.explode(F.array(
            F.col("seed_url"),
            F.concat(base, F.lit("/sitemap.xml")),
            F.concat(base, F.lit("/sitemap_index.xml")),
            # robots.txt probed under BOTH the seed's scheme and https:
            # an http:// seed must still pick up rules a corpus serves
            # only at https://host/robots.txt (robots semantics are
            # per-authority, not per-scheme)
            F.concat(scheme_host, F.lit("/robots.txt")),
            F.concat(F.lit("https://"), host_only, F.lit("/robots.txt")),
        )).alias("url")
    ).distinct()

    # one probe source: the pluggable fetcher (real HTTP in
    # deployment; misses, html IS NULL, drop exactly like join misses),
    # host-repartitioned like the round fetch so the ~6 probe urls of a
    # seed authority land on one task under the per_host cap — or the
    # corpus semi-joined to the probe urls
    if cfg.fetcher is not None:
        probe_source = (
            cfg.fetcher(probe_urls_df.repartition(
                Fx.host_col(F.col("url"))))
            .filter(F.col("html").isNotNull())
            .select("url", "html")
        )
    else:
        probe_source = web_pages.select("url", "html").join(
            probe_urls_df, "url", "left_semi")
    collected = n_seeds <= cfg.seed_collect_max
    if collected:
        # the ≤5·|seeds| probe rows live in a driver-local relation, so
        # every downstream broadcast join references plain local data
        # instead of corpus-scan lineage
        probe_pages = local_relation(
            spark, probe_source.toArrow(), "url string, html binary")
        maybe_bc = F.broadcast
    else:
        # cluster-scale: snapshotted once (it feeds FOUR downstream
        # joins — a re-executed probe per consumer would be 4x the
        # cost), never collected
        catalog.write(probe_source, "seed_probes", 0)
        probe_pages = catalog.read(spark, "seed_probes", 0)
        maybe_bc = lambda df: df  # too big to broadcast; AQE picks

    # sitemap probe: /sitemap.xml then /sitemap_index.xml (helper.py:215-226)
    # — the three probe pages join onto their seed, then ONE Python
    # stage derives site_id and the sitemap <loc> list together
    def probe(key: str, html: str) -> DataFrame:
        return maybe_bc(probe_pages.select(F.col("url").alias(key),
                                           F.col("html").alias(html)))

    probed = (
        probes.join(probe("seed_url", "html"), "seed_url", "left")
        .join(probe("sm1", "html1"), "sm1", "left")
        .join(probe("sm2", "html2"), "sm2", "left")
        .select("seed_url", "seed_ix", Fx.seed_probe_udf(
            "seed_url", "html", "html1", "html2").alias("probe"))
        .select("seed_url", "seed_ix", "probe.site_id", "probe.locs")
    )
    robots = build_robots(
        spark, probe_pages.filter(F.col("url").endswith("/robots.txt"))
    )
    if collected:
        # one row per seed and per seed host: each is collected once
        # and re-enters as a local relation, so the probe UDF and the
        # robots parse never re-run, and robots and budget commit from
        # the driver with no Spark job
        sites_t = arrow_table(probed.toArrow(), _SITES_SCHEMA)
        sites = local_relation(spark, sites_t, _SITES_SCHEMA)
        robots_t = arrow_table(robots.toArrow(), ROBOTS_SCHEMA)
        catalog.write(robots_t, "robots", 0)
        robots = local_relation(spark, robots_t, ROBOTS_SCHEMA)
        budget0 = arrow_table(
            [(s, 0, cfg.budget_per_site)
             for s in sites_t["site_id"].unique().to_pylist()],
            BUDGET_SCHEMA)
    else:
        # cached: the entries, and budget0 below, read the probe results
        # without re-running the probe UDF
        sites = probed.cache()
        catalog.write(robots, "robots", 0)
        robots = catalog.read(spark, "robots", 0)
        budget0 = (
            sites.select("site_id").distinct()
            .withColumn("used", F.lit(0))
            .withColumn("max", F.lit(cfg.budget_per_site))
        )

    sitemap_entries = (
        sites.filter(F.size("locs") > 0)
        .select(
            "seed_ix", "site_id", F.col("seed_url").alias("home_url"),
            F.posexplode("locs").alias("loc_ix", "url"),
        )
        .withColumn("sitemap_mode", F.lit(True))
    )
    bfs_entries = (
        sites.filter(F.col("locs").isNull() | (F.size("locs") == 0))
        .select(
            "seed_ix", "site_id", F.col("seed_url").alias("home_url"),
            F.lit(-1).alias("loc_ix"), F.col("seed_url").alias("url"),
        )
        .withColumn("sitemap_mode", F.lit(False))
    )
    entries = _with_host(sitemap_entries.unionByName(bfs_entries))
    entries = _drop_disallowed(entries, robots, cfg.politeness)

    frontier = global_sequence(
        entries.withColumn("depth", F.lit(1)),
        ["seed_ix", "loc_ix", "url"],
        "priority",
        start=0,
        num_partitions=1 if n_seeds < 1000 else None,
    ).select(
        *_FRONTIER_COLS,
        F.xxhash64("url").alias("url_hash"),
        F.lit(0).alias("round"),
        # sitemap URLs are never added to the seen set
        # (crawler_usecase.py:123-127); plain seeds are (:132)
        (~F.col("sitemap_mode")).alias("is_new"),
    )
    # a Spark write: sitemap <loc>s leave its size unbounded by the
    # seed count
    catalog.write(frontier, "frontier", 0)
    catalog.write(budget0, "budget", 0)
    if not collected:
        sites.unpersist()

    n_frontier = catalog.count("frontier", 0)
    state = {"next_priority": n_frontier, "round": 0,
             "done": n_frontier == 0, "frontier_size": n_frontier}
    catalog.write_state(0, state)
    return state


def _ensure_seen_table(spark, catalog: SnapshotCatalog, cfg: CrawlConfig,
                       upto_round: int):
    """Heal the bucketed seen table through ``upto_round``: append the
    is_new url delta of every committed frontier round that has no
    committed append manifest yet (idempotent), then return the
    vacuumed table.  Crash-safe by construction — a torn append leaves
    un-manifested files that seen_table() vacuums."""
    appended = set(catalog.seen_appended_rounds())
    for r in catalog.committed_rounds("frontier"):
        if r <= upto_round and r not in appended:
            delta = (
                catalog.read(spark, "frontier", r)
                .filter(F.col("is_new")).select("url")
            )
            catalog.seen_append(spark, delta, r, cfg.seen_buckets)
    return catalog.seen_table(spark, cfg.seen_buckets)


def _politeness_cut(frontier: DataFrame, robots: DataFrame, cfg: CrawlConfig,
                    one_partition: bool) -> tuple[DataFrame, DataFrame]:
    """Per-host quota round_seconds/crawl_delay: ``(fetch now,
    deferred)``; deferred rows keep their priority.  A point-lookup cut
    holds ≤ point_lookup_max_frontier rows, and in ``one_partition``
    both ranking windows plan with no Exchange."""
    quota = F.when(
        F.col("crawl_delay").isNotNull(),
        F.greatest(F.lit(1), F.floor(F.lit(cfg.round_seconds) / F.col("crawl_delay"))),
    )
    fr = (frontier.coalesce(1) if one_partition else frontier).join(
        F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
    unlimited = fr.filter(F.col("crawl_delay").isNull()).drop("crawl_delay")
    limited = fr.filter(F.col("crawl_delay").isNotNull())
    top, rest = topk_per_group(
        limited.withColumn("quota", quota),
        "host",
        ["priority"],
        F.col("quota"),
        unique_col="url",
    )
    return (unlimited.unionByName(top.drop("crawl_delay", "quota")),
            rest.drop("crawl_delay", "quota"))


def _point_lookup_cut(spark: SparkSession, catalog: SnapshotCatalog,
                      cfg: CrawlConfig, round_: int, polite: bool):
    """The driver-held ``(fetch now, deferred)`` Arrow rows of a
    point-lookup round, the depth gate F1 applied to the first.  Both
    inputs of the cut are read driver-side — frontier(r-1), and the
    robots rows of its hosts only, so the read is bounded by the
    frontier and not by the seed count — and re-enter the plan as
    local relations; the cut runs in ONE action."""
    import pyarrow.compute as pc

    frontier = catalog.read_arrow("frontier", round_ - 1)
    if not polite:
        return (frontier.filter(pc.field("depth") < cfg.max_depth),
                frontier.slice(0, 0))
    robots = catalog.read_arrow(
        "robots", 0, columns=["host", "crawl_delay"],
        filter=pc.field("host").isin(frontier["host"].unique()))
    now, rest = _politeness_cut(
        local_relation(spark, frontier, FRONTIER_SCHEMA),
        local_relation(spark, robots, "host string, crawl_delay double"),
        cfg, one_partition=True)
    cut = (
        now.filter(F.col("depth") < cfg.max_depth).withColumn("_now", F.lit(True))
        .unionByName(rest.withColumn("_now", F.lit(False)))
        .toArrow()
    )
    return (cut.filter(pc.field("_now")).drop_columns(["_now"]),
            cut.filter(~pc.field("_now")).drop_columns(["_now"]))


def _with_consts(t, **consts):
    """Arrow table ``t`` with each of ``consts`` as a constant column
    (replacing a column of that name)."""
    import pyarrow as pa

    for name, v in consts.items():
        if name in t.column_names:
            t = t.drop_columns([name])
        t = t.append_column(name, pa.repeat(v, t.num_rows))
    return t


def _fetch_metrics(catalog: SnapshotCatalog, round_: int):
    """The round's fetch metrics (S9/O5 analogue), one row per crawled
    part file — pages from its footer row count, bytes as the sum of
    its ``html_len`` column — read driver-side: no Spark job."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rows = []
    for i, path in enumerate(catalog.files("crawled", round_)):
        html_len = pq.read_table(path, columns=["html_len"])["html_len"]
        rows.append((i, len(html_len), pc.sum(html_len).as_py(), round_))
    return arrow_table(rows, METRICS_SCHEMA)


def run_round(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    web_pages: DataFrame,
    cfg: CrawlConfig,
    round_: int,
    state: dict,
    *,
    has_delays: bool,
) -> dict:
    """One fetch→extract→discover→dedup round; commits round snapshots."""
    import os

    import pyarrow.compute as pc

    _phase_t: dict[str, float] = {}
    _timing = bool(os.environ.get("CRAWL_PHASE_TIMING"))
    _t0 = time.time()

    def _mark(name: str) -> None:
        nonlocal _t0
        if _timing:
            now = time.time()
            _phase_t[name] = round(now - _t0, 2)
            _t0 = now

    # unlimited budget (throughput mode) never gates and is never
    # updated, so the budget table stays at its round-0 snapshot —
    # one fewer read+write job per round
    budget_gated = cfg.budget_per_site < 2**30
    budget = catalog.read_upto(spark, "budget", round_ - 1) if budget_gated else None
    robots = catalog.read(spark, "robots", 0)
    frontier_size = state.get("frontier_size") or 0
    point_lookup = (cfg.fetcher is None
                    and 0 < frontier_size <= cfg.point_lookup_max_frontier)
    bucketed = frontier_size >= cfg.broadcast_dedup_max_frontier
    polite = cfg.politeness and has_delays
    # F2/F3 gates ahead of the fetch: when even the shallowest frontier
    # row cannot expand, no page this round fetches can, and discovery
    # is skipped whole
    min_depth = catalog.stats("frontier", round_ - 1, "depth").min
    expands = min_depth is None or min_depth + 1 < cfg.max_depth

    # ---- politeness: per-host quota, defer the rest (priority kept),
    # then the depth gate F1 (items at depth >= max are consumed, not
    # fetched).
    # ---- fetch = equi-join against web_pages (S3); misses vanish like
    # result.success=False does (crawler_service.py:62-70).
    # Extraction + link discovery run as ONE fused Arrow UDF (one
    # decode+parse per page), evaluated EXACTLY ONCE: the result is
    # committed straight to the round's crawled snapshot and every
    # downstream stage (metrics, discover, frontier) re-reads the
    # needed columns from that parquet.  A .persist() here would hold
    # gigabytes of deserialized text on the JVM heap and stall in GC —
    # columnar re-reads are strictly cheaper.
    if point_lookup:
        # point-lookup fetch: the cut's ≤ point_lookup_max_frontier
        # rows are driver-held, and re-enter the plan as local
        # relations; the round's URL list is pushed into the scan as an
        # IN filter so parquet row-group stats prune the corpus
        # (decodes only the row groups containing the URLs).  The few
        # matching corpus rows then shuffle, so the extract UDF runs in
        # a handful of AQE-coalesced tasks: joined to a broadcast local
        # relation it would otherwise run inside every corpus-scan task
        # (~2 s slower per small round over a 35-task scan of a
        # 240k-page corpus on 4 cores).
        now_t, deferred_t = _point_lookup_cut(spark, catalog, cfg, round_, polite)
        fetch_now = local_relation(spark, now_t, FRONTIER_SCHEMA)
        deferred = local_relation(spark, deferred_t, FRONTIER_SCHEMA)
        corpus = web_pages.select("url", "html").filter(
            F.col("url").isin(now_t["url"].to_pylist())
        ).repartition("url")
    else:
        frontier = catalog.read(spark, "frontier", round_ - 1)
        if polite:
            fetch_now, deferred = _politeness_cut(frontier, robots, cfg,
                                                  one_partition=False)
        else:
            fetch_now, deferred = frontier, frontier.limit(0)
        fetch_now = fetch_now.filter(F.col("depth") < cfg.max_depth)
        if cfg.fetcher is not None:
            # pluggable fetch (S3 seam): the fetcher is handed exactly
            # this round's URL set and its hits join back to the
            # frontier rows below — identical downstream plan, misses
            # vanish identically.  Repartition by host FIRST: a
            # side-effecting fetcher (http) then sees any one host on
            # ONE task, so its per_host cap is the global per-server
            # bound instead of tasks × per_host (the O3 politeness quota
            # already bounds how many URLs per delayed host enter the
            # round, which also caps this shuffle's skew)
            corpus = (
                cfg.fetcher(fetch_now.repartition(F.col("host")).select("url"))
                .filter(F.col("html").isNotNull())
                .select("url", "html")
            )
        else:
            corpus = web_pages.select("url", "html")
    fetched = (
        fetch_now.join(corpus, "url", "inner")
        .withColumn("page", Fx.extract_page_udf(F.col("html")))
        .withColumn("html_len", F.length("html"))
        .select(
            "url", "site_id", F.col("home_url").alias("base_url"),
            F.col("page.text").alias("text"), "depth",
            F.lit(round_).alias("round"), "priority",
            # extra columns beyond CRAWLED_SCHEMA (readers prune them)
            "host", "sitemap_mode", "html_len",
            F.col("page.links").alias("raw_links"),
        )
    )
    _mark("plan")
    catalog.write(fetched, "crawled", round_)
    _mark("fetch_extract_write")
    crawled_back = catalog.read(spark, "crawled", round_)

    catalog.write(_fetch_metrics(catalog, round_), "metrics", round_)
    _mark("metrics")

    if expands:
        links, new_frontier_items = _discover(
            spark, catalog, cfg, crawled_back, budget, robots, round_, state,
            bucketed)
    elif bucketed:
        # the seen-table appends heal through round_-1 on every
        # bucketed round, discovering or not
        _ensure_seen_table(spark, catalog, cfg, round_ - 1)
    # deferred rows entered the seen set when first enqueued —
    # re-snapshotting them must not re-mark them as deltas
    if point_lookup and not expands:
        # the deferred rows alone, driver-held (url_hash included)
        next_frontier = arrow_table(
            _with_consts(deferred_t, round=round_, is_new=False), FRONTIER_SCHEMA)
    else:
        next_frontier = deferred.select(*_FRONTIER_COLS).select(
            "*",
            F.xxhash64("url").alias("url_hash"),
            F.lit(round_).alias("round"),
            F.lit(False).alias("is_new"),
        )
        if expands:
            next_frontier = next_frontier.unionByName(new_frontier_items)
    catalog.write(next_frontier, "frontier", round_)
    _mark("discover_dedup_frontier")

    # ---- budget update: used' = min(max, used + Σ n_batches)
    # (skipped for unlimited budget — the table stays at r0 — and for
    # a round that cannot expand, which spends nothing: read_upto then
    # finds the last snapshot, equal to what a rewrite would hold)
    if budget_gated and expands:
        spend = links.groupBy("site_id").agg(F.sum("n_batches").alias("spent"))
        new_budget = (
            budget.join(spend, "site_id", "left")
            .withColumn(
                "used",
                F.least(F.col("max"), F.col("used") + F.coalesce("spent", F.lit(0)).cast("int")),
            )
            .select("site_id", "used", "max")
        )
        catalog.write(new_budget, "budget", round_)

    # ---- error sink (S8): fetch misses — frontier rows that found
    # no corpus page — land in a per-round `errors` snapshot instead
    # of silently vanishing (ref error_repository.py:14-21, producer
    # crawler_service.py:62-70).  Computed from committed snapshots
    # and driver-held rows, never by re-executing UDF/window lineage.
    # Extraction itself is total (regex scanner), so fetch misses
    # are the only failure class here.
    if point_lookup:
        # the driver-held fetch rows whose url the committed crawled
        # snapshot lacks
        crawled_urls = catalog.read_arrow("crawled", round_, ["url"])["url"]
        misses = arrow_table(_with_consts(
            now_t.filter(~pc.field("url").isin(crawled_urls.combine_chunks())),
            round=round_, reason="fetch_miss"), ERRORS_SCHEMA)
    else:
        # missed = frontier(r-1) under the depth gate, minus
        # crawled(r), minus politeness-deferred rows (re-snapshotted
        # into frontier(r) with is_new=false): pruned column reads
        prev = (
            catalog.read(spark, "frontier", round_ - 1)
            .filter(F.col("depth") < cfg.max_depth)
            .select("url", "host", "site_id", "depth", "priority")
        )
        not_missed = crawled_back.select("url")
        if polite:
            not_missed = not_missed.unionByName(
                catalog.read(spark, "frontier", round_)
                .filter(~F.col("is_new")).select("url")
            )
        misses = prev.join(not_missed, "url", "left_anti").select(
            "url", "host", "site_id", "depth",
            F.lit(round_).alias("round"), "priority",
            F.lit("fetch_miss").alias("reason"),
        )
    catalog.write(misses, "errors", round_)
    _mark("errors")

    # end-of-round counts from the committed parquet footers — zero
    # Spark jobs.  New rows are numbered densely from next_priority and
    # deferred rows keep their older, smaller priorities, so the
    # frontier's priority max + 1 is next_priority + (new rows).
    top = catalog.stats("frontier", round_, "priority").max
    n_next = catalog.count("frontier", round_)
    new_state = {
        "next_priority": (state["next_priority"] if top is None
                          else max(state["next_priority"], top + 1)),
        "round": round_,
        "done": n_next == 0,
        "frontier_size": n_next,
        "n_errors": catalog.count("errors", round_),
    }
    _mark("counts")
    if _timing:
        print(f"[phase] r{round_} {_phase_t}")
    catalog.write_state(round_, new_state)
    return new_state


def _discover(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    cfg: CrawlConfig,
    crawled_back: DataFrame,
    budget: "DataFrame | None",
    robots: DataFrame,
    round_: int,
    state: dict,
    bucketed: bool,
) -> tuple[DataFrame, DataFrame]:
    """Discover (X2) → budget (F9) → seen-set dedup (F8) → sequence
    numbering over one round's committed crawled pages.  Returns
    ``(links, new frontier rows)``; ``links`` carries the per-page
    batch counts the budget update spends.  ``budget`` None means an
    unlimited budget."""
    frontier_size = state.get("frontier_size") or 0
    # ---- discover (X2) on expanding pages only (F2/F3 gates)
    expanding = crawled_back.filter(
        (~F.col("sitemap_mode")) & (F.col("depth") + 1 < cfg.max_depth)
    )
    links = expanding.select(
        "url", "host", "site_id",
        F.col("base_url").alias("home_url"), "depth", "priority",
        "raw_links",
    )
    # F4 fragment strip → in-page dedup F6 → same-host F5 → canonical sort
    links = links.withColumn(
        "internal",
        F.array_sort(
            F.filter(
                F.array_distinct(
                    F.transform("raw_links", lambda u: Fx.strip_fragment_col(u))
                ),
                lambda u: Fx.host_col(u) == F.col("host"),
            )
        ),
    ).withColumn(
        "n_batches",
        F.ceil(F.size("internal") / F.lit(cfg.filter_batch_size)).cast("int"),
    ).drop("raw_links")
    # materialize once WHEN budget-gated: `links` then feeds BOTH
    # the children pipeline and the budget-spend aggregate, and
    # broadcast-exchange jobs would re-execute this whole lineage
    # per consumer.  Unlimited budget has a single consumer — the
    # checkpoint would only add a full materialization job.
    if budget is not None:
        links = links.localCheckpoint(eager=True)

    # ---- budget (F9): only the first `budget` consuming pages per
    # site can spend; bounded window after a salted top-k.
    # Fast path: an effectively-unlimited budget (throughput bench)
    # can never gate a batch, so the dim join + two windows vanish.
    if budget is None:
        kept = links.filter(F.col("n_batches") > 0).withColumn(
            "kept_links", Fx.rule_filter_links(F.col("internal"))
        )
    else:
        consuming = links.filter(F.col("n_batches") > 0).join(
            F.broadcast(budget), "site_id", "left"
        )
        cand, _over = topk_per_group(
            consuming, "site_id", ["priority"], F.col("max"), unique_col="url",
        )
        w = Window.partitionBy("site_id").orderBy("priority").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cand = cand.withColumn(
            "cum_before", F.coalesce(F.sum("n_batches").over(w), F.lit(0))
        ).withColumn(
            "allowed_batches",
            F.greatest(
                F.lit(0),
                F.least(
                    F.col("n_batches"),
                    F.col("max") - F.col("used") - F.col("cum_before"),
                ),
            ).cast("int"),
        )
        kept = cand.filter(F.col("allowed_batches") > 0).withColumn(
            "kept_links",
            Fx.rule_filter_links(
                F.slice(
                    F.col("internal"), 1,
                    F.col("allowed_batches") * F.lit(cfg.filter_batch_size),
                )
            ),
        )

    # ---- children candidates (enqueue at depth+1, crawler_service.py:114-121)
    children = kept.select(
        "site_id", "home_url",
        (F.col("depth") + 1).alias("depth"),
        F.col("priority").alias("parent_priority"),
        F.explode("kept_links").alias("url"),
    )
    children = _with_host(children)
    children = _drop_disallowed(children, robots, cfg.politeness)

    # first-enqueuer wins within the round (FIFO semantics).
    # Materialized once — it is consumed three times (semi-join
    # broadcast, anti-join, sequence numbering).
    firsts = children.groupBy("url").agg(
        F.min(
            F.struct("parent_priority", "site_id", "home_url", "depth", "host")
        ).alias("w")
    ).select("url", "w.*").localCheckpoint(eager=True)

    # ---- global seen-set anti-join (F8).  Only rounds strictly
    # before this one — a partially-committed attempt of THIS
    # round must not dedup against itself on resume.
    if not bucketed:
        # the seen-set (which grows every round) is NEVER shuffled —
        # it is scanned once (url column only, is_new filter pushed
        # into the parquet scan) against a broadcast semi-join with
        # this round's candidates, and the small hit-set broadcasts
        # back into a map-side anti-join
        seen_paths = [
            catalog.data_path("frontier", r)
            for r in catalog.committed_rounds("frontier")
            if r < round_
        ]
        seen = (
            spark.read.schema(FRONTIER_SCHEMA).parquet(*seen_paths)
            .filter(F.col("is_new"))
            .select("url")
        )
        hits = seen.join(F.broadcast(firsts.select("url")), "url", "left_semi")
        new_items = firsts.join(F.broadcast(hits), "url", "left_anti")
    else:
        # cluster-scale path: hash-bucketed seen TABLE.  The
        # SortMergeJoin reads the (huge, ever-growing) seen side
        # bucket-in-place with ZERO exchange; only this round's
        # candidates shuffle (to the bucket count).  Appends are
        # healed lazily up to round_-1, so crawls that crossed the
        # broadcast threshold mid-run bulk-load their history once,
        # and a crash between frontier commit and append is
        # invisible (manifest-committed appends only + vacuum).
        seen_tbl = _ensure_seen_table(spark, catalog, cfg, round_ - 1)
        new_items = firsts.join(seen_tbl, "url", "left_anti")

    # size the range exchange to the data: early rounds are tiny and
    # a single-partition window beats the two-phase sampling jobs
    npart = 1 if frontier_size < 100_000 else None
    new_frontier_items = global_sequence(
        new_items, ["parent_priority", "url"], "priority",
        start=state["next_priority"], num_partitions=npart,
    ).withColumn("sitemap_mode", F.lit(False)).select(
        *_FRONTIER_COLS,
        F.xxhash64("url").alias("url_hash"),
        F.lit(round_).alias("round"),
        F.lit(True).alias("is_new"),
    )
    return links, new_frontier_items


def crawl(
    spark: SparkSession,
    web_pages: DataFrame,
    seeds: "list[str] | DataFrame",
    snapshot_root: str,
    cfg: CrawlConfig | None = None,
    resume: bool = False,
    timings: dict | None = None,
) -> SnapshotCatalog:
    """Run (or resume) a full crawl; returns the snapshot catalog.

    Resume reads the latest committed driver state and continues from
    the following round — killed-mid-round work is invisible because
    manifests publish atomically (north_rule checkpoint requirement).
    """
    cfg = cfg or CrawlConfig()
    catalog = SnapshotCatalog(snapshot_root)

    state = None
    if resume:
        latest = catalog.latest_state()
        if latest is not None:
            state = latest[1]
    if state is None:
        t0 = time.time()
        state = seed_round(spark, catalog, web_pages, seeds, cfg)
        if timings is not None:
            timings["seed_sec"] = round(time.time() - t0, 2)

    # politeness machinery is skipped wholesale when no host declares a
    # crawl-delay (checked once, not per round, from the robots
    # snapshot's footer null counts — no Spark job)
    has_delays = cfg.politeness and catalog.stats(
        "robots", 0, "crawl_delay").non_null > 0

    rounds_sec = 0.0
    while not state["done"] and state["round"] < cfg.max_rounds:
        t0 = time.time()
        state = run_round(
            spark, catalog, web_pages, cfg, state["round"] + 1, state,
            has_delays=has_delays,
        )
        dt = time.time() - t0
        rounds_sec += dt
        print(f"[crawl] round {state['round']} in {dt:.1f}s done={state['done']}")
    if timings is not None:
        timings["rounds_sec"] = round(rounds_sec, 2)
    # finalize maintenance (r8): the crawl output flips read-heavy the
    # moment the loop exits — compact every committed round of the two
    # append-forever tables so crawled_all()/errors_all() open few
    # right-sized files instead of rounds×shuffle-partitions tiny ones.
    # Planning is parquet-footer-only and already-compacted rounds are
    # skipped, so a resume that adds nothing costs only footer reads.
    # A partial run (max_rounds reached) is still being appended to
    # across resumes and is left as it is.
    if state["done"]:
        tc = time.time()
        stats = {}
        for table in ("crawled", "errors", "frontier"):
            stats.update({(table, r): v for r, v in
                          catalog.compact(spark, table).items()})
        if timings is not None:
            timings["compact_sec"] = round(time.time() - tc, 2)
        if stats:
            nb = sum(b for b, _ in stats.values())
            na = sum(a for _, a in stats.values())
            print(f"[crawl] compacted {len(stats)} snapshots: "
                  f"{nb} -> {na} files in {time.time() - tc:.1f}s")
    return catalog


def crawled_all(spark: SparkSession, catalog: SnapshotCatalog) -> DataFrame:
    """All crawled pages across rounds (url, site_id, base_url, text,
    depth, round, priority)."""
    paths = [catalog.data_path("crawled", r) for r in catalog.committed_rounds("crawled")]
    if not paths:
        return local_relation(spark, [], CRAWLED_SCHEMA)
    return spark.read.schema(CRAWLED_SCHEMA).parquet(*paths)



def errors_all(spark: SparkSession, catalog: SnapshotCatalog) -> DataFrame:
    """All logged crawl errors across rounds (S8 sink)."""
    paths = [catalog.data_path("errors", r) for r in catalog.committed_rounds("errors")]
    if not paths:
        return local_relation(spark, [], ERRORS_SCHEMA)
    return spark.read.schema(ERRORS_SCHEMA).parquet(*paths)


def seen_all(spark: SparkSession, catalog: SnapshotCatalog) -> DataFrame:
    """The URL-seen set = union of per-round frontier deltas
    (url, url_hash, site_id, depth, round)."""
    paths = [catalog.data_path("frontier", r) for r in catalog.committed_rounds("frontier")]
    return (
        spark.read.schema(FRONTIER_SCHEMA).parquet(*paths)
        .filter(F.col("is_new"))
        .select("url", "url_hash", "site_id", "depth", "round")
    )
