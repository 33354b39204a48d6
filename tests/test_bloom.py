"""Partitioned Bloom seen-set prefilter (north_rule's bloom/cuckoo
URL-seen; doccrawler_spark/bloom.py): primitive properties plus e2e
equivalence of the bloom-routed bucketed crawl."""

import os

from pyspark.sql import functions as F

from doccrawler_spark import bloom as B


def _urls(spark, prefix, n):
    return spark.createDataFrame(
        [(f"https://{prefix}.test/p/{i}",) for i in range(n)], "url string"
    )


def test_bloom_no_false_negatives_and_incremental_merge(spark):
    """Inserted urls are ALWAYS maybe-seen (no false negatives — the
    property exactness rests on), and the incremental or-merge of two
    delta blooms is bit-identical to the bulk build."""
    m_bits, k, nb = 1 << 12, 6, 8
    a, b = _urls(spark, "a", 400), _urls(spark, "b", 400)

    bl_a = B.bloom_delta(a, nb, m_bits, k)
    bl_b = B.bloom_delta(b, nb, m_bits, k)
    merged = {r["bucket"]: list(r["words"])
              for r in B.bloom_merge_gens([bl_a, bl_b]).collect()}
    bulk = {r["bucket"]: list(r["words"])
            for r in B.bloom_delta(a.unionByName(b), nb, m_bits, k).collect()}
    assert merged == bulk

    new, _maybe = B.split_maybe_chained(a, bl_a, nb, k)
    assert new.count() == 0  # no false negatives


def test_bloom_prefilter_is_exact(spark):
    """prefilter_new_chained == plain anti-join, bit-for-bit, including when
    the filter is deliberately tiny (high fp rate → everything routes
    through the exact check) and when a bucket has no bloom row."""
    for m_bits in (64, 1 << 12):  # 64 bits for 400 urls → fp-saturated
        k, nb = 4, 8
        seen = _urls(spark, "a", 400)
        bl = B.bloom_delta(seen, nb, m_bits, k)
        cand = _urls(spark, "a", 150).unionByName(_urls(spark, "c", 250))
        got = {r["url"]
               for r in B.prefilter_new_chained(cand, bl, seen, nb, k).collect()}
        want = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
        assert got == want, m_bits


def test_bloom_routes_definitely_new_off_the_anti_join(spark):
    """With an adequately sized filter, disjoint candidates are
    overwhelmingly definitely-new (the rows that skip the seen table);
    quantifies the routing the prefilter exists for."""
    m_bits, k, nb = 1 << 14, 6, 8
    seen = _urls(spark, "a", 500)
    bl = B.bloom_delta(seen, nb, m_bits, k)
    fresh = _urls(spark, "z", 500)
    n_maybe = B.split_maybe_chained(fresh, bl, nb, k)[1].count()
    # 2^14 bits per bucket for ~63 urls/bucket at k=6 → fp ~0
    assert n_maybe <= 5


def test_bloom_e2e_crawl_equivalence_and_healing(spark, tmp_path):
    """Forced-bucketed crawl with the bloom ON equals the same crawl
    with it OFF (identical seen set + frontier rows), bloom snapshots
    commit per round, and a deleted bloom history heals from frontier
    snapshots alone."""
    from doccrawler_spark.crawl import (
        CrawlConfig,
        _ensure_bloom,
        crawl,
        seen_all,
    )
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]

    roots, seen_sets = {}, {}
    # both seen-dedup branches: forced-bucketed (max_frontier=0) and
    # the broadcast branch (r5: bloom routes there too)
    for branch_max in (0, 2_000_000):
        for flag in (True, False):
            root = os.path.join(str(tmp_path), f"snap_{branch_max}_{flag}")
            cfg = CrawlConfig(max_depth=3,
                              broadcast_dedup_max_frontier=branch_max,
                              seen_buckets=8, bloom_prefilter=flag,
                              bloom_m_bits=1 << 12, bloom_min_seen=0)
            catalog = crawl(spark, web, seeds, root, cfg)
            roots[flag] = catalog if branch_max == 0 else roots.get(flag)
            seen_sets[(branch_max, flag)] = {
                (r["url"], r["round"], r["depth"])
                for r in seen_all(spark, catalog).collect()
            }
    ref = seen_sets[(0, True)]
    assert ref
    assert all(s == ref for s in seen_sets.values())

    cat = roots[True]
    blooms = cat.committed_rounds(B.BLOOM_TABLE)
    assert blooms, "bloom snapshots never committed"

    # healing: wipe the bloom table; _ensure_bloom rebuilds the exact
    # same filter from frontier history
    before = {r["bucket"]: list(r["words"])
              for r in cat.read(spark, B.BLOOM_TABLE, blooms[-1]).collect()}
    import shutil

    shutil.rmtree(os.path.join(cat.root, B.BLOOM_TABLE))
    cfg = CrawlConfig(broadcast_dedup_max_frontier=0, seen_buckets=8,
                      bloom_m_bits=1 << 12, bloom_min_seen=0)
    healed_df = _ensure_bloom(spark, cat, cfg, blooms[-1])
    healed = {r["bucket"]: list(r["words"]) for r in healed_df.collect()}
    assert healed == before


def test_bloom_min_seen_gate_keeps_filter_dormant(spark, tmp_path):
    """Below bloom_min_seen the prefilter must not build at all (its
    per-round delta+commit measured ~7% of a small round for zero
    routing benefit): a tiny crawl at the 1M default commits NO bloom
    snapshots, while the result stays identical to the forced-bloom
    crawl (the gate is pure cost control, never semantics)."""
    from doccrawler_spark.crawl import CrawlConfig, crawl, seen_all

    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    cfg = CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                      seen_buckets=8, bloom_m_bits=1 << 12)  # default gate
    cat = crawl(spark, web, seeds, os.path.join(str(tmp_path), "s"), cfg)
    assert cat.committed_rounds(B.BLOOM_TABLE) == []
    assert seen_all(spark, cat).count() > 0


def test_bloom_param_drift_rebuilds_not_merges(spark, tmp_path):
    """Resuming with changed bloom params must DISCARD the committed
    filter and rebuild from frontier history (r4 advice): OR-merging
    snapshots built under different (m_bits, k) yields false negatives
    — NULL-padded zip_with words, probes of never-set bits — which
    would silently break seen-set exactness."""
    from doccrawler_spark.crawl import CrawlConfig, _ensure_bloom, crawl
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    root = os.path.join(str(tmp_path), "snap")
    cfg = CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                      seen_buckets=8, bloom_m_bits=1 << 12, bloom_k=6,
                      bloom_min_seen=0)
    cat = crawl(spark, web, seeds, root, cfg)
    last = cat.committed_rounds(B.BLOOM_TABLE)[-1]

    # resume with different m_bits/k: the healed filter must be the
    # bit-exact BULK build at the NEW params, not a corrupt merge
    cfg2 = CrawlConfig(broadcast_dedup_max_frontier=0, seen_buckets=8,
                      bloom_m_bits=1 << 10, bloom_k=4, bloom_min_seen=0)
    healed = _ensure_bloom(spark, cat, cfg2, last)
    row = healed.limit(1).collect()[0]
    assert row["m_bits"] == 1 << 10 and row["k"] == 4
    from doccrawler_spark.crawl import seen_all

    seen_urls = seen_all(spark, cat).select("url").distinct()
    bulk = {r["bucket"]: list(r["words"])
            for r in B.bloom_delta(seen_urls, 8, 1 << 10, 4).collect()}
    got = {r["bucket"]: list(r["words"]) for r in healed.collect()}
    assert got == bulk
    # no false negatives under the rebuilt filter (exactness intact)
    assert {
        r["url"] for r in B.prefilter_new_chained(
            seen_urls, healed, seen_urls, 8, 4).collect()
    } == set()

    # a pre-fmt snapshot (no param columns) is also rebuilt, not merged
    # (materialized driver-side first: writing a plan back onto the
    # parquet files it reads self-destructs under mode=overwrite)
    legacy = spark.createDataFrame(
        [(r["bucket"], list(r["words"])) for r in healed.collect()],
        "bucket int, words array<bigint>",
    )
    cat.write(legacy, B.BLOOM_TABLE, last)
    healed2 = _ensure_bloom(spark, cat, cfg2, last)
    assert {r["bucket"]: list(r["words"]) for r in healed2.collect()} == bulk


def test_bloom_prefilter_exact_hypothesis(spark):
    """Property (hypothesis): for generated seen/candidate url sets —
    arbitrary overlap, percent-escapes, dotted/dashed hosts — and any
    (m_bits, k) down to a 2-word filter, prefilter_new_chained equals the
    plain anti-join exactly."""
    from hypothesis import given, settings, strategies as st

    url = st.from_regex(r"https?://[a-z0-9.\-]{1,12}/[a-zA-Z0-9/_%\-.~]{0,16}",
                        fullmatch=True)
    urls = st.lists(url, min_size=0, max_size=40, unique=True)

    @given(seen_urls=urls, cand_urls=urls,
           m_bits=st.sampled_from([128, 1 << 10]),
           k=st.integers(min_value=1, max_value=8))
    @settings(max_examples=8, deadline=None)
    def check(seen_urls, cand_urls, m_bits, k):
        nb = 4
        seen = spark.createDataFrame(
            [(u,) for u in seen_urls] or [("https://never.test/x",)],
            "url string",
        )
        cand = spark.createDataFrame(
            [(u,) for u in cand_urls] or [("https://only.test/y",)],
            "url string",
        )
        bl = B.bloom_delta(seen, nb, m_bits, k)
        got = {r["url"]
               for r in B.prefilter_new_chained(cand, bl, seen, nb, k).collect()}
        want = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
        assert got == want

    check()


def test_bloom_auto_sizing_doubling_schedule():
    """_bloom_m_bits: explicit size wins; auto is a power-of-two step
    function of seen size with the 2^16 floor and 2^27 cap — constant
    across small growth (no rebuild thrash), stepping only when the
    seen set outgrows its headroom (amortized-doubling resizes)."""
    from doccrawler_spark.crawl import CrawlConfig, _bloom_m_bits

    explicit = CrawlConfig(bloom_m_bits=1 << 12)
    assert _bloom_m_bits(explicit, 10**9) == 1 << 12

    auto = CrawlConfig()  # bloom_m_bits=0, 10 bits/url, headroom 4, 64 buckets
    assert _bloom_m_bits(auto, 0) == 1 << 16          # floor
    assert _bloom_m_bits(auto, 100_000) == 1 << 16    # still under floor
    m1 = _bloom_m_bits(auto, 2_000_000)
    m2 = _bloom_m_bits(auto, 2_100_000)
    assert m1 == m2 and m1 > 1 << 16                  # plateau, no thrash
    assert _bloom_m_bits(auto, 8_000_000) > m1        # stepped after ~4x
    assert _bloom_m_bits(auto, 10**12) == 1 << 27     # cap
    # capacity invariant: auto m always covers seen at bits_per_url
    for n in (10**6, 10**7, 10**8):
        m = _bloom_m_bits(auto, n)
        assert m * auto.seen_buckets >= auto.bloom_bits_per_url * n


def test_bloom_auto_e2e_equals_off(spark, tmp_path):
    """A forced-on AUTO-sized bloom crawl (bloom_m_bits=0) produces the
    identical seen set to a bloom-off crawl — auto sizing changes cost
    routing only, never semantics."""
    from doccrawler_spark.crawl import CrawlConfig, crawl, seen_all
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]

    def run(name, **kw):
        cfg = CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                          seen_buckets=8, **kw)
        cat = crawl(spark, web, seeds, os.path.join(str(tmp_path), name), cfg)
        return {(r["url"], r["round"], r["depth"])
                for r in seen_all(spark, cat).collect()}

    off = run("off", bloom_prefilter=False)
    auto = run("auto", bloom_m_bits=0, bloom_min_seen=0)
    assert off and auto == off


def test_bloom_auto_resize_mid_crawl_rebuilds_exactly(spark, tmp_path):
    """Cranked bits_per_url makes the auto size cross a pow-4 step
    while the crawl is still running: later bloom snapshots must carry
    a LARGER max m_bits than round-1's (the resize actually fired),
    and the final seen set must equal the bloom-off crawl (resizes can
    never cost exactness).  The resize must APPEND a generation
    (O(new-delta)): the final snapshot shows ≥2 of them."""
    from doccrawler_spark.crawl import CrawlConfig, crawl, seen_all
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]

    def run(name, **kw):
        cfg = CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                          seen_buckets=8, **kw)
        cat = crawl(spark, web, seeds, os.path.join(str(tmp_path), name), cfg)
        return cat, {(r["url"], r["round"], r["depth"])
                     for r in seen_all(spark, cat).collect()}

    _, off = run("off", bloom_prefilter=False)

    cat, auto = run("chained", bloom_m_bits=0, bloom_min_seen=0,
                    bloom_bits_per_url=50_000)
    assert off and auto == off

    ms = []
    for r in cat.committed_rounds(B.BLOOM_TABLE):
        df = cat.read(spark, B.BLOOM_TABLE, r)
        gens = sorted(x["m_bits"] for x in
                      df.select("m_bits").distinct().collect())
        ms.append(gens)
    assert len(ms) >= 2, "crawl too short to observe a resize"
    assert max(ms[-1]) > max(ms[0]), f"resize never fired: {ms}"
    assert all(max(b) >= max(a) for a, b in zip(ms, ms[1:])), ms
    assert len(ms[-1]) >= 2, f"resize rebuilt instead of appending: {ms}"


def test_bloom_chained_no_false_negatives_and_exact(spark):
    """Generation-chained primitives: deltas built at DIFFERENT m_bits
    merge as separate generations (never cross-m zip_with), every
    inserted url routes to maybe-seen (no false negatives across the
    chain), and prefilter_new_chained equals the plain anti-join
    exactly for candidates overlapping both generations."""
    nb, k = 8, 6
    a, b = _urls(spark, "gen-a", 300), _urls(spark, "gen-b", 300)
    bl_a = B.bloom_delta(a, nb, 1 << 10, k)   # old, small generation
    bl_b = B.bloom_delta(b, nb, 1 << 12, k)   # post-resize generation
    chain = B.bloom_merge_gens([bl_a, bl_b])

    gens = sorted(r["m_bits"] for r in
                  chain.select("m_bits").distinct().collect())
    assert gens == [1 << 10, 1 << 12]

    seen = a.unionByName(b)
    _new, maybe = B.split_maybe_chained(seen, chain, nb, k)
    assert _new.count() == 0 and maybe.count() == 600  # no FNs

    cand = seen.unionByName(_urls(spark, "fresh", 200))
    got = {r["url"] for r in B.prefilter_new_chained(
        cand, chain, seen, nb, k).collect()}
    want = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    assert got == want

    # merging two deltas of the SAME m folds into one generation whose
    # bits equal the bulk build (the within-generation or-merge law)
    bl_a2 = B.bloom_delta(b, nb, 1 << 10, k)
    folded = B.bloom_merge_gens([bl_a, bl_a2])
    bulk = {r["bucket"]: list(r["words"])
            for r in B.bloom_delta(seen, nb, 1 << 10, k).collect()}
    assert {r["bucket"]: list(r["words"])
            for r in folded.collect()} == bulk


def test_bloom_chained_single_gen_routes_like_flat(spark):
    """With exactly one generation the chained probe partitions
    candidates identically to the flat one-array Bloom test — all k
    of bloom_delta's own bit positions set in the bucket's words —
    so the chain is a strict generalization, not a different filter."""
    nb, m, k = 8, 1 << 12, 6
    seen = _urls(spark, "s", 400)
    cand = seen.unionByName(_urls(spark, "c", 400))
    bl = B.bloom_delta(seen, nb, m, k)

    def bit(i):
        p = B._pos_sql("url", i, m)
        return (f"((element_at(words, CAST(({p}) DIV 64 AS INT) + 1)"
                f" >> CAST(({p}) % 64 AS INT)) & 1) = 1")

    flat = (
        cand.withColumn("_b", F.expr(B.bucket_expr("url", nb)))
        .join(bl.select(F.col("bucket").alias("_b"), "words"), "_b", "left")
        .withColumn("m", F.expr(
            "coalesce(" + " AND ".join(bit(i) for i in range(k)) + ", false)"
        ))
    )
    new_c, maybe_c = B.split_maybe_chained(cand, bl, nb, k)
    assert ({r["url"] for r in flat.filter(~F.col("m")).collect()}
            == {r["url"] for r in new_c.collect()})
    assert ({r["url"] for r in flat.filter(F.col("m")).collect()}
            == {r["url"] for r in maybe_c.collect()})


def test_fold_bloom_collapses_generations(spark, tmp_path):
    """fold_bloom (the vacuum-cadence maintenance op): a chained crawl
    that resized mid-run carries ≥2 generations; folding rewrites the
    committed snapshot as ONE generation sized for today's seen set,
    bit-identical to the bulk build, and the healed filter keeps
    routing with zero false negatives — and the chain can keep
    growing from the folded base (resume extends, not rebuilds)."""
    from doccrawler_spark.crawl import (
        CrawlConfig, _ensure_bloom, crawl, fold_bloom, seen_all,
    )
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    cfg = CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                      seen_buckets=8, bloom_m_bits=0, bloom_min_seen=0,
                      bloom_bits_per_url=50_000)
    cat = crawl(spark, web, seeds, os.path.join(str(tmp_path), "c"), cfg)
    last = cat.committed_rounds(B.BLOOM_TABLE)[-1]
    before = cat.read(spark, B.BLOOM_TABLE, last)
    assert before.select("m_bits").distinct().count() >= 2

    folded = fold_bloom(spark, cat, cfg)
    assert folded.select("m_bits").distinct().count() == 1
    m = folded.select("m_bits").first()["m_bits"]

    seen_urls = seen_all(spark, cat).select("url").distinct()
    bulk = {r["bucket"]: list(r["words"])
            for r in B.bloom_delta(seen_urls, 8, m, cfg.bloom_k).collect()}
    assert {r["bucket"]: list(r["words"])
            for r in folded.collect()} == bulk

    # the committed fold is what heals on resume, and it still routes
    # every seen url to the exact check (no FNs through the fold)
    healed = _ensure_bloom(spark, cat, cfg, last)
    new, _maybe = B.split_maybe_chained(seen_urls, healed, 8, cfg.bloom_k)
    assert new.count() == 0


def test_bloom_auto_fold_fires_mid_crawl(spark, tmp_path):
    """r8 self-maintaining cadence: with bloom_fold_gens=2 the crawl
    loop itself folds the chain as soon as a committed snapshot
    carries 2 generations — no operator-remembered maintenance — and
    the fold can never cost exactness (seen set equals the bloom-off
    crawl).  The fold is observable via the timings hook and via the
    collapsed generation count of the snapshot it rewrote."""
    from doccrawler_spark.crawl import CrawlConfig, crawl, seen_all
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]

    def run(name, **kw):
        cfg = CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                          seen_buckets=8, **kw)
        t: dict = {}
        cat = crawl(spark, web, seeds, os.path.join(str(tmp_path), name),
                    cfg, timings=t)
        return cat, t, {(r["url"], r["round"], r["depth"])
                        for r in seen_all(spark, cat).collect()}

    _, _, off = run("off", bloom_prefilter=False)
    cat, t, folded = run("fold", bloom_m_bits=0, bloom_min_seen=0,
                         bloom_bits_per_url=50_000, bloom_fold_gens=2)
    assert folded == off
    assert t.get("fold_sec") is not None  # the cadence actually fired
    # every snapshot the fold rewrote carries ONE generation; none may
    # exceed the threshold the cadence maintains
    per_round = [
        cat.read(spark, B.BLOOM_TABLE, r).select("m_bits")
        .distinct().count()
        for r in cat.committed_rounds(B.BLOOM_TABLE)
    ]
    assert max(per_round) <= 2, per_round
    assert per_round[-1] == 1, per_round
