"""``crawl_polite``: a seeded web crawled by the engine and checked
against the sequential oracle (tests/oracle.py).

The web is small_spec-shaped: a hot host with ~60% of URLs that has a
robots crawl-delay and Disallow rules, a sitemap-mode site, and small
pages.  The crawl runs with the reference's per-site budget of 50 and
a depth limit, stops after an early round and resumes.  Per-round
fixed cost dominates: planning, the IN-list point lookup, the salted
politeness top-k, the budget, snapshot commits, the driver state and
the resume path.  Extraction is small, so an extract-kernel change
should leave it unchanged.
"""

from __future__ import annotations

import dataclasses
import shutil
import statistics
import sys
import time

from . import inputs


NAME = "crawl_polite"
# depth 2 gives the seed round and one round; the crawl stops after the
# seed round and resumes
MAX_DEPTH, BUDGET_PER_SITE, ROUND_SECONDS, STOP_AFTER = 2, 50, 10.0, 0


def _configs():
    if inputs.ROOT not in sys.path:
        sys.path.insert(0, inputs.ROOT)
    from doccrawler_spark.crawl import CrawlConfig
    from tests.oracle import OracleConfig

    ecfg = CrawlConfig(max_depth=MAX_DEPTH, budget_per_site=BUDGET_PER_SITE,
                       round_seconds=ROUND_SECONDS)
    ocfg = OracleConfig(max_depth=MAX_DEPTH, budget_per_site=BUDGET_PER_SITE,
                        round_seconds=ROUND_SECONDS, max_rounds=ecfg.max_rounds)
    return ecfg, ocfg


def prepare(seed: int, work: str) -> dict:
    """Untimed: the seeded web, its seeds and the oracle's answer."""
    from doccrawler_spark.webgen import small_spec

    spec = inputs.with_seed(small_spec(), seed)
    web = inputs.web(work, spec)
    oracle = inputs.crawl_oracle(work, spec, web, _configs()[1])
    return {"web": web, "seeds": inputs.seeds_of(spec), "oracle": oracle}


def load(spark, prepared: dict):
    return spark.read.parquet(prepared["web"])


def warm_up(spark, web_df, prepared: dict, snap_root: str) -> None:
    """Untimed: the first crawl leg once.  A cold seed leg took ~18 s
    against ~7 s warm and its JIT time was what varied from run to run;
    round 1 is left cold (~1.5 s of a ~15 s pass) to keep set-up short."""
    from doccrawler_spark import crawl as C

    ecfg, _ = _configs()
    shutil.rmtree(snap_root, ignore_errors=True)
    C.crawl(spark, web_df, prepared["seeds"], snap_root,
            dataclasses.replace(ecfg, max_rounds=STOP_AFTER))


def run_pass(spark, web_df, prepared: dict, snap_root: str) -> dict:
    """One timed crawl from a clean snapshot directory — stopped after
    round STOP_AFTER, then resumed — and the untimed oracle checks."""
    from doccrawler_spark import crawl as C

    ecfg, _ = _configs()
    shutil.rmtree(snap_root, ignore_errors=True)
    failures: list[str] = []
    t0 = time.perf_counter()
    try:
        C.crawl(spark, web_df, prepared["seeds"], snap_root,
                dataclasses.replace(ecfg, max_rounds=STOP_AFTER))
        C.crawl(spark, web_df, prepared["seeds"], snap_root, ecfg, resume=True)
    except Exception as e:  # a crawl leg raised: counted, run goes on
        failures.append(f"{NAME}.crawl_raised: {type(e).__name__}: {e}")
    crawl_s = time.perf_counter() - t0
    snap = read_snapshots(snap_root)
    if not failures:
        failures += check(snap, prepared["oracle"])
        failures += golden_check(snap, prepared["web"])
    return {
        "crawl_s": crawl_s, "pages": len(snap["crawled"]), "attempted": 2,
        "failures": failures, "snap": snap,
    }


def read_snapshots(root: str) -> dict:
    """The committed crawl state, read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    from doccrawler_spark.snapshots import SnapshotCatalog

    cat = SnapshotCatalog(root)

    def rows(table, cols):
        out = []
        for r in cat.committed_rounds(table):
            t = pq.read_table(cat.data_path(table, r), columns=cols)
            out += t.to_pylist()
        return out

    crawled = rows("crawled", ["url", "site_id", "depth", "round", "priority", "text"])
    crawled.sort(key=lambda r: r["priority"])
    frontier = rows("frontier", ["url", "is_new"])
    budget_rounds = cat.committed_rounds("budget")
    budget = {}
    if budget_rounds:
        t = pq.read_table(cat.data_path("budget", budget_rounds[-1]),
                          columns=["site_id", "used"])
        budget = dict(zip(t["site_id"].to_pylist(), t["used"].to_pylist()))
    metrics = rows("metrics", ["bytes_fetched"])
    return {
        "crawled": crawled,
        "seen": {r["url"] for r in frontier if r["is_new"]},
        "budget": budget,
        "errors": len(rows("errors", ["url"])),
        "html_bytes": sum(r["bytes_fetched"] or 0 for r in metrics),
    }


def check(snap: dict, oracle: dict) -> list[str]:
    """Seen set, order at (depth, priority) granularity, text
    byte-identical to web_pages.text (via the oracle's digests, which
    equal the golden column's), budget spent and miss count."""
    fails = []
    eng, orc = snap["crawled"], oracle["crawled"]
    if len(eng) != len(orc):
        fails.append(f"{NAME}.crawled_count: engine {len(eng)} oracle {len(orc)}")
    for e, o in zip(eng, orc):
        got = [e["url"], e["site_id"], e["depth"], e["round"], e["priority"],
               inputs.text_digest(e["text"])]
        if got != o:
            fails.append(f"{NAME}.crawl_order_or_text: engine {got[:5]} "
                         f"oracle {o[:5]} text_equal={got[5] == o[5]}")
            break
    seen_o = set(oracle["seen"])
    if snap["seen"] != seen_o:
        fails.append(f"{NAME}.seen_set: engine-only {len(snap['seen'] - seen_o)} "
                     f"oracle-only {len(seen_o - snap['seen'])}")
    if snap["budget"] != oracle["budget"]:
        fails.append(f"{NAME}.budget: engine {snap['budget']} oracle {oracle['budget']}")
    if snap["errors"] != oracle["misses"]:
        fails.append(f"{NAME}.misses: engine {snap['errors']} oracle {oracle['misses']}")
    return fails


def golden_check(snap: dict, web_path: str) -> list[str]:
    """Crawled text equals the web_pages.text column byte for byte."""
    golden = inputs.read_web(web_path, ["url", "text"])
    g = dict(zip(golden["url"], golden["text"]))
    bad = [r["url"] for r in snap["crawled"] if g.get(r["url"]) != r["text"]]
    return [f"{NAME}.golden_text: {len(bad)} pages differ, first {bad[0]}"] if bad else []


def layer_metrics(tracer, passes: list[dict], cores: int) -> dict:
    """Per-layer crawl metrics from the traced pass's spans."""
    from .trace import counters_of

    sp = tracer.spans
    rounds = [s for s in sp if s.name == "crawl.run_round"]
    round_ids = {s.id for s in rounds}
    writes = [s for s in sp if s.name.startswith("snapshots.write.")]
    round_writes = [s for s in writes if s.parent in round_ids]

    def dur(spans):
        return sum(s.dur for s in spans)

    def table(t):
        return [s for s in round_writes if s.attrs.get("table") == t]

    rounds_s = dur(rounds)
    plan_s = sum(tracer.self_time(s) for s in rounds) + sum(
        c.dur for s in rounds for c in tracer.children(s)
        if not c.name.startswith("snapshots.write."))
    few = table("crawled")
    few_c = counters_of(tracer, few)
    crawl_c = counters_of(tracer, [s for s in sp if s.name == "crawl.crawl"])
    rounds_c = counters_of(tracer, rounds)
    snap = passes[-1]["snap"]
    pages = len(snap["crawled"])
    fetched = few_c.get("outputRecords", 0)
    compacts = [s for s in sp if s.name == "snapshots.compact"]
    before = after = 0
    for c in compacts:
        for b, a in (c.attrs.get("result") or {}).values():
            before += b
            after += a
    write_c = counters_of(tracer, writes)
    jobs_per_round = [counters_of(tracer, [s]).get("jobs", 0) for s in rounds]
    return {
        "crawl.seed_s": dur(s for s in sp if s.name == "crawl.seed_round"),
        "crawl.rounds": len(rounds),
        "crawl.rounds_s": rounds_s,
        "crawl.round_s_p50": statistics.median([s.dur for s in rounds]) if rounds else 0.0,
        "crawl.jobs_per_round": statistics.mean(jobs_per_round) if rounds else 0.0,
        "crawl.plan_s": plan_s,
        "crawl.busy_frac": (rounds_c.get("executorRunTime", 0) / 1e3
                            / (rounds_s * cores)) if rounds_s else 0.0,
        "crawl.fetch_extract_write_s": dur(few),
        "crawl.fetch_extract_write.executor_cpu_s": few_c.get("executorCpuTime", 0) / 1e9,
        "crawl.discover_dedup_frontier_s": dur(table("frontier")),
        "crawl.metrics_s": dur(table("metrics")),
        "crawl.errors_s": dur(table("errors")),
        "crawl.budget_s": dur(table("budget")),
        "crawl.resume_s": dur(s for s in sp if s.name == "crawl.crawl"
                              and s.attrs.get("resume")),
        "crawl.gc_s": crawl_c.get("jvmGcTime", 0) / 1e3,
        "crawl.shuffle_write_mb": crawl_c.get("shuffleWriteBytes", 0) / 1e6,
        "crawl.bucketed_dedup_rounds": sum(1 for s in rounds if s.attrs.get("bucketed_dedup")),
        "fetch.point_lookup_rounds": sum(1 for s in rounds if s.attrs.get("point_lookup")),
        "fetch.input_rows_per_page": few_c.get("inputRecords", 0) / fetched if fetched else 0.0,
        "fetch.input_mb": few_c.get("inputBytes", 0) / 1e6,
        "fetch.miss_frac": snap["errors"] / (pages + snap["errors"]) if pages else 0.0,
        "extract.pages": fetched,
        "extract.html_mb": snap["html_bytes"] / 1e6,
        "shuffle.salted_exchange_mb": crawl_c.get("salted_exchange_bytes", 0) / 1e6,
        "bloom.engaged_rounds": sum(1 for s in rounds if s.attrs.get("bloom")),
        "snapshots.commits": len(writes),
        "snapshots.write_mb_per_page": (write_c.get("outputBytes", 0) / 1e6 / pages
                                        if pages else 0.0),
        "snapshots.compact_s": dur(compacts),
        "snapshots.files_before_compact": before,
        "snapshots.files_after_compact": after,
    }
