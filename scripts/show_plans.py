#!/usr/bin/env python
"""Capture the physical plans of the engine's key operators and check
the load-bearing plan properties (broadcast side, pushed filters,
whole-stage codegen, TakeOrderedAndProject) — writes BENCH/PLANS.md.

Scratch data goes to one temporary directory, removed on exit."""

from __future__ import annotations

import datetime
import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    """formatted plan + simple plan (the latter shows WholeStageCodegen
    spans as *(n) stage markers)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        print("\n-- simple (codegen stages marked *(n)) --")
        df.explain()
    return buf.getvalue()


def main() -> None:
    tmp = tempfile.mkdtemp(prefix="plans_")
    try:
        write_plans(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_plans(tmp: str) -> None:
    from doccrawler_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=8)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. fetch join: frontier (small) must broadcast; corpus must not shuffle
    web = spark.createDataFrame(
        [(f"https://h.test/{i}", bytearray(b"<p>x</p>")) for i in range(1000)],
        "url string, html binary",
    )
    d = tempfile.mkdtemp(dir=tmp)
    web.write.parquet(f"{d}/web")
    webp = spark.read.parquet(f"{d}/web")
    fr = spark.createDataFrame([(f"https://h.test/{i}",) for i in range(40)], "url string")
    fr.write.parquet(f"{d}/fr")
    frp = spark.read.parquet(f"{d}/fr")
    from doccrawler_spark import functions as Fx

    fetch = frp.join(webp, "url", "inner").withColumn(
        "page", Fx.extract_page_udf(F.col("html"))
    )
    sections.append((
        "Fetch join (frontier ⋈ web_pages) + fused extract UDF",
        plan_of(fetch),
        ["BroadcastHashJoin", "ArrowEvalPython", "PushedFilters"],
    ))

    # 2. dedup groupBy: partial aggregation (map-side combine)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from doccrawler_spark.ops.dedup import exact_dedup

    sections.append((
        "Exact dedup (hash-groupBy, partial agg before shuffle)",
        plan_of(exact_dedup(docs)),
        ["partial_min", "partial_count", "Exchange", "*("],
    ))

    # 3. cosine top-k: TakeOrderedAndProject (per-partition top-k + merge)
    from doccrawler_spark.ops.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qv = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    sections.append((
        "Brute-force cosine top-k (orderBy+limit → TakeOrderedAndProject)",
        plan_of(cosine_topk(emb, list(qv), k=10)),
        ["TakeOrderedAndProject"],
    ))

    # 4. text ops: column pruning reaches the scan
    from doccrawler_spark.ops.text import token_stats

    sections.append((
        "Token stats (scan must read only doc_id+text, codegen end-to-end)",
        plan_of(token_stats(docs)),
        ["ReadSchema: struct<doc_id", "*("],
    ))

    # 5. embedding near-dup: banded LSH bucket join — NEVER a cartesian
    # product; singleton buckets pruned via LeftSemi before the self-join
    from doccrawler_spark.ops.dedup import embedding_neardup_pairs

    sections.append((
        "Embedding near-dup (banded sign-bit LSH buckets scored by the "
        "per-bucket Arrow-GEMM pair kernel, r9; threshold applied "
        "in-worker — never all-pairs, no candidate-pair shuffle)",
        plan_of(embedding_neardup_pairs(emb, threshold=0.3)),
        ["FlatMapGroupsInPandas", "!CartesianProduct",
         "!BroadcastNestedLoopJoin"],
    ))

    # 6. bulk ANN knn_join: bucket equi-join + bounded per-query window
    from doccrawler_spark.ops.similarity import knn_join

    q = emb.limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sections.append((
        "knn_join (multi-band cogrouped Arrow-GEMM scorer + bounded "
        "per-query window, no cartesian; r8)",
        plan_of(knn_join(emb, q, k=5, n_bits=4, n_tables=4)),
        ["FlatMapCoGroupsInPandas", "Window", "!CartesianProduct",
         "!BroadcastNestedLoopJoin"],
    ))

    # 6b. write-time ANN layouts: the indexed IVF/LSH scans must PRUNE —
    # PartitionFilters reach the FileScan (empty [] would mean a full
    # corpus scan per query, the r3 weakness this layout closes)
    from doccrawler_spark.ops.similarity import (
        hash_sample_centroids,
        ivf_topk_indexed,
        lsh_topk_indexed,
        write_ivf_index,
        write_lsh_index,
    )

    idx_root = tempfile.mkdtemp(prefix="ann_", dir=tmp)
    write_ivf_index(emb, f"{idx_root}/ivf",
                    centroids=hash_sample_centroids(emb, 8))
    ivf_df = ivf_topk_indexed(spark, f"{idx_root}/ivf", list(qv), k=10,
                              n_probe=2)
    ivf_plan = plan_of(ivf_df)
    sections.append((
        "IVF top-k over the write-time cell layout (scan addresses "
        "n_probe=2 of 8 cell partition dirs directly — the file index "
        "holds ONLY the probed paths)",
        ivf_plan,
        ["PartitionFilters: [", "!PartitionFilters: []",
         "InMemoryFileIndex(2 paths)", "TakeOrderedAndProject"],
    ))
    write_lsh_index(emb, f"{idx_root}/lsh", n_bits=8, n_tables=4)
    lsh_df = lsh_topk_indexed(spark, f"{idx_root}/lsh", list(qv), k=10)
    sections.append((
        "LSH top-k over the write-time (band,key) layout (<=4 bucket "
        "dirs of n_tables*2^8 addressed directly, no full partition "
        "discovery)",
        plan_of(lsh_df),
        ["PartitionFilters: [", "!PartitionFilters: []",
         "InMemoryFileIndex(4 paths)", "TakeOrderedAndProject"],
    ))

    # 6c. bulk ANN over the layout (r5): the index-side search the
    # 100-TB dedup workload runs — corpus side must be a pruned scan of
    # only the bucket dirs the query batch probes (strictly fewer than
    # the 4×2^4=64-dir layout), joined + windowed, never re-banded
    from doccrawler_spark.ops.similarity import (
        knn_join_indexed,
        write_lsh_index as _wli,
    )

    _wli(emb, f"{idx_root}/knn_lsh", n_bits=4, n_tables=4)
    kji = knn_join_indexed(spark, f"{idx_root}/knn_lsh", q, k=5)
    kji_plan = plan_of(kji)
    import re as _re

    m = _re.search(r"InMemoryFileIndex\((\d+) paths\)", kji_plan)
    from doccrawler_spark.ops.similarity import _layout

    n_layout_dirs = sum(
        1 for b in os.scandir(_layout(f"{idx_root}/knn_lsh")["path"])
        if b.is_dir() for _ in os.scandir(b.path)
    )
    pruned_note = (
        f"(pruned file index: {m.group(1) if m else '?'} paths of "
        f"{n_layout_dirs} layout dirs)"
    )
    # pruning is driver-side path addressing (the file index holds ONLY
    # probed dirs) — there is no partition-filter pushdown to assert
    # since r8's cogrouped scorer replaced the (band,key) equi-join
    checks = ["FlatMapCoGroupsInPandas", "!CartesianProduct"]
    if m and int(m.group(1)) < n_layout_dirs:
        checks.append("InMemoryFileIndex(%s paths)" % m.group(1))
    sections.append((
        "knn_join_indexed (bulk ANN over the write-time (band,key) "
        "layout: banded query batch cogrouped with the pruned bucket "
        "scan) " + pruned_note,
        kji_plan,
        checks,
    ))

    # 7. minhash signatures: ONE md5 per TOKEN, shingle keys by integer
    # combine, per-doc array_min projection — NO explode, NO shuffle
    from doccrawler_spark.ops.dedup import minhash_signatures

    # (the only Exchange allowed is _fan_out's deliberate
    # REPARTITION_BY_NUM input spread — no ENSURE_REQUIREMENTS shuffle
    # means no groupBy/join exchange anywhere in the operator; r9: the
    # keys+signature kernel is one fused Arrow stage)
    sections.append((
        "MinHash signatures (fused Arrow keys+signature kernel, "
        "shuffle-free)",
        plan_of(minhash_signatures(docs)),
        ["MapInPandas", "!ENSURE_REQUIREMENTS", "!Generate"],
    ))
    # 8. cluster-scale seen-set path, generated from the crawl's OWN
    # bucketed seen table (not a hand-made one): run the tiny web with
    # broadcast_dedup_max_frontier=0 so every round takes the bucketed
    # branch, then assert the anti-join reads the seen side
    # bucket-in-place — Exchange ONLY on the candidate side (the plan
    # slice from the seen FileScan onward must contain none).
    from doccrawler_spark.crawl import CrawlConfig, crawl
    from doccrawler_spark.webgen import gen_seeds, tiny_spec, web_pages_pandas

    spec = tiny_spec()
    web = spark.createDataFrame(
        web_pages_pandas(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = [s["seed_url"] for s in gen_seeds(spec)]
    snap_root = tempfile.mkdtemp(prefix="crawl_", dir=tmp)
    catalog = crawl(spark, web, seeds, snap_root,
                    CrawlConfig(max_depth=3, broadcast_dedup_max_frontier=0,
                                seen_buckets=8))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cand = spark.range(3000).select(
        F.concat(F.lit("https://h/"), (F.col("id") * 7).cast("string")).alias("url")
    )
    anti = cand.join(catalog.seen_table(spark, 8), "url", "left_anti")
    full_plan = plan_of(anti)
    seen_slice = full_plan[full_plan.index("FileScan"):]
    sections.append((
        "Crawl's bucketed seen-set anti-join (cluster-scale F8: "
        "seen side scanned bucket-in-place, zero Exchange from its FileScan on)",
        seen_slice,
        ["Bucketed: true", "!Exchange"],
    ))
    sections.append((
        "  ... full plan of the same join (candidate side exchanges to "
        "the bucket count; LeftAnti SMJ)",
        full_plan,
        ["LeftAnti", "Bucketed: true"],
    ))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # 9. a point-lookup crawl round (the small-round path) on a
    # crawl-delayed host: the crawled write reads the fetched rows from
    # an Arrow local relation (no pickled-RDD scan job per consumer),
    # and the politeness cut ranks its driver-read inputs in one
    # partition, with no Exchange and no parquet scan.  Plans are
    # captured at the engine's own write call and at whichever action
    # brings the cut to the driver.
    from doccrawler_spark.snapshots import SnapshotCatalog
    from doccrawler_spark.webgen import SiteSpec, WebSpec

    slow = WebSpec(sites=(SiteSpec("docs.slow.test", 40, branching=8,
                                   crawl_delay=20.0),))
    slow_web = spark.createDataFrame(
        web_pages_pandas(slow),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    captured: dict[str, str] = {}
    DataFrame = type(slow_web)  # the concrete (classic) DataFrame class
    real_write = SnapshotCatalog.write
    actions = {name: getattr(DataFrame, name) for name in (
        "collect", "toArrow", "toPandas", "toLocalIterator", "_collect_as_arrow")}

    def write(self, df, table, round_, *a, **k):
        if table == "crawled":
            captured.setdefault("crawled", plan_of(df))
        return real_write(self, df, table, round_, *a, **k)

    def hooked(real):
        def action(df, *a, **k):
            if "_now" in df.columns:
                captured.setdefault("cut", plan_of(df))
            return real(df, *a, **k)
        return action

    SnapshotCatalog.write = write
    for name, real in actions.items():
        setattr(DataFrame, name, hooked(real))
    try:
        crawl(spark, slow_web, [s["seed_url"] for s in gen_seeds(slow)],
              tempfile.mkdtemp(prefix="crawl_polite_", dir=tmp),
              CrawlConfig(max_depth=3, max_rounds=1))
    finally:
        SnapshotCatalog.write = real_write
        for name, real in actions.items():
            setattr(DataFrame, name, real)
    sections.append((
        "Point-lookup crawl round: the crawled write (fetch join + fused "
        "extract) over the politeness cut's Arrow local relation",
        captured["crawled"],
        ["LocalTableScan", "!Scan ExistingRDD", "ArrowEvalPython"],
    ))
    # (the robots dim still broadcasts: BroadcastExchange is expected,
    # a planner-inserted shuffle — ENSURE_REQUIREMENTS — is not)
    sections.append((
        "Point-lookup crawl round: the politeness cut (salted top-k "
        "over one partition of driver-read local relations; both "
        "windows, no shuffle Exchange, no parquet scan)",
        captured["cut"],
        ["Window", "Coalesce", "LocalTableScan", "!Scan parquet",
         "!ENSURE_REQUIREMENTS", "!hashpartitioning"],
    ))

    md = [f"# BENCH/PLANS — physical plans of key operators ({datetime.date.today()})",
          "", "Regenerate with `python scripts/show_plans.py`. Each section lists",
          "the plan properties asserted (`!x` = must be ABSENT; present/absent",
          "unless marked MISSING/UNEXPECTED).", ""]
    ok = True
    for title, plan, checks in sections:
        md.append(f"## {title}\n")
        for c in checks:
            if c.startswith("!"):
                bad = c[1:] in plan
                mark = "**UNEXPECTEDLY PRESENT**" if bad else "absent (good)"
                ok = ok and not bad
            else:
                bad = c not in plan
                mark = "**MISSING**" if bad else "present"
                ok = ok and not bad
            md.append(f"- `{c}`: {mark}")
        md.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(md))
    print("wrote BENCH/PLANS.md; all checks pass:", ok)
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
