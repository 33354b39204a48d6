#!/usr/bin/env python
"""Per-stage strong-scaling table (north_rule evidence, leg 2).

The e2e crawl on ONE box saturates the shared memory bus (see
BENCH/HARDWARE.md); this script isolates WHERE by running each pipeline
stage as its own job at two parallelism levels (separate JVMs), same
input, best-of-N:

  scan       parquet scan+decode of the html corpus, sum(length)   [bus]
  extract    scan + fused extract+discover Arrow UDF               [bus+cpu]
  vectorize  chunk texts -> dense hash embed + BM25 encode         [cpu]
  jvm_hash   pure JVM codegen chain over spark.range (no input)    [cpu]

Efficiency N->M cores = (t_N / t_M) / (M / N).  A cluster multiplies
memory buses with executors, so the cpu-stage numbers are the honest
predictor of 4N-executor scaling; the bus-stage numbers are the
single-box artifact, quantified.

Usage: python scripts/stage_scaling.py [--low 8] [--high 32]
       [--pages 60000] [--repeats 3]
Writes BENCH/STAGES.md.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["STAGE_REPO"])
from doccrawler_spark.session import get_spark
from pyspark.sql import functions as F

cpus = int(os.environ["STAGE_CPUS"])
pages = int(os.environ["STAGE_PAGES"])
repeats = int(os.environ["STAGE_REPEATS"])
web_path = os.environ["STAGE_WEB"]

spark = get_spark(app_name=f"stage_{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=64)

from doccrawler_spark import functions as Fx
from doccrawler_spark.kernels import embed as embed_k

# deterministic ~pages-row slice (hash-mod filter, NOT limit — both
# parallelism legs must see the exact same rows)
full = spark.read.parquet(web_path)
total = full.count()
mod = max(1, round(total / pages))
web = full.filter((F.abs(F.xxhash64("url")) % mod) == 0)
web = web.repartition(64).cache()
n_rows = web.count()
print(f"[stage worker] cpus={cpus} rows={n_rows}", flush=True)

# one warm-up Arrow job so Python workers pay import cost up front
n = spark.sparkContext.defaultParallelism * 4
(spark.range(n).repartition(n)
 .withColumn("h", F.encode(F.lit("<p>w</p>"), "utf-8"))
 .withColumn("p", Fx.extract_page_udf(F.col("h")))
 .select(F.sum(F.length("p.text"))).collect())

texts = web.select(F.col("text").alias("chunked_data"))
stats = embed_k.fit_bm25(["warm up fit corpus"])
bc = spark.sparkContext.broadcast(stats.to_dict())


def stage_scan():
    web.select(F.sum(F.length("html"))).collect()

def stage_extract():
    (web.withColumn("p", Fx.extract_page_udf(F.col("html")))
     .select(F.sum(F.length("p.text")), F.sum(F.size("p.links"))).collect())

def stage_vectorize():
    (texts
     .withColumn("v", Fx.dense_embed_udf(64)(F.col("chunked_data")))
     .withColumn("s", Fx.bm25_encode_udf(bc)(F.col("chunked_data")))
     .select(F.sum(F.size("v")), F.sum(F.size("s.indices"))).collect())

def stage_jvm_hash():
    m = 80_000_000
    (spark.range(m).repartition(256)
     .select(F.sum(F.xxhash64(F.md5(F.col("id").cast("string"))) % 1024))
     .collect())

# a REAL engine operator as the cpu-dense leg: MinHash signatures
# (16 md5 evaluations per shingle, JVM codegen) over a half slice
docs_like = (web.filter((F.abs(F.xxhash64("url")) % 2) == 0)
             .select(F.xxhash64("url").alias("doc_id"),
                     F.col("text")).cache())
docs_like.count()

def stage_minhash():
    from doccrawler_spark.ops.dedup import minhash_signatures
    minhash_signatures(docs_like, n=3, k=16).select(
        F.sum(F.size("sig"))).collect()

def stage_simhash():
    from doccrawler_spark.ops.dedup import simhash64
    simhash64(docs_like).select(F.sum("simhash")).collect()

# r5: the dedup workhorses over the FULL crawled corpus (all 240k
# pages the crawl bench builds, not the pages-arg slice) — the
# dedup family's scaling evidence at the scale the crawl actually
# produces.  Text only is cached (html bytes excluded).  Under
# STAGE_SMOKE the "full" cells run over the tiny slice instead: every
# cell's CODE PATH executes in seconds, catching first-execution
# worker bugs (r7 lost two multi-hour runs to an ANSI div-by-zero and
# a sum overflow that a smoke pass would have caught) without the
# multi-minute full-corpus embed/minhash setup.
smoke = os.environ.get("STAGE_SMOKE") == "1"
only = {s for s in os.environ.get("STAGE_ONLY", "").split(",") if s}

# gate the expensive setups on the cell selection: a leg running only
# the slice cells must not pay the full-corpus cache (or, worse, the
# 300k-doc embed + LSH index build) — r8's 3h timed-out run paid both
# for nothing
def _selected(*names):
    return not only or bool(only & set(names))

_FULL_CELLS = ("minhash_crawl", "simhash_crawl",
               "knn_crawl", "knn_crawl_indexed")
_KNN_CELLS = ("knn_crawl", "knn_crawl_indexed")

docs_full = None
if _selected(*_FULL_CELLS):
    docs_full = ((web if smoke else full)
                 .select(F.xxhash64("url").alias("doc_id"),
                         F.col("text")).cache())
    n_full = docs_full.count()
    print(f"[stage worker] full-corpus docs={n_full}", flush=True)

def stage_minhash_crawl():
    from doccrawler_spark.ops.dedup import minhash_signatures
    minhash_signatures(docs_full, n=3, k=16).select(
        F.sum(F.size("sig"))).collect()

def stage_simhash_crawl():
    from doccrawler_spark.ops.dedup import simhash64
    simhash64(docs_full).select(F.sum("simhash")).collect()

# r7: indexed bulk-ANN over the CRAWL corpus's embedding space — the
# production dedup shape at the scale the crawl bench actually
# produces.  Embed all pages once (hash backend) and lay the space
# out as a write-time (band,key) LSH index — both UNTIMED setup, the
# write-once half of write-once-query-many — then the timed cells are
# one 256-query bulk top-k batch: inline (re-bands the corpus per
# batch) vs index-side (partition-pruned scan of only probed buckets).
import shutil as _sh
import tempfile as _tf
from doccrawler_spark.ops.similarity import (
    knn_join, knn_join_indexed, write_lsh_index,
)

# Banding at the bench layout's b8t4, NOT knn_join's b4 default: at
# 300k docs a 4-bit band keeps ~1/16 of the corpus as candidates, so
# 256 queries meant ~19M interpreted 64-dim cosine evals per rep —
# the r8 local[8] leg burned 40+ CPU-minutes inside
# ArrayTransform.nullSafeEval before being killed.  8-bit bands are
# the production shape at this scale (the candidate volume, not the
# scan, is what LSH must bound).
knn_bits = int(os.environ.get("STAGE_KNN_BITS", "8"))
knn_tables = int(os.environ.get("STAGE_KNN_TABLES", "4"))
knn_queries = int(os.environ.get("STAGE_KNN_QUERIES", "256"))

emb_full = qknn = _ann_tmp = _ann_root = None
if _selected(*_KNN_CELLS):
    emb_full = (docs_full
                .withColumn("embedding",
                            Fx.dense_embed_udf(64)(F.col("text")))
                .select(F.col("doc_id").alias("vec_id"), "embedding")
                .localCheckpoint(eager=True))
    _ann_tmp = _tf.mkdtemp(
        prefix="stage_ann_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    _ann_root = os.path.join(_ann_tmp, f"lsh_b{knn_bits}t{knn_tables}")
    t0 = time.time()
    write_lsh_index(emb_full, _ann_root, n_bits=knn_bits,
                    n_tables=knn_tables)
    print(f"[stage worker] knn setup: embed+index "
          f"b{knn_bits}t{knn_tables} in {time.time() - t0:.1f}s",
          flush=True)
    qknn = (emb_full.orderBy("vec_id").limit(knn_queries)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_emb"))
            .localCheckpoint(eager=True))

def stage_knn_crawl():
    # pmod before sum: vec_id is an xxhash64, raw sums overflow ANSI long
    knn_join(emb_full, qknn, k=5, n_bits=knn_bits,
             n_tables=knn_tables).select(
        F.sum(F.pmod(F.col("vec_id"), F.lit(1024)))).collect()

def stage_knn_crawl_indexed():
    knn_join_indexed(spark, _ann_root, qknn, k=5).select(
        F.sum(F.pmod(F.col("vec_id"), F.lit(1024)))).collect()

out = {}
for name, fn in [("scan", stage_scan), ("extract", stage_extract),
                 ("vectorize", stage_vectorize), ("jvm_hash", stage_jvm_hash),
                 ("minhash", stage_minhash), ("simhash", stage_simhash),
                 ("minhash_crawl", stage_minhash_crawl),
                 ("simhash_crawl", stage_simhash_crawl),
                 ("knn_crawl", stage_knn_crawl),
                 ("knn_crawl_indexed", stage_knn_crawl_indexed)]:
    if only and name not in only:
        continue
    # the full-corpus cells are ~8x the slice cells: cap at 2 reps
    reps = (min(repeats, 2)
            if name.endswith("_crawl") or name.startswith("knn_")
            else repeats)
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 2)
    # per-cell line so a leg that later hits the subprocess timeout
    # still yields every completed cell (r8: the 3h local[8] leg is
    # the expensive thing — never lose it whole again)
    print("CELLJSON " + json.dumps({name: out[name]}), flush=True)
if _ann_tmp:
    _sh.rmtree(_ann_tmp, ignore_errors=True)
print("STAGEJSON " + json.dumps(out))
"""


def code_stamp() -> str:
    """Identity of the operator code the numbers were measured on: the
    last commit TOUCHING the code dirs (+dirty marker when their
    working tree differs) — the --merge-prior key, so stale minima
    from older operator code can never mask a regression, while
    artifact-only commits (BENCH/*.md refreshes) don't needlessly
    invalidate a same-code merge."""
    try:
        head = subprocess.run(
            ["git", "log", "-1", "--format=%h", "--",
             "doccrawler_spark", "scripts", "bench.py"], cwd=REPO,
            capture_output=True, text=True, timeout=30,
        ).stdout.strip() or "unknown"
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--",
             "doccrawler_spark", "scripts"], cwd=REPO,
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        return head + ("+dirty" if dirty else "")
    except Exception:
        return "unknown"


def run_at(cpus: int, pages: int, repeats: int, web_path: str,
           timeout_s: int = 10800, smoke: bool = False,
           only: str = "") -> dict:
    # r8: timeout is a parameter — the r7 hardcoded 3600 s killed the
    # only complete stage run of the round (a local[8] leg with the
    # knn cells legitimately exceeds an hour in a throttled window)
    env = dict(os.environ, STAGE_REPO=REPO, STAGE_CPUS=str(cpus),
               STAGE_PAGES=str(pages), STAGE_REPEATS=str(repeats),
               STAGE_WEB=web_path, STAGE_SMOKE="1" if smoke else "",
               STAGE_ONLY=only)

    def _parse(stdout: str) -> dict:
        cells: dict = {}
        for line in stdout.splitlines():
            if line.startswith("CELLJSON "):
                cells.update(json.loads(line[len("CELLJSON "):]))
            elif line.startswith("STAGEJSON "):
                return json.loads(line[len("STAGEJSON "):])
        return cells

    # stream the worker's output to a side file instead of a pipe:
    # a multi-hour leg is tail-able live (which cell is it on?), and
    # on timeout/crash the file IS the salvage source — r8's first
    # 3h timed-out leg was a black box until it died
    live_log = f"/tmp/stage_worker_{cpus}.log"
    timed_out = False
    with open(live_log, "w", buffering=1) as lf:
        try:
            r = subprocess.run([sys.executable, "-c", _WORKER], env=env,
                               stdout=lf, stderr=subprocess.STDOUT,
                               text=True, timeout=timeout_s)
        except subprocess.TimeoutExpired:
            timed_out = True
    out_txt = open(live_log).read()
    cells = _parse(out_txt)
    if timed_out:
        if cells:
            print(f"[stages] local[{cpus}] TIMED OUT after {timeout_s}s; "
                  f"salvaged {len(cells)} cells: {cells}", flush=True)
            return cells
        raise RuntimeError(
            f"stage worker timed out with zero cells; tail:\n{out_txt[-2000:]}")
    if cells:
        if r.returncode != 0:
            print(f"[stages] local[{cpus}] worker exited rc={r.returncode} "
                  f"after {len(cells)} cells (salvaged):\n{out_txt[-2000:]}",
                  flush=True)
        return cells
    raise RuntimeError(f"stage worker failed:\n{out_txt[-2000:]}")


def ensure_corpus(pages_in_corpus: int = 240_000) -> str:
    """Reuse bench.py's cached corpus (generate if absent)."""
    cache_root = os.environ.get(
        "BENCH_WEB_CACHE",
        "/dev/shm/doccrawler_web_cache" if os.path.isdir("/dev/shm")
        else "/tmp/doccrawler_web_cache",
    )
    web_path = os.path.join(cache_root, f"web_{pages_in_corpus}_ts24_b16")
    if not os.path.exists(os.path.join(web_path, "_SUCCESS")):
        from doccrawler_spark.session import get_spark
        from doccrawler_spark.webgen import bench_spec, generate_web_pages_df

        spark = get_spark(app_name="stage_gen", master="local[32]")
        spec = bench_spec(n_pages=pages_in_corpus, n_sites=12)
        generate_web_pages_df(spark, spec).write.mode("overwrite").parquet(web_path)
        spark.stop()
    return web_path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--pages", type=int, default=60000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--timeout", type=int, default=10800,
                    help="per-leg subprocess timeout in seconds "
                         "(r7's hardcoded 3600 killed a legitimate "
                         "throttled-window local[8] leg)")
    ap.add_argument("--smoke", action="store_true",
                    help="execute every cell's code path at tiny scale "
                         "(full-corpus cells run the slice, repeats=1, "
                         "no STAGES.md write) — run this before every "
                         "long leg; two of r7's three failed runs were "
                         "first-execution worker bugs")
    ap.add_argument("--only", default="",
                    help="comma-separated cell names to run (rerun a "
                         "failed cell without repaying the others)")
    ap.add_argument("--merge-prior", action="store_true",
                    help="min each cell with the numbers already in "
                         "BENCH/STAGES.md (same pages/cores): CPU steal "
                         "only ever ADDS time, so the per-cell session "
                         "minimum is the best unthrottled estimate even "
                         "when the two legs of one invocation caught "
                         "different host moods")
    args = ap.parse_args()
    if args.only and not args.merge_prior:
        # an --only rerun that does NOT merge would regenerate STAGES.md
        # with just the rerun cells, silently erasing every other row
        print("[stages] --only implies --merge-prior (a partial table "
              "must merge into the prior one, never replace it)",
              flush=True)
        args.merge_prior = True

    sys.path.insert(0, REPO)
    web_path = ensure_corpus()

    if args.smoke:
        res = run_at(args.high, min(args.pages, 2000), 1, web_path,
                     timeout_s=args.timeout, smoke=True, only=args.only)
        print(f"[stages] SMOKE ok at local[{args.high}]: {res}",
              flush=True)
        return

    lo = run_at(args.low, args.pages, args.repeats, web_path,
                timeout_s=args.timeout, only=args.only)
    print(f"[stages] local[{args.low}]: {lo}", flush=True)
    hi = run_at(args.high, args.pages, args.repeats, web_path,
                timeout_s=args.timeout, only=args.only)
    print(f"[stages] local[{args.high}]: {hi}", flush=True)

    stamp = code_stamp()
    merged_note = ""
    merged = False
    if args.merge_prior:
        prior_path = os.path.join(REPO, "BENCH", "STAGES.md")
        try:
            txt = open(prior_path).read()
            pj = json.loads(txt.rsplit("```json", 1)[1].split("```")[0])
            if (pj.get("cores") == [args.low, args.high]
                    and pj.get("pages") == args.pages
                    and pj.get("code") == stamp):
                # start from the prior table so an --only rerun merges
                # its cells without dropping the rest
                lo = {**pj["low"],
                      **{k: min(v, pj["low"].get(k, v))
                         for k, v in lo.items()}}
                hi = {**pj["high"],
                      **{k: min(v, pj["high"].get(k, v))
                         for k, v in hi.items()}}
                merged_note = (
                    f"\nPer-cell minima MERGED with prior sessions at the "
                    f"same code stamp `{stamp}` (merge keyed on git HEAD: "
                    f"numbers from older operator code are never carried "
                    f"forward; last merge "
                    f"{datetime.date.today()}).\n"
                )
                merged = True
                print(f"[stages] merged prior minima (code={stamp}): "
                      f"lo={lo} hi={hi}", flush=True)
            elif pj.get("code") != stamp:
                print(f"[stages] --merge-prior skipped: prior code stamp "
                      f"{pj.get('code')!r} != current {stamp!r}", flush=True)
        except (OSError, IndexError, ValueError, KeyError):
            pass

    if args.only and not merged:
        # stamp mismatch / unreadable prior: a partial rewrite would
        # erase the other cells' rows — dump the legs and stop instead
        sys.exit(f"[stages] --only ran but the prior table could not be "
                 f"merged (stamp/params mismatch?) — refusing to write a "
                 f"partial STAGES.md. Raw legs: lo={lo} hi={hi}")

    factor = args.high / args.low
    # a leg can salvage PARTIAL cells (timeout path) — only pair-complete
    # cells get an efficiency/row; the one-sided ones are reported so a
    # rerun knows what to --only
    effs = {k: round((lo[k] / hi[k]) / factor, 3) for k in lo if k in hi}
    one_sided = sorted(set(lo) ^ set(hi))
    if one_sided:
        print(f"[stages] one-sided cells (no row written, rerun with "
              f"--only {','.join(one_sided)} --merge-prior): {one_sided}",
              flush=True)

    rows = "\n".join(
        f"| {k} | {lo[k]} | {hi[k]} | {effs[k]} |"
        for k in ["scan", "extract", "vectorize", "jvm_hash", "minhash",
                  "simhash", "minhash_crawl",
                  "simhash_crawl", "knn_crawl", "knn_crawl_indexed"]
        if k in effs
    )
    md = f"""# BENCH/STAGES — per-stage strong scaling ({datetime.date.today()})

Same input ({args.pages} pages of the bench corpus, ~23 KB HTML each,
cached in executor memory), each stage its own job in its own JVM at
local[{args.low}] vs local[{args.high}]; best of {args.repeats} runs per
cell (bursty-host minimum-of-N protocol).  The two `*_crawl` cells run
the dedup workhorses over the FULL 240k-page corpus the crawl bench
builds (text cached, best of ≤2).  Code stamp: `{stamp}`.  Regenerate:
`python scripts/stage_scaling.py`.
{merged_note}
| stage | t(local[{args.low}]) s | t(local[{args.high}]) s | efficiency {args.low}->{args.high} |
|---|---|---|---|
{rows}

Reading: efficiency = (t_{args.low}/t_{args.high}) / {factor:.0f}.
`scan` moves bytes and computes nothing — it is the memory-bus
signature of this box (BENCH/HARDWARE.md: aggregate memcpy saturates
at ~8 processes).  `minhash` is the real dedup workhorse (MinHash
signatures over these ~2-3k-token pages); its r3 shape is ONE digest
per token + integer shingle keys + a shuffle-free per-doc array_min
projection — no explode, no min-aggregate shuffle (r2's
explode+16-column-agg form measured 0.25 here; the rework plus
single-pass tokenization cut its absolute time ~5x).
`simhash` (r4) is the shuffle-free SimHash: one md5 per distinct
token + 32 per-doc array-aggregate bit votes, no explode and no
groupBy shuffle.
`jvm_hash` (pure codegen, zero input bytes) and `vectorize` (the
X7/X8 embed+BM25 job, heavy Python compute per byte) are the
CPU-bound legs; `extract` sits between (Arrow transfer of every html
byte around the regex kernel).
The two `knn_crawl*` cells (r7) run one 256-query bulk ANN top-k
batch over the FULL crawl corpus's embedding space (every page hash-
embedded, untimed setup): `knn_crawl` re-bands the corpus inline per
batch, `knn_crawl_indexed` answers from the write-time (band,key) LSH
layout built once before timing — the flagship crawl→dedup pipeline
exercising the index-side search at the scale the bench actually
crawls.  On a real 4N-executor cluster every
executor brings its own memory bus, so the cpu-stage efficiencies are
the honest predictor of N->4N executor scaling, and the scan-stage
ceiling is a single-box emulation artifact — quantified here rather
than hand-waved.  (Caveat measured this round: this VM's per-thread
throughput itself degrades as thread count rises — identical regex
work consumed ~3.6x more core-seconds at 32 threads than at 8 — so
single-box efficiencies here are a FLOOR on real-cluster scaling.)

```json
{json.dumps({"low": lo, "high": hi, "efficiency": effs,
             "cores": [args.low, args.high], "pages": args.pages,
             "code": stamp}, indent=2)}
```
"""
    with open(os.path.join(REPO, "BENCH", "STAGES.md"), "w") as f:
        f.write(md)
    print(md)


if __name__ == "__main__":
    main()
