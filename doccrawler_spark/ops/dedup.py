"""Deduplication operators over ``documents``: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale notes (these run over 100 TB of text on a real cluster):
  * exact dedup is one hash-groupBy — map-side partial agg, one shuffle
    on the 128-bit fingerprint (never on the text itself);
  * pairwise similarity is NEVER all-pairs: n-gram Jaccard blocks on
    shared shingles (posting-list self-join), MinHash blocks on LSH
    band buckets — candidate pairs ∝ true-duplicate density;
  * every kernel uses portable primitives (md5, split, explode) so the
    DuckDB oracle can replay identical logic in ANSI-ish SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimizer size estimate of a plan — the one size
    probe behind every plan-side stats gate (``_fan_out``, knn_join's
    salted windows).  Unknown stats come back as Catalyst's Long.Max
    sentinel, and a failed probe as 2^60: both read as "huge"."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 1 << 60


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) docs: keeper + group size.

    The normalize+md5 fingerprint — the measured cost of this
    operator — runs as re.sub + hashlib in Python workers.  The JVM
    regexp_replace rebuilds the string through
    Matcher.appendReplacement per doc and measured SLOWER with 32
    threads than with one on this allocation pattern (heap contention;
    the same pathology tokens_col's docstring records), while Python
    workers are separate processes with a C regex.  Digests equal the
    SQL ``md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' '))))``:
    the replace runs BEFORE lower, so lower/trim only ever see ASCII
    alnum+space, and md5 is over the same UTF-8 bytes.  NULL text has
    a NULL fingerprint (SQL's md5(NULL)), so NULL docs form their own
    group instead of merging with empty ones."""
    import re as _re

    d_t = dict(documents.dtypes)["doc_id"]
    pat = _re.compile(r"[^a-zA-Z0-9]+")

    def run(batches):
        import hashlib as _hl

        import pandas as pd

        for pdf in batches:
            fps = [
                _hl.md5(pat.sub(" ", t).lower().strip().encode("utf-8"))
                .hexdigest() if isinstance(t, str) else None
                for t in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "fingerprint": fps})

    fp = _fan_out(documents, "doc_id").select(
        "doc_id", "text"
    ).mapInPandas(run, f"doc_id {d_t}, fingerprint string")
    return (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 1)
    )


def _fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Spread a (possibly single-file, single-row-group) scan across the
    cluster before CPU-heavy per-row work.  Small driver-shipped tables
    arrive as ONE partition; without this every downstream HOF/explode/
    self-join runs in one task regardless of cores.

    Gated PLAN-SIDE (optimizer statistics + input file count — no
    ``df.rdd`` partition probe, which forces an RDD plan conversion and
    an extra analysis pass): an input big enough to split into ≥ cores
    read partitions anyway, or scanning ≥ cores files, passes through
    untouched — no gratuitous full shuffle of 100 TB."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    size = _plan_bytes(df)
    # parquet splits inputs at spark.sql.files.maxPartitionBytes
    # (default 128 MB); a >= n*that input already fans out on read.
    # Absurd sizes are the "unknown" sentinels — treat as small (a
    # wasted repartition of a small table beats one task).
    if n * (128 << 20) <= size < (1 << 50):
        return df
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:
        pass
    return df.repartition(n, *cols) if cols else df.repartition(n)


# 2^31-1, prime — the classic Mersenne modulus for affine hash families
_MERSENNE = (1 << 31) - 1
_HASH_C = 2654435761  # Knuth multiplicative constant spaces the offsets


def _pos_consts(n: int) -> list[int]:
    """Per-position odd multipliers < 2^31 for the shingle-key combine
    (odd ⇒ invertible mod 2^64, so positions never cancel)."""
    return [((_HASH_C * (2 * j + 1)) % (1 << 31)) | 1 for j in range(n)]


def _opt_barrier(col):
    """Catalyst optimization barrier: a nondeterministic no-op
    (``monotonically_increasing_id() >= -1`` is always true, value
    unchanged).

    Why: PushDownPredicates substitutes project aliases into predicates
    with NO cost check, and InferFiltersFromGenerate synthesizes
    ``size(g) > 0 AND g IS NOT NULL`` under every explode.  Pushed
    through the shingle-key projects, those predicates inline the
    token-hash array into the PER-ELEMENT combine lambda, which
    interpreted HOF eval then re-computes per shingle — O(tokens²)
    digests per doc (measured: a 12k-doc job that runs in seconds hung
    for 15+ minutes).  Predicates cannot cross a nondeterministic
    projection, so wrapping the array output pins every downstream
    reference to the materialized attribute.  (CollapseProject is
    already safe by itself — SPARK-36718 stops it duplicating
    non-cheap multi-referenced expressions.  ``rand() >= -1`` does NOT
    work here: the optimizer constant-folds it away; a
    monotonically_increasing_id comparison survives.)"""
    return F.when(F.monotonically_increasing_id() >= F.lit(-1), col)


_BASE_MEMO: dict[str, int] = {}
_BASE_MEMO_CAP = 1 << 20


def _token_base_md5(tok: str) -> int:
    """The oracle-replayable 31-bit token base:
    int(md5(tok).hexdigest()[:15], 16) % (2^31-1) — bit-identical to
    the JVM ``conv(substring(md5(t),1,15),16,10) % 2147483647``.
    Memoized per worker process (capped): one digest per DISTINCT
    token ever, against the JVM chain's one digest per occurrence."""
    b = _BASE_MEMO.get(tok)
    if b is None:
        import hashlib

        b = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15],
                16) % _MERSENNE
        if len(_BASE_MEMO) < _BASE_MEMO_CAP:
            _BASE_MEMO[tok] = b
    return b


def _shingle_key_arrays(
    documents: DataFrame, n: int, sig_k: int = 0
) -> DataFrame:
    """(doc_id, sk ARRAY<BIGINT>[, sig ARRAY<BIGINT>]) — each doc's
    distinct word-n-gram shingle keys, computed WITHOUT ever
    materializing a shingle string, in one Arrow kernel.

    r2 measured the md5-per-shingle path allocation-bound (stage scaling
    0.25 at 8→32 cores: 3 string allocations per shingle row).  Now each
    TOKEN hashes once to a 31-bit base b (:func:`_token_base_md5`, one
    memoized digest per DISTINCT token per worker), and shingle i's key
    is pure integer arithmetic over the base array:
    skey_i = XOR_j (b[i+j] · C_j)  with per-position odd constants
    C_j < 2^31 — products < 2^62, no wrap, ~62-bit keys, computed as
    vectorized int64 multiply/XOR over shifted views.  Keys are 8 bytes
    on the wire (vs ~90-byte 3-gram strings), collisions ~2^-62 per
    pair, and the DuckDB oracle replays the identical integer math.
    Tokens via the same regex as ``tokens_col`` (re.findall('[a-z0-9]+')
    over the lowered text — token-for-token identical); np.unique's sort
    order is invisible to every consumer, which aggregates or explodes
    the set.

    ``sig_k > 0`` additionally emits the k-wide MinHash signature from
    the SAME pass (r9): sig_i = min((b·(2i+1) + i·C) mod M) over the
    distinct keys — one (|sk|×k) numpy broadcast per doc (all
    intermediates < 2^36, int64-exact), with no second
    materialization."""
    import re as _re

    consts = _pos_consts(n)
    d_t = dict(documents.dtypes)["doc_id"]
    tok_re = _re.compile(r"[a-z0-9]+")
    schema = f"doc_id {d_t}, sk array<bigint>"
    if sig_k:
        schema += ", sig array<bigint>"

    def run(batches):
        import numpy as np
        import pandas as pd

        if sig_k:
            mul = np.arange(sig_k, dtype=np.int64) * 2 + 1
            add = np.arange(sig_k, dtype=np.int64) * _HASH_C
        for pdf in batches:
            arrays = []
            sigs = []
            for text in pdf["text"]:
                toks = tok_re.findall(text.lower()) \
                    if isinstance(text, str) else []
                if len(toks) < n:
                    arrays.append(np.empty(0, dtype=np.int64))
                    sigs.append(None)
                    continue
                b = np.fromiter((_token_base_md5(t) for t in toks),
                                dtype=np.int64, count=len(toks))
                m = len(toks) - n + 1
                k = b[:m] * consts[0]
                for j in range(1, n):
                    k = np.bitwise_xor(k, b[j:j + m] * consts[j])
                sk = np.unique(k)
                arrays.append(sk)
                if sig_k:
                    bm = sk % _MERSENNE
                    sigs.append(
                        ((bm[:, None] * mul + add) % _MERSENNE).min(axis=0)
                    )
            out = {"doc_id": pdf["doc_id"], "sk": arrays}
            if sig_k:
                out["sig"] = sigs
            yield pd.DataFrame(out)

    return _fan_out(documents, "doc_id").select("doc_id", "text").mapInPandas(
        run, schema
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Compute a multiply-consumed intermediate ONCE (eager
    localCheckpoint).  The posting-list / banded-signature relations
    feed 3-4 plan branches (sizes, df-prune, both self-join sides) and
    each branch would otherwise re-derive the full tokenize+hash
    lineage from the scan.  The materialized relation is the SMALL one
    (8-byte keys / integer signatures, ~2-5% of corpus bytes), stored
    on executor-local disk+memory — the standard trade at 100 TB."""
    return df.localCheckpoint(eager=True)


def _round6_half_up(x):
    """numpy 6-decimal rounding, half away from zero — Spark's
    ``F.round`` (HALF_UP) and DuckDB's ``round``, where np.round is
    half-to-even (a jaccard of exactly 77/128 = 0.6015625 would
    differ).  Sign-symmetric, so negative cosines round like their
    magnitude: sign(x)·floor(|x|·1e6 + 0.5)/1e6.  For the jaccard
    rationals this is exact: 7th-decimal halves are dyadic
    (…/2^7·c) whose ×1e6 product is exactly representable, and
    non-half values of small-denominator rationals sit ≥ ~2.5e-9 from
    a half boundary — far beyond the ~1e-10 multiply error.  NaN (a
    zero-norm cosine) stays NaN."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _ngram_pair_gemm_scorer(threshold: float):
    """Per-block-pair scorer for the blocked-matmul shape of
    :func:`ngram_jaccard_pairs` (r9).  Input: the capped posting rows
    (doc_id, n_sh, skey) of doc-block i (left) and block j (right).
    Counts |A∩B| for every cross-block doc pair sharing ≥1 kept
    shingle — the sparse product M_i·M_jᵀ of the doc×shingle
    incidence matrix, computed with sort + searchsorted + one
    np.unique over packed LOCAL pair codes (no scipy needed) — and
    applies the jaccard threshold INSIDE the worker, so only final
    result rows ever leave Python.  Exactly the counts the join+
    groupBy shape produced: same capped shingle set, same full sizes,
    same round-then-threshold filter (HALF_UP, see
    :func:`_round6_half_up`)."""

    def score(key, pdf):
        import numpy as np
        import pandas as pd

        i, j = int(key[0]), int(key[1])
        # one grouped frame, split by side tag (0 = left block i,
        # 1 = right block j); the diagonal ships left rows only
        lpdf = pdf[pdf["_side"] == 0]
        rpdf = lpdf if i == j else pdf[pdf["_side"] == 1]
        empty = pd.DataFrame({
            "doc_a": lpdf["doc_id"][:0], "doc_b": lpdf["doc_id"][:0],
            "jaccard": pd.Series([], dtype="float64"),
        })
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        ld = lpdf["doc_id"].to_numpy()
        rd = rpdf["doc_id"].to_numpy()
        # local doc indices so the packed pair code never overflows,
        # whatever the global id range
        lu, li = np.unique(ld, return_inverse=True)
        ru, ri = np.unique(rd, return_inverse=True)
        lns = np.zeros(len(lu), dtype=np.int64)
        lns[li] = lpdf["n_sh"].to_numpy()
        rns = np.zeros(len(ru), dtype=np.int64)
        rns[ri] = rpdf["n_sh"].to_numpy()
        ls = lpdf["skey"].to_numpy()
        rs = rpdf["skey"].to_numpy()
        lo = np.argsort(ls, kind="stable")
        ls_s, li_s = ls[lo], li[lo]
        ro = np.argsort(rs, kind="stable")
        rs_s, ri_s = rs[ro], ri[ro]
        # each left posting row matches one contiguous right segment
        seg_lo = np.searchsorted(rs_s, ls_s, side="left")
        seg_hi = np.searchsorted(rs_s, ls_s, side="right")
        cnt = seg_hi - seg_lo
        tot = int(cnt.sum())
        if tot == 0:
            return empty
        # vectorized range expansion: right indices of every match
        a_idx = np.repeat(li_s, cnt)
        start = np.cumsum(cnt) - cnt
        offset = (np.arange(tot) - np.repeat(start, cnt)
                  + np.repeat(seg_lo, cnt))
        b_idx = ri_s[offset]
        code = a_idx.astype(np.int64) * len(ru) + b_idx
        pc, c = np.unique(code, return_counts=True)
        ai, bi = pc // len(ru), pc % len(ru)
        da, db = lu[ai], ru[bi]
        na, nb = lns[ai], rns[bi]
        if i == j:
            m = da < db  # strict order inside a block; drops self-pairs
            da, db, na, nb, c = da[m], db[m], na[m], nb[m], c[m]
        jac = _round6_half_up(c / (na + nb - c))
        m = jac >= threshold
        da, db, jac = da[m], db[m], jac[m]
        if i != j:
            # cross-block orientation is by block id — canonicalize to
            # doc_a < doc_b by document id
            lo_ = np.minimum(da, db)
            hi_ = np.maximum(da, db)
            da, db = lo_, hi_
        return pd.DataFrame({"doc_a": da, "doc_b": db, "jaccard": jac})

    return score


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.6,
    max_df: int | None = 2_000,
    pair_budget: int | None = 1_000_000_000,
    shape: str = "auto",
) -> DataFrame:
    """Near-dup pairs with word-n-gram Jaccard ≥ threshold.

    Blocked self-join on shared shingles (a pair is only scored if it
    shares ≥1 shingle), |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|.

    ``max_df`` is the stop-shingle cap: a shingle held by more than
    max_df docs (boilerplate — nav bars, license headers) is dropped
    from the posting-list join so one hot shingle can't go quadratic.
    One join KEY is one TASK — `repartition(skey)` spreads keys, not a
    key, and AQE skew-split can't break the pair *generation* of a
    single key — so max_df is the per-task ceiling: the default 2,000
    caps any one shingle at ~2·10⁶ join rows in its task (the r4
    default of 100,000 permitted a 5·10⁹-row single-task stall just
    under the cap).  Exact below the cap; above it, pairs sharing only
    stop-shingles are missed and surviving pairs score a lower-bound
    Jaccard (stop-shingles leave the intersection count but not the
    union) — the standard candidate-prefilter tradeoff; corpora whose
    near-dup signal lives in hotter shingles belong on the
    :func:`minhash_lsh_pairs` / minhash-verified path, whose banding
    bounds candidates regardless of shingle heat.

    ``pair_budget`` guards the TOTAL join fan-out: before the
    self-join, one tiny aggregate over the (already-materialized)
    posting list computes Σ df·(df−1)/2 — the exact number of join
    rows the surviving shingles will generate — and raises with the
    measured blast radius and the knobs to turn instead of launching
    a job that cannot finish.  ``None`` disables either guard.

    ``shape`` picks the physical plan — results identical in both:
    ``'auto'`` (default, r9) runs the blocked-matmul pair-counting
    shape (:func:`_ngram_pair_gemm_scorer`) whenever the posting rows
    it would ship are block-replicable (≤ 64M rows, ≤ 4·10⁹ pair
    contributions) and falls back to the join otherwise; ``'gemm'`` /
    ``'join'`` force a shape.

    Why blocked matmul is the r9 default: the join shape's cost is the
    pair AGGREGATION — at sf1.0, 127M join rows hash-aggregated into
    114M distinct (doc_a, doc_b) groups for 25 surviving pairs (~75%
    of the operator).  n_common for every pair is one sparse product
    M·Mᵀ of the doc×shingle incidence matrix; computing it per
    doc-block pair inside Python workers (numpy, threshold applied
    in-worker) removes the pair shuffle entirely — only final result
    rows leave the workers.  The posting list is replicated ~B× for
    B² block pairs (classic blocked-matmul communication trade), so
    the shape is gated to posting lists where that stays cheap, and
    B adapts to the measured pair count."""
    spark = documents.sparkSession
    # the materialized posting now carries the doc's FULL shingle count
    # on every row (union sizes for the in-worker jaccard; projected
    # away wherever unused)
    sh = _materialize(
        _shingle_key_arrays(documents, n).select(
            "doc_id", F.size("sk").alias("n_sh"),
            F.explode("sk").alias("skey"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.first("n_sh").alias("n_sh"))
    # posting-list prune (result-preserving): a shingle held by a single
    # doc cannot produce a pair — drop it before the self-join.  In a
    # natural corpus most shingles are unique, so this removes most of
    # the join input; the surviving hot shingles are what AQE's
    # skew-join splitting is for.
    df_per_shingle = sh.groupBy("skey").count()
    surviving = F.col("count") > 1
    if max_df is not None:
        surviving = surviving & (F.col("count") <= max_df)
    shared_df = df_per_shingle.filter(surviving)
    # one tiny aggregate drives the budget guard AND the shape/block
    # sizing: Σ df·(df−1)/2 is the exact pair-contribution count both
    # shapes perform; Σ df over the surviving shingles and over ALL of
    # them are the posting rows the gemm shape ships with and without
    # the semi-join prune; hottest is the max over ALL shingles so the
    # gemm branch can tell whether the stop-shingle cap excludes
    # anything at all
    st = df_per_shingle.agg(
        F.sum(F.when(
            surviving,
            F.col("count").cast("double")
            * (F.col("count") - 1).cast("double") / 2
        )).alias("pairs"),
        F.max("count").alias("hottest"),
        F.sum(F.when(surviving, F.col("count"))).alias("rows"),
        F.sum("count").alias("all_rows"),
    ).collect()[0]
    total = int(st["pairs"] or 0)
    if pair_budget is not None and total > pair_budget:
        raise ValueError(
            f"ngram_jaccard_pairs: surviving shingles would generate "
            f"{total:,} candidate pair contributions (> pair_budget="
            f"{pair_budget:,}; hottest shingle df={st['hottest']:,}, "
            f"max_df={max_df}).  Lower max_df, raise pair_budget, or "
            f"use the minhash_verified path, whose LSH banding bounds "
            f"candidates regardless of shingle heat."
        )
    # the gemm shape skips the semi-join when nothing exceeds the
    # stop-shingle cap (see below) and then ships EVERY posting row,
    # singletons included — gate and block sizing on what it ships
    no_hot = max_df is None or int(st["hottest"] or 0) <= max_df
    shipped = int(st["all_rows" if no_hot else "rows"] or 0)
    use_gemm = shape == "gemm" or (
        shape == "auto"
        and shipped <= 64_000_000
        and total <= 4_000_000_000
    )
    if use_gemm:
        cores = spark.sparkContext.defaultParallelism
        import math as _math

        # a block pair's frame holds ~2·shipped/B posting rows: ≥ 1
        # block per 2M shipped rows keeps one worker frame ≤ ~4M rows
        if total < 4_000_000 and shipped <= 2_000_000:
            n_blocks = 1
        else:
            n_blocks = min(64, max(
                _math.ceil(_math.sqrt(total / 2_000_000)),
                _math.ceil(_math.sqrt(2 * cores)),
                _math.ceil(shipped / 2_000_000),
            ))
        blk = F.pmod(F.xxhash64("doc_id"), F.lit(n_blocks)).alias("_blk")
        if no_hot:
            # nothing exceeds the stop-shingle cap, so the semi-join
            # would only strip SINGLETON shingles — and a singleton
            # can only self-match on a diagonal block, where the
            # strict doc_a < doc_b mask drops it.  Shipping them is
            # exact and cheaper than the semi-join + extra
            # materialization that pruning them costs.
            shk = sh.select("doc_id", "n_sh", "skey", blk)
        else:
            shk = sh.join(
                shared_df.select("skey"), "skey", "left_semi"
            ).select("doc_id", "n_sh", "skey", blk)
            if n_blocks > 1:
                # materialized only when the replication union reads
                # it twice (re-running the semi-join per side would
                # double the shuffle); a single block has one consumer
                shk = _materialize(shk)
        # one tagged union instead of cogroup: twin children sharing the
        # checkpointed relation confuse cogroup's attribute
        # deduplication under downstream pruning; a positional union
        # has no such hazard and shuffles the same bytes
        left = shk.select(
            "doc_id", "n_sh", "skey", F.lit(0).alias("_side"),
            F.col("_blk").alias("_i"),
            F.explode(F.sequence(F.col("_blk"),
                                 F.lit(n_blocks - 1))).alias("_j"),
        )
        right = shk.select(
            "doc_id", "n_sh", "skey", F.lit(1).alias("_side"),
            F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_i"),
            F.col("_blk").alias("_j"),
        ).filter(F.col("_i") < F.col("_j"))  # diagonal uses left only
        d_t = dict(documents.dtypes)["doc_id"]
        # pre-partition by the group key with ~2 partitions per block
        # pair: the groupBy reuses this exact hash partitioning, and an
        # EXPLICIT repartition is exempt from AQE's size-based
        # coalescing — which is compute-blind and was merging several
        # GEMM groups into one fat serial task (measured 4 s → 70 s+
        # straggler tails when a merged task landed in a steal burst)
        n_groups = n_blocks * (n_blocks + 1) // 2
        n_parts = max(cores, 2 * n_groups)
        return (
            left.unionByName(right)
            .repartition(n_parts, "_i", "_j")
            .groupBy("_i", "_j")
            .applyInPandas(
                _ngram_pair_gemm_scorer(threshold),
                f"doc_a {d_t}, doc_b {d_t}, jaccard double",
            )
        )
    shared = shared_df.select("skey")
    # repartition by the join key so the per-shingle quadratic work is
    # spread across tasks (AQE would otherwise coalesce this small
    # shuffle to one partition and serialize the whole join)
    sh = sh.join(shared, "skey", "left_semi").repartition(
        sh.sparkSession.sparkContext.defaultParallelism, "skey"
    )
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.skey") == F.col("b.skey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    documents: DataFrame, n: int = 3, k: int = 16
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[k]) — MinHash over word-n-gram
    shingles; hash family h_i(s) = (base(s)·(2i+1) + i·C) mod (2^31-1)
    with base(s) = the integer shingle key (see _shingle_key_arrays — one
    token digest + positional-XOR combine, no shingle strings).

    Plan shape: NO explode, NO shuffle — each doc's signature is the
    min of the affine family over its key array, computed in the same
    Arrow pass that derives the keys (one (|sk|×k) numpy broadcast per
    doc).  The r2 formulation exploded ~100M shingle rows into a
    16-column min-aggregate (1.6B hash-agg updates + a shuffle) and was
    the worst-scaling stage in the repo (0.25 at 8→32 cores); the
    history before that: r1's md5(i||s)-per-i family (16 hex strings
    per shingle row, GC-bound, 0.29), r2's md5-per-shingle (3 string
    allocations per row).  All intermediates < 2^62, int64-exact, and
    the DuckDB oracle replays identical BIGINT arithmetic (min over the
    same key set)."""
    return _shingle_key_arrays(documents, n, sig_k=k).filter(
        F.size("sk") > 0
    ).select("doc_id", "sig")


def minhash_lsh_pairs(
    documents: DataFrame, n: int = 3, k: int = 16, bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs whose signatures collide in ≥1 LSH band
    (k/bands rows per band), with the estimated Jaccard = fraction of
    matching minhashes.  shingle→minhash→band→bucket-join."""
    # signatures feed the singleton-prune AND both self-join sides —
    # materialize once instead of re-deriving tokenize+hash per branch
    sigs = _materialize(minhash_signatures(documents, n, k))
    return _minhash_band_cands(sigs, k, bands).select(
        "doc_a", "doc_b",
        F.round(
            F.size(F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )) / F.lit(float(k)),
            6,
        ).alias("est_jaccard"),
    )


def _minhash_band_cands(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """Banded-bucket candidate pairs (doc_a, doc_b, sig_a, sig_b) from
    a MATERIALIZED signature relation (split out in r9 so the verified
    path can reuse one tokenize pass)."""
    rows = k // bands
    banded = sigs.select(
        "doc_id", "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws("|", *[
                        F.col("sig")[b * rows + r].cast("string")
                        for r in range(rows)
                    ]).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.key")
    # same posting-list prune at band-bucket granularity
    shared = (
        banded.groupBy("band", "key").count()
        .filter(F.col("count") > 1).select("band", "key")
    )
    banded = banded.join(shared, ["band", "key"], "left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand


def minhash_verified_pairs(
    documents: DataFrame, n: int = 3, k: int = 16, bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Production near-dup shape: MinHash-LSH candidate generation
    (recall) + EXACT Jaccard re-scoring of only the candidates
    (precision).  Cost ∝ candidates, never all-pairs.

    r9 restructure: ONE materialized tokenize+hash pass (the fused
    Arrow kernel emitting shingle-key arrays AND signatures together)
    feeds both the banded candidate generation and the rescore — the
    r8 shape ran the full tokenize+md5 lineage twice (once inside
    minhash_lsh_pairs for signatures, once for the exploded posting
    list).  The rescore itself is now an ``array_intersect`` of the
    two docs' key arrays per candidate pair (identical count: arrays
    are distinct per doc) instead of a double explode-join + groupBy
    — candidate-bounded work either way, two fewer shuffles."""
    both = _materialize(_shingle_key_arrays(documents, n, sig_k=k))
    sigs = both.filter(F.size("sk") > 0).select("doc_id", "sig")
    arrays = both.select("doc_id", "sk")
    cand = _minhash_band_cands(sigs, k, bands).select("doc_a", "doc_b")
    aa = arrays.select(F.col("doc_id").alias("doc_a"),
                       F.col("sk").alias("sk_a"))
    ab = arrays.select(F.col("doc_id").alias("doc_b"),
                       F.col("sk").alias("sk_b"))
    return (
        cand.join(aa, "doc_a").join(ab, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sk_a", "sk_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.size("sk_a") + F.size("sk_b") - F.col("n_common")),
                    6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash64(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT) — 32-bit SimHash over unigram tokens.

    Per-bit majority vote: bit b of md5(token) contributes ±1 per
    DISTINCT token; the sign of the sum sets bit b.  Kept at 32 bits so
    the whole thing stays in exact integer arithmetic everywhere.

    Plan shape (r9): NO explode, NO shuffle — one vectorized numpy
    kernel per Arrow batch: one md5 per DISTINCT token per worker (the
    shared kernels.embed memo; the hash is the first 4 bytes of md5,
    as the oracle's ``substr(md5(tok), 1, 8)``), a (tokens×32) bit
    matrix summed per doc, bit b set iff 2·count_b > n_tokens
    (algebraically the vote_b = 2c_b − n > 0 majority).  The r4 JVM
    form folded the same counts through a 32-wide zip_with accumulator
    in interpreted HOF eval per token (~48M interpreted ops at
    sf1.0); the r3 form exploded 32 bit-rows per token through a
    (doc_id, bit) groupBy.  Docs with zero tokens (NULL, empty or
    punctuation-only text) vanish from the output, as the oracle's
    unnest of an empty token list yields no rows."""
    import re as _re

    from ..kernels.embed import _token_hash

    d_t = dict(documents.dtypes)["doc_id"]
    tok_re = _re.compile(r"[a-z0-9]+")

    def run(batches):
        import numpy as np
        import pandas as pd

        bitpos = np.arange(32, dtype=np.int64)
        for pdf in batches:
            ids, sims = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = set(tok_re.findall(text.lower())) \
                    if isinstance(text, str) else ()
                if not toks:
                    continue
                h = np.fromiter((_token_hash(t)[0] for t in toks),
                                dtype=np.int64, count=len(toks))
                cnt = ((h[:, None] >> bitpos) & 1).sum(axis=0)
                sim = int(((2 * cnt > len(toks)).astype(np.int64)
                           << bitpos).sum())
                ids.append(doc_id)
                sims.append(sim)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                "simhash": pd.Series(sims, dtype="int64"),
            })

    return _fan_out(documents, "doc_id").select(
        "doc_id", "text"
    ).mapInPandas(run, f"doc_id {d_t}, simhash bigint")


def _band_keys(emb_col, n_bands: int, band_bits: int):
    """ARRAY<STRUCT<band,key>> of banded sign-bit LSH keys: band b's key
    is the sign pattern of dims [b·band_bits, (b+1)·band_bits).  Two
    vectors with cosine near 1 share almost every sign bit, so they
    collide in ≥1 band with high probability; portable to the DuckDB
    oracle (pure CASE/concat arithmetic, same key both sides)."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("", *[
                # F.get (not getItem): NULL past the array end instead of
                # an ANSI INVALID_ARRAY_INDEX — short vectors pad with "0"
                F.when(F.get(emb_col, b * band_bits + i) >= 0, F.lit("1"))
                .otherwise(F.lit("0"))
                for i in range(band_bits)
            ]).alias("key"),
        )
        for b in range(n_bands)
    ])


def _neardup_bucket_scorer(threshold: float):
    """Per-(band,key)-bucket pair scorer of
    :func:`embedding_neardup_pairs`: the bucket's vectors are one
    float64 matrix, all within-bucket pair cosines are one chunked
    GEMM, and only pairs passing ``cosine ≥ threshold`` (rounded to 6
    decimals HALF_UP BEFORE the compare, as SQL's ``round(cos, 6)``
    — see :func:`_round6_half_up`) ever leave the Python worker.  Rows
    are sorted by vec_id first so the strict upper triangle IS the
    ``vec_a < vec_b`` pair set; zero-norm vectors produce NaN cosines,
    which fail the threshold compare and drop, as a NULL cosine
    does in SQL."""

    def score(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "vec_a": pdf["vec_id"][:0], "vec_b": pdf["vec_id"][:0],
            "cosine": pd.Series([], dtype="float64"),
        })
        m = len(pdf)
        if m < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        vid = pdf["vec_id"].to_numpy()
        M = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in pdf["embedding"]])
        nrm = np.sqrt((M * M).sum(axis=1))
        # chunk both GEMM axes: an 8192² block is a 512 MB float64
        # output ceiling; only the upper block triangle is computed
        CH = 8192
        frames = []
        for i0 in range(0, m, CH):
            A, an, aid = M[i0:i0 + CH], nrm[i0:i0 + CH], vid[i0:i0 + CH]
            for j0 in range(i0, m, CH):
                B, bn, bid = M[j0:j0 + CH], nrm[j0:j0 + CH], vid[j0:j0 + CH]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos6 = _round6_half_up((A @ B.T) / np.outer(an, bn))
                    mask = cos6 >= threshold  # NaN compares False
                if i0 == j0:  # diagonal block: strict upper triangle
                    mask &= np.triu(
                        np.ones(mask.shape, dtype=bool), k=1)
                ii, jj = np.nonzero(mask)
                if ii.size:
                    frames.append(pd.DataFrame({
                        "vec_a": aid[ii], "vec_b": bid[jj],
                        "cosine": cos6[ii, jj],
                    }))
        return pd.concat(frames, ignore_index=True) if frames else empty

    return score


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95,
    n_bands: int = 4, band_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold, blocked by banded
    sign-bit LSH buckets — candidate pairs collide in ≥1 of ``n_bands``
    bands (sign pattern of ``band_bits`` consecutive dims), never
    all-pairs.  Exact cosine is then computed per candidate; standard
    LSH recall semantics (a true pair that differs in every band is
    missed — more bands trade compute for recall).

    Each (band,key) bucket is scored as ONE chunked numpy float64 GEMM
    via ``applyInPandas`` (r9, :func:`_neardup_bucket_scorer`).  The
    r8 bucket self-join evaluated dot + both norms through Catalyst's
    INTERPRETED higher-order-function eval per candidate pair (~192
    interpreted element-ops per pair at dim 64), which dominated the
    operator at scale (measured 12.0 s → GEMM path at sf1.0; same
    argument as the knn_join GEMM scorer).  The threshold filter runs
    INSIDE the worker, so only passing pairs cross the Arrow boundary,
    and no candidate-pair relation is ever shuffled.  Bucket width is
    governed by ``band_bits`` — the scorer materializes one bucket's
    vectors per task."""
    v_t = dict(embeddings.dtypes)["vec_id"]
    banded = embeddings.select(
        "vec_id", "embedding",
        F.explode(
            _band_keys(F.col("embedding"), n_bands, band_bits)
        ).alias("bk"),
    ).select("vec_id", "embedding", "bk.band", "bk.key")
    scored = banded.groupBy("band", "key").applyInPandas(
        _neardup_bucket_scorer(threshold),
        f"vec_a {v_t}, vec_b {v_t}, cosine double",
    )
    # a pair colliding in several bands scores identically in each
    # bucket — dedup on the pair key alone is value-stable
    return scored.dropDuplicates(["vec_a", "vec_b"])
