"""Similarity search over ``embeddings(vec_id, embedding ARRAY<FLOAT>,
label)``: brute-force cosine top-k (the exact baseline) and a
sign-bucketed LSH variant (the scale path).

The per-query operators are JVM-native (zip_with/aggregate HOFs) — no
Python in their scoring loop, and a literal query vector enters the
plan as ONE array literal; the bulk ``knn_join`` scores each LSH
bucket as one numpy GEMM in an Arrow worker, many buckets per Arrow
call, where per-pair interpreted HOF eval would dominate.  At cluster scale the
brute-force path is a single map-side scan + TakeOrderedAndProject
(per-partition top-k then merge, which Catalyst emits for
orderBy+limit automatically)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..shuffle import local_relation
from .dedup import _matrix, _plan_bytes, _round6_half_up, _score_buckets


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm(c):
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda a, x: a + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10,
    fan_out: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.

    r9: the cosine projection is wrapped in the optimization barrier —
    PushDownPredicates otherwise inlines the whole interpreted-HOF
    cosine into the pushed NULL filter, evaluating it TWICE per row
    (plan-verified: Filter(cond=round(aggregate(...))) below
    Project(round(aggregate(...)))); the barrier pins one evaluation.
    ``fan_out`` additionally spreads a small/single-file corpus across
    cores before the scorer (dedup._fan_out gate: big multi-file
    inputs pass through untouched); callers feeding already-pruned
    candidate sets can disable it."""
    from .dedup import _fan_out, _opt_barrier

    if fan_out:
        embeddings = _fan_out(embeddings, "vec_id")
    q = F.lit(np.asarray(query_vec, np.float64))
    qn = sum(x * x for x in query_vec) ** 0.5
    # try_divide: a zero-norm vector (an empty document's hash
    # embedding — real corpora contain them; ANSI `/` throws) has no
    # cosine to anything and simply never matches
    cos = F.try_divide(_dot(F.col("embedding"), q),
                       F.lit(qn) * _norm(F.col("embedding")))
    return (
        embeddings.withColumn("cosine", _opt_barrier(F.round(cos, 6)))
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "label", "cosine")
    )


def sign_bucket(col, n_bits: int = 8, offset: int = 0):
    """LSH bucket = sign bits of dims [offset, offset+n_bits).

    Deterministic and portable (the DuckDB oracle computes the same
    key); a production variant would use seeded random hyperplanes —
    same plan shape, different projection.  F.get (not getItem): short
    vectors pad with "0" instead of throwing under ANSI."""
    return F.concat_ws(
        "",
        *[
            F.when(F.get(col, offset + i) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(n_bits)
        ],
    )


def lsh_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10,
    n_bits: int = 8, n_tables: int = 4,
) -> DataFrame:
    """Multi-table ANN top-k: table t buckets on the sign bits of dims
    [t·n_bits, (t+1)·n_bits); candidates = vectors matching the query's
    key in ANY table (standard OR-amplified LSH — recall rises with
    n_tables, candidate volume ≈ n_tables·n/2^n_bits), then exact
    cosine + TakeOrderedAndProject.

    Scale path: ONE scan with an OR-of-equalities predicate (codegen'd,
    no explode); with bucket keys as cluster/partition columns the scan
    prunes to n_tables buckets."""
    n_tables = max(1, min(n_tables, len(query_vec) // n_bits))

    def qkey(t: int) -> str:
        return "".join(
            "1" if x >= 0 else "0"
            for x in query_vec[t * n_bits:(t + 1) * n_bits]
        )

    pred = None
    for t in range(n_tables):
        p = sign_bucket(F.col("embedding"), n_bits, t * n_bits) == qkey(t)
        pred = p if pred is None else (pred | p)
    # bucket survivors are design-bounded (~n_tables·n/2^n_bits) — the
    # fan-out exchange costs more than it spreads (measured r9)
    return cosine_topk(embeddings.filter(pred), query_vec, k,
                       fan_out=False)


def _argmax_cell(emb_col, centroids: list[list[float]]):
    """Cell id = index of the max-dot centroid (ties → smallest id).
    Centroids are L2-normalized rows of one matrix literal (n_cells
    array literals, which constant folding merges into one) and the
    per-centroid dot is one ``transform`` over it, so the assignment
    is one expression per row — no join, and no plan of n_cells·dim
    scalar literals (the fold per centroid is the same ``_dot``, bit
    for bit)."""
    cents = F.array(*[F.lit(np.asarray(c, np.float64)) for c in centroids])
    scores = F.transform(cents, lambda c: _dot(emb_col, c))
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def kmeans_centroids(
    embeddings: DataFrame, n_cells: int = 8, sample: int = 1024,
    iters: int = 5,
) -> list[list[float]]:
    """Production IVF quantizer: Lloyd iterations over a DETERMINISTIC
    hash sample (the ``sample`` vectors with lowest md5(vec_id) — a
    uniform draw no matter how vec_ids were assigned), initialized from
    the first ``n_cells`` of that sample.  Runs driver-side on the
    bounded sample (the classic train-on-sample pattern; the full-corpus
    pass is only the final cell ASSIGNMENT, which `ivf_topk` folds into
    one codegen'd expression / a write-time partition column).
    Deterministic: same data → same centroids, so results remain
    reproducible end-to-end.  Returns L2-normalized centroids for
    :func:`ivf_topk`'s ``centroids`` parameter."""
    import math

    rows = (
        embeddings.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample).collect()
    )
    pts = [[float(x) for x in r["embedding"]] for r in rows]
    if len(pts) < n_cells:
        raise ValueError(f"sample of {len(pts)} < n_cells={n_cells}")

    def _norm_v(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    cents = [_norm_v(p) for p in pts[:n_cells]]
    for _ in range(iters):
        sums = [[0.0] * len(pts[0]) for _ in range(n_cells)]
        counts = [0] * n_cells
        for p in pts:
            # max-dot-product assignment (ties → smallest cell id),
            # matching _argmax_cell's rule exactly
            best, best_s = 0, None
            for j, c in enumerate(cents):
                s = sum(x * y for x, y in zip(p, c))
                if best_s is None or s > best_s:
                    best, best_s = j, s
            counts[best] += 1
            for d, x in enumerate(p):
                sums[best][d] += x
        cents = [
            _norm_v([x / counts[j] for x in sums[j]]) if counts[j]
            else cents[j]
            for j in range(n_cells)
        ]
    return cents


def hash_sample_centroids(
    embeddings: DataFrame, n_cells: int = 8
) -> list[list[float]]:
    """The oracle-replayable quantizer default: the ``n_cells`` vectors
    with the lowest md5(vec_id), L2-normalized — a deterministic
    uniform draw (md5 scrambles any id assignment order) with no Lloyd
    refinement, so ANSI SQL can replay it exactly."""
    import math

    rows = (
        embeddings.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_cells).collect()
    )
    cents = []
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / n for x in v])
    return cents


def ivf_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10,
    n_cells: int = 8, n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: a coarse quantizer (HASH-SAMPLED centroids — the
    ``n_cells`` vectors with the lowest md5(vec_id), L2-normalized)
    partitions the corpus into cells; the query scores only the
    ``n_probe`` cells whose centroids it is closest to.  Exact cosine +
    TakeOrderedAndProject inside the probed cells.

    Hash-order sampling is a deterministic uniform sample of the corpus
    (md5 scrambles any vec_id assignment order), so cells are balanced
    in expectation — unlike first-N-by-id, which on real data would
    pick one ingest batch's near-identical vectors and collapse recall.
    Production path at 100 TB: k-means|| on this same hash sample, same
    plan shape.  Scale path: cell assignment is write-time work (the
    cell id is a partition/cluster column), so a query scans
    n_probe/n_cells of the data; centroids are a driver-side sample
    (bounded collect), the classic IVF train-on-sample pattern.

    ``centroids``: pass :func:`kmeans_centroids` output for the
    production trained quantizer; the default
    (:func:`hash_sample_centroids` — raw hash-sampled vectors, no
    Lloyd refinement) stays SQL-oracle-replayable."""
    if centroids is not None:
        cents = [list(map(float, c)) for c in centroids]
    else:
        cents = hash_sample_centroids(embeddings, n_cells)

    qscores = [sum(q * c for q, c in zip(query_vec, cc)) for cc in cents]
    probes = sorted(range(len(cents)), key=lambda j: (-qscores[j], j))[:n_probe]

    # fan out before the (interpreted n_cells-dot) assignment and pin
    # it above the exchange with the barrier — the probe filter would
    # otherwise inline the whole argmax into a predicate pushed into
    # the single-file scan task (r9; same rationale as cosine_topk)
    from .dedup import _fan_out, _opt_barrier

    celled = _fan_out(embeddings, "vec_id").withColumn(
        "cell", _opt_barrier(_argmax_cell(F.col("embedding"), cents))
    )
    return cosine_topk(
        celled.filter(F.col("cell").isin(probes)), query_vec, k,
        fan_out=False,
    )


# --------------------------------------------------------------------
# Write-time ANN index layouts (r4).
#
# lsh_topk / ivf_topk above compute bucket/cell membership per row per
# query — correct, but at 100 TB one query = one full corpus scan.
# The scale-safe half of the ANN story is STORAGE LAYOUT: assign the
# bucket/cell at WRITE time and make it a partition column, so a query
# is a partition-pruned scan of n_probe cells (IVF) or n_tables band
# buckets (LSH) — the same move the crawl's seen-set made with its
# bucketed table, and what an index-side vector store does (reference
# analogue: Pinecone index search, pinecone_service.py:131-178).
# BENCH/PLANS.md asserts PartitionFilters reach the FileScan and the
# scan reads strictly fewer files than the table holds.
#
# Each index root is a SnapshotCatalog holding one table, ``layout``,
# whose round-0 snapshot is the Hive-partitioned layout; the layout's
# meta (``kind``, plus ``centroids`` for IVF or ``n_bits``/``n_tables``
# for LSH) rides in its manifest.  A build or a compaction publishes a
# new snapshot through the catalog's one commit point (the manifest
# replace): a reader sees the old layout or the new one, never a torn
# one, a crashed build strands only an unreferenced directory, and the
# superseded layout outlives the catalog's grace window for readers
# still scanning it.

_LAYOUT = "layout"


def _layout(path: str) -> dict:
    """The committed layout manifest of the index at ``path``
    (``path``, ``partition_by``, ``schema``, ``meta``).
    FileNotFoundError when none is committed or the manifest names a
    directory that is gone, so :func:`index_exists` goes False and a
    cache rebuilds instead of reading a path with no files."""
    import os

    from ..snapshots import SnapshotCatalog

    m = SnapshotCatalog(path).manifest(_LAYOUT, 0)
    if m is None or not os.path.isdir(m["path"]):
        raise FileNotFoundError(f"no committed index layout at {path}")
    return m


def index_exists(path: str) -> bool:
    try:
        _layout(path)
        return True
    except FileNotFoundError:
        return False


def _write_layout(df: DataFrame, path: str, partition_by: list[str],
                  meta: dict) -> None:
    """Publish ``df`` as the index layout at ``path``.  Repartitioning
    on the partition columns gives every partition directory files
    from ONE task instead of one file per (task × directory) — at small
    scale the difference between n_cells files and a small-file
    explosion; at 100 TB the writer-sizing knob."""
    from ..snapshots import SnapshotCatalog

    SnapshotCatalog(path).write(df.repartition(*partition_by), _LAYOUT, 0,
                                partition_by=partition_by, meta=meta)


def write_ivf_index(
    embeddings: DataFrame, path: str, n_cells: int = 8,
    centroids: list[list[float]] | None = None, sample: int = 1024,
) -> None:
    """Lay the vectors table out as an IVF index: one Hive partition
    directory per quantizer cell (``cell=<id>/part-*.parquet``), with
    the trained centroids stored in the layout's manifest.
    Cell assignment runs ONCE, at write time, as the same codegen'd
    max-dot expression queries would otherwise evaluate per scan.

    ``centroids=None`` trains :func:`kmeans_centroids` on the hash
    sample (the production quantizer); pass explicit centroids (e.g.
    the raw hash-sample used by the oracle-replayable ``ivf_topk``
    default) to pin a layout to a known quantizer."""
    if centroids is None:
        centroids = kmeans_centroids(embeddings, n_cells=n_cells,
                                     sample=sample)
    cents = [list(map(float, c)) for c in centroids]
    celled = embeddings.withColumn(
        "cell", _argmax_cell(F.col("embedding"), cents)
    )
    _write_layout(celled, path, ["cell"], {"kind": "ivf", "centroids": cents})


def _read_layout(spark, m: dict, subdirs: list[str] | None = None) -> DataFrame:
    """Read the committed layout of manifest ``m`` with the schema the
    manifest records (partition columns included; no footer-inference
    job): the whole layout, or ONLY the named Hive partition
    directories, with ``basePath`` so the partition columns survive.
    Listing cost is ∝ probed directories — the full layout is never
    enumerated (r4b: `spark.read.parquet(path).filter(partition_col...)`
    prunes the SCAN but still LISTS every partition dir to build the
    file index, which at 1030 LSH buckets cost ~1.5 s per query; at
    10^9 objects on S3 it would be the whole query).  Missing
    directories (empty buckets) are skipped driver-side — the same
    existence check an object-store deployment does with one LIST per
    probed prefix; when none exists the result is a zero-row frame."""
    import json
    import os

    from pyspark.sql.types import StructType

    base = m["path"]
    schema = StructType.fromJson(json.loads(m["schema"]))
    if subdirs is None:
        subdirs = [base]
    else:
        subdirs = [os.path.join(base, d) for d in subdirs
                   if os.path.isdir(os.path.join(base, d))]
        if not subdirs:
            return local_relation(spark, [], schema)
    return spark.read.schema(schema).option("basePath", base).parquet(*subdirs)


def ivf_topk_indexed(
    spark, path: str, query_vec: list[float], k: int = 10, n_probe: int = 2,
) -> DataFrame:
    """IVF top-k over a :func:`write_ivf_index` layout: score the query
    against the stored centroids driver-side, then scan ONLY the
    ``n_probe`` closest cells — the probed ``cell=<id>`` directories
    are addressed directly (no full partition discovery, no data files
    outside them opened).  Identical results to :func:`ivf_topk` with
    the same centroids."""
    m = _layout(path)
    cents = m["meta"]["centroids"]
    qscores = [sum(q * c for q, c in zip(query_vec, cc)) for cc in cents]
    probes = sorted(range(len(cents)),
                    key=lambda j: (-qscores[j], j))[:n_probe]
    df = _read_layout(spark, m, [f"cell={j}" for j in probes])
    # belt-and-braces semantic filter (also what PLANS.md asserts as
    # PartitionFilters — the path selection already did the pruning)
    df = df.filter(F.col("cell").isin(probes))
    # pruned probe-cell read: keep its (already multi-file) scan
    # layout — the fan-out exchange would only add a shuffle
    return cosine_topk(df.drop("cell"), query_vec, k, fan_out=False)


def write_lsh_index(
    embeddings: DataFrame, path: str, n_bits: int = 8, n_tables: int = 4,
) -> None:
    """Lay the vectors table out as a multi-table sign-LSH index: each
    vector is written once PER TABLE under Hive partitions
    ``band=<t>/key=<sign pattern>/`` (the classic n_tables× storage
    trade of multi-table LSH — OR-amplified recall for bounded extra
    space).  Bucket keys are computed once, at write time."""
    banded = embeddings.select(
        *embeddings.columns,
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("band"),
                # "k" prefix pins the partition value as a STRING —
                # Hive partition type inference would otherwise parse
                # an all-digit sign pattern as an integer and drop the
                # leading zeros that distinguish buckets
                F.concat(
                    F.lit("k"),
                    sign_bucket(F.col("embedding"), n_bits, t * n_bits),
                ).alias("key"),
            )
            for t in range(n_tables)
        ])).alias("bk"),
    ).select(*embeddings.columns, "bk.band", "bk.key")
    # one writing task per (band, key): without it every input task
    # writes a sliver into every bucket dir it touches — measured 15 s
    # of small-file churn for a 2^8-bucket 4-table layout at sf0.1
    _write_layout(banded, path, ["band", "key"],
                  {"kind": "lsh", "n_bits": n_bits, "n_tables": n_tables})


def lsh_topk_indexed(
    spark, path: str, query_vec: list[float], k: int = 10,
) -> DataFrame:
    """Multi-table LSH top-k over a :func:`write_lsh_index` layout: the
    query's per-table keys address ≤ n_tables ``band=<t>/key=<pat>``
    bucket directories directly out of n_tables·2^n_bits (no full
    partition discovery — see :func:`_read_layout`); candidates
    dedup on vec_id (a vector can collide in several tables) before
    exact cosine + TakeOrdered.  Identical results to
    :func:`lsh_topk` at the same parameters."""
    m = _layout(path)
    n_bits, n_tables = m["meta"]["n_bits"], m["meta"]["n_tables"]
    n_eff = max(1, min(n_tables, len(query_vec) // n_bits))

    def qkey(t: int) -> str:
        return "k" + "".join(
            "1" if x >= 0 else "0"
            for x in query_vec[t * n_bits:(t + 1) * n_bits]
        )

    df = _read_layout(
        spark, m, [f"band={t}/key={qkey(t)}" for t in range(n_eff)]
    )
    pred = None
    for t in range(n_eff):
        p = (F.col("band") == t) & (F.col("key") == qkey(t))
        pred = p if pred is None else (pred | p)
    cand = df.filter(pred).drop("band", "key").dropDuplicates(["vec_id"])
    # pruned bucket read + dedup shuffle: already spread; no fan-out
    return cosine_topk(cand, query_vec, k, fan_out=False)


def compact_index(spark, path: str, target_bytes: int = 128 << 20) -> dict:
    """Compact an ANN index layout's data files: rewrite each partition
    directory's contents into ~``target_bytes`` files (one writing task
    per directory, ``maxRecordsPerFile`` splitting only genuinely large
    buckets).  Write-time layouts trade query pruning for file count —
    `write_lsh_index` makes ~n_tables·2^n_bits directories, and at
    100× corpus scale repeated appends/rebuilds would strand thousands
    of KB-sized files whose open/list overhead dominates the pruned
    scan (the classic small-file problem; object stores bill per
    request).  Operational target: files within a bucket dir at
    100-500 MB — compact after bulk builds, not per query.

    The compacted layout is published as a new snapshot of the index
    catalog with the same meta (same quantizer/params, same results):
    a crash before its manifest commit leaves the old layout live, and
    a reader still scanning the old layout keeps it for the catalog's
    grace window.  Returns {files_before, files_after, bytes}."""
    import os

    m = _layout(path)

    def _stats(p: str) -> tuple[int, int]:
        n, size = 0, 0
        for root, _dirs, names in os.walk(p):
            for f in names:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
        return n, size

    files_before, total_bytes = _stats(m["path"])
    # the rows-per-file bound is a session conf, so the rewrite reads
    # through a session of its own: the setting reaches this write only
    session = spark.newSession()
    df = _read_layout(session, m)
    avg_row = max(1, total_bytes // max(1, df.count()))
    session.conf.set("spark.sql.files.maxRecordsPerFile",
                     str(max(1, target_bytes // avg_row)))
    _write_layout(df, path, m["partition_by"], m["meta"])
    files_after, _ = _stats(_layout(path)["path"])
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total_bytes}


def knn_join(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, n_bits: int = 4,
    n_tables: int = 4, salt: int = 16, salted: bool | None = None,
) -> DataFrame:
    """Bulk ANN: for every query vector, its top-k neighbors from the
    corpus.  queries: (q_id, q_emb ARRAY<FLOAT>).

    Scale shape (r3, replacing the single-table 2^n_bits-global-bucket
    design): multi-table banded sign-LSH — band t keys on the sign
    pattern of dims [t·n_bits, (t+1)·n_bits), so recall OR-amplifies
    across ``n_tables`` like :func:`lsh_topk`, and bucket population is
    governed by n_bits per band (size n_bits so 2^n_bits ≫ corpus/
    target-candidates; with band keys as write-time cluster columns
    the join prunes to matching buckets).

    Each (band,key) bucket is scored by :func:`_knn_gemm_topk` as one
    numpy GEMM with a per-query top-k inside the bucket, many buckets
    per Arrow call (the kernel ``embedding_neardup_pairs`` shares), so
    no bucket ever yields more than |Q|·k rows and the final per-query window
    sees ≤ n_tables·k deduped candidates.  The per-bucket top-k is
    lossless: a global-top-k candidate outranked by < k vectors
    globally is outranked by < k inside any band bucket containing it.

    ``salted`` sub-splits hot buckets (r4, same stats gate family as
    dedup._fan_out): a band bucket holding millions of rows would
    otherwise land in one worker frame, but at small input the salt
    replicates every query ``salt`` times for nothing.  Default (None)
    reads the corpus's optimizer-estimated size: below one
    shuffle-partition's worth of data (64 MB) every bucket is
    trivially task-sized — identical results either way (the salted
    pre-top-k is lossless by the same argument).  Unknown stats keep
    the salted scale shape — the conservative default for 100 TB
    inputs.
    """
    if salted is None:
        salted = _plan_bytes(embeddings) >= (64 << 20)

    c = _banded(embeddings, "embedding", n_bits, n_tables)
    q = _banded(queries, "q_emb", n_bits, n_tables)
    return _knn_gemm_topk(q, c, k=k, salt=salt, salted=salted)


def _banded(df: DataFrame, vec_col: str, n_bits: int, n_tables: int,
            key_prefix: str = "") -> DataFrame:
    """Explode one row per LSH table: band t keys on the sign pattern
    of dims [t·n_bits, (t+1)·n_bits).  ``key_prefix`` matches the
    write-time layout's partition-value pinning (see
    :func:`write_lsh_index` — the "k" prefix)."""
    return df.select(
        *df.columns,
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("band"),
                F.concat(
                    F.lit(key_prefix),
                    sign_bucket(F.col(vec_col), n_bits, t * n_bits),
                ).alias("key"),
            )
            for t in range(n_tables)
        ])).alias("bk"),
    ).select(*df.columns, "bk.band", "bk.key")


def _knn_topk_scorer(k: int):
    """Bucket scorer of :func:`_knn_gemm_topk`: one tagged run holds the
    bucket's queries (``_side`` 0, sorted first) and its candidates
    (``_side`` 1, sorted by vec_id); queries × candidates is one
    float64 GEMM, and each query keeps its top-k INSIDE the bucket
    before anything leaves the worker.  Rounding to 6 decimals HALF_UP
    BEFORE selection (SQL's ``round(cos, 6)``,
    :func:`dedup._round6_half_up`) fixes the ranking ties exactly as
    the oracle sees them; ties on the rounded cosine go to the smaller
    vec_id, the final window's order.  Zero-norm vectors (NaN cosine)
    never match."""

    def score(run):
        import numpy as np
        import pyarrow as pa

        nq = int((run.column("_side").to_numpy() == 0).sum())
        nc = run.num_rows - nq
        if nq == 0 or nc == 0:
            return None
        qrun, crun = run.slice(0, nq), run.slice(nq)
        A_all = _matrix(qrun.column("_emb"))
        B_all = _matrix(crun.column("_emb"))
        an_all = np.sqrt((A_all * A_all).sum(axis=1))
        bn_all = np.sqrt((B_all * B_all).sum(axis=1))
        # one int64 rank key per cell orders (cosine desc, vec_id asc):
        # the rounded cosine is an exact multiple of 1e-6, candidates
        # arrive in vec_id order, so key = (1e6 - cos·1e6)·nc + column
        # is unique per row and argpartition's k smallest ARE the
        # top-k; NaN cells get the max key and are dropped after.
        # (Measured on one bucket of 2000 queries x 20000 candidates,
        # dim 64: 1.7 s, against 4.1 s for a stable argsort per row.)
        NAN_KEY = np.iinfo(np.int64).max

        def topk(key):
            if key.shape[1] <= k:
                return np.broadcast_to(np.arange(key.shape[1]), key.shape)
            return np.argpartition(key, k - 1, axis=1)[:, :k]

        # BOTH axes are chunked: a hot bucket can be hit by an
        # unbounded number of bulk queries just as it can hold an
        # unbounded number of candidates; 2048×16384 bounds each GEMM
        # output to 256 MB while keeping the BLAS kernel long enough
        # to amortize dispatch.  Per-chunk top-k then a top-k over the
        # chunks' survivors is lossless.
        Q_CH, C_CH = 2048, 16384
        q_ix, c_ix, cos = [], [], []
        for q0 in range(0, nq, Q_CH):
            A, an = A_all[q0:q0 + Q_CH], an_all[q0:q0 + Q_CH]
            keys, cols, vals = [], [], []
            for c0 in range(0, nc, C_CH):
                B, bn = B_all[c0:c0 + C_CH], bn_all[c0:c0 + C_CH]
                col = np.arange(c0, c0 + len(B))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos6 = _round6_half_up((A @ B.T) / np.outer(an, bn))
                    key = np.where(
                        np.isfinite(cos6),
                        (1_000_000 - np.rint(cos6 * 1e6).astype(np.int64))
                        * nc + col, NAN_KEY)
                sel = topk(key)
                keys.append(np.take_along_axis(key, sel, axis=1))
                cols.append(col[sel])
                vals.append(np.take_along_axis(cos6, sel, axis=1))
            key, col, val = (np.hstack(x) for x in (keys, cols, vals))
            sel = topk(key)
            key, col, val = (np.take_along_axis(x, sel, axis=1)
                             for x in (key, col, val))
            qi, j = np.nonzero(key != NAN_KEY)
            q_ix.append(qi + q0)
            c_ix.append(col[qi, j])
            cos.append(val[qi, j])
        q_ix, c_ix = np.concatenate(q_ix), np.concatenate(c_ix)
        return [qrun.column("q_id").take(pa.array(q_ix)),
                crun.column("vec_id").take(pa.array(c_ix)),
                pa.array(np.concatenate(cos), pa.float64())]

    return score


def _knn_gemm_topk(q: DataFrame, c: DataFrame, k: int, salt: int,
                   salted: bool) -> DataFrame:
    """The knn tail (r8): cosine-score banded queries against banded
    candidates and emit the per-query top-k.  Catalyst evaluates a
    cosine expression through its INTERPRETED higher-order-function
    path — ~2 µs per array element, i.e. hours for the ~10^8
    query×candidate pairs a bulk batch produces when the corpus's
    embedding space is clustered and LSH buckets run hot (measured:
    two executor threads burned 40+ CPU-minutes inside
    ``ArrayTransform.nullSafeEval`` on a 300k-doc crawl corpus).

    Here the two sides are tagged (``_side``) and unioned, and every
    (band,key[,_salt]) bucket is scored as ONE numpy float64 GEMM by
    the shared bucket kernel (``dedup._score_buckets``: one hash
    exchange on the bucket key, a sort, one ``mapInArrow`` per
    partition walking many buckets), with per-query top-k applied
    inside the bucket (:func:`_knn_topk_scorer`).  So (a) the
    per-element interpreter dispatch becomes a BLAS inner loop, (b)
    only ≤ |Q|·k rows per bucket ever leave the Python worker, and (c)
    no bucket pays a per-group pandas frame, as the r8 cogrouped
    ``applyInPandas`` did.  ``salted`` sub-splits hot buckets by
    ``pmod(xxhash64(vec_id), salt)`` — queries replicate across the
    salt range (a |Q|×salt explode, query side only) so every
    sub-bucket still sees every probing query.  Zero-norm and NULL
    vectors (empty documents) have no cosine and never match; NULL
    rows are dropped before the exchange.  The pair dedup's exchange
    sits between the kernel and the per-query window."""
    q_t = dict(q.dtypes)["q_id"]
    v_t = dict(c.dtypes)["vec_id"]
    keys = ["band", "key"]
    if salted:
        keys.append("_salt")
        c = c.withColumn("_salt", F.pmod(F.xxhash64("vec_id"),
                                         F.lit(salt)))
        q = q.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0).cast("long"),
                                 F.lit(salt - 1).cast("long"))))
    qs = q.filter(F.col("q_emb").isNotNull()).select(
        F.lit(0).alias("_side"), "q_id",
        F.lit(None).cast(v_t).alias("vec_id"),
        F.col("q_emb").alias("_emb"), *keys)
    cs = c.filter(F.col("embedding").isNotNull()).select(
        F.lit(1).alias("_side"), F.lit(None).cast(q_t).alias("q_id"),
        "vec_id", F.col("embedding").alias("_emb"), *keys)
    scored = _score_buckets(
        qs.unionByName(cs), keys, ["_side", "vec_id"], _knn_topk_scorer(k),
        f"q_id {q_t}, vec_id {v_t}, cosine double",
    )
    from pyspark.sql import Window

    order = [F.desc("cosine"), F.asc("vec_id")]
    w_q = Window.partitionBy("q_id").orderBy(*order)
    return (scored.dropDuplicates(["q_id", "vec_id"])
            .withColumn("rank", F.row_number().over(w_q))
            .filter(F.col("rank") <= k)
            .select("q_id", "vec_id", "rank", "cosine"))


def knn_join_indexed(
    spark, path: str, queries: DataFrame, k: int = 5, salt: int = 16,
    salted: bool | None = None,
) -> DataFrame:
    """Bulk ANN over a :func:`write_lsh_index` layout — the index-side
    search a 100-TB dedup pipeline actually runs (reference analogue:
    index-side query, pinecone_service.py:131-178).  Identical results
    to :func:`knn_join` at the layout's (n_bits, n_tables): the layout
    stores each vector once per band under ``band=<t>/key=<pat>/``, so
    joining banded queries against it IS the inline banding — but the
    corpus side is a partition-PRUNED scan of only the bucket
    directories some query actually probes, instead of re-banding the
    full corpus per batch (knn_join's remaining r4 weakness).

    The probed directory set is collected driver-side from the banded
    queries — bounded by the KEYSPACE, min(n_tables·2^n_bits,
    n_tables·|Q|) rows of two small columns, a design parameter (64 for
    the 4×4-bit default), not a data-scale quantity.  Directories are
    then addressed directly (see :func:`_read_layout` — no full
    layout listing).  ``salted`` defaults from the PRUNED scan's
    file-size stats, so small probe sets skip the salt split
    automatically while big buckets keep the bounded-memory shape."""
    m = _layout(path)
    n_bits, n_tables = m["meta"]["n_bits"], m["meta"]["n_tables"]

    q = _banded(queries, "q_emb", n_bits, n_tables, key_prefix="k")
    # consumed twice (probe-dir collect + the join); the banded batch is
    # small — materialize once instead of re-deriving per consumer
    q = q.localCheckpoint(eager=True)
    keys = q.select("band", "key").distinct().collect()
    dirs = [f"band={r['band']}/key={r['key']}" for r in keys]
    keyspace = n_tables * (1 << n_bits)
    if len(dirs) >= 64 and len(dirs) * 4 >= keyspace:
        # a BULK batch probes most of the keyspace: |dirs| separate
        # per-directory listings cost more than one recursive root
        # listing (measured 28.6 s vs ~1.5 s at 1024 dirs), and with
        # near-full coverage pruning saves nothing — the index's win
        # here is the PRECOMPUTED banding, not the scan cut.  Unprobed
        # buckets are shuffled and sorted with the rest, and the bucket
        # kernel skips each run that holds no query.
        c = _read_layout(spark, m)
    else:
        c = _read_layout(spark, m, dirs)
    if salted is None:
        salted = _plan_bytes(c) >= (64 << 20)
    return _knn_gemm_topk(q, c, k=k, salt=salt, salted=salted)
