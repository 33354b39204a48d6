"""Training-data ops: Spark results vs independent pure-Python
recomputation on small corpora."""

import hashlib
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "the quick brown fox jumps over the lazy dog", "en"),      # exact dup
    (2, "the quick brown fox leaps over the lazy dog", "en"),      # near dup
    (3, "el rapido zorro marron salta sobre el perro", "es"),
    (4, "completely different content about spark shuffles and joins", "en"),
    (5, "The Quick  Brown FOX jumps over the lazy dog!!", "en"),   # normalized dup
]


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        [{"doc_id": i, "text": t, "lang": l, "source": "s", "n_chars": len(t)}
         for i, t, l in TEXTS]
    )
    return spark.createDataFrame(pdf).cache()


def _norm(t):
    return re.sub(r"[^a-zA-Z0-9]+", " ", t).lower().strip()


def test_exact_dedup(spark, docs):
    from doccrawler_spark.ops.dedup import exact_dedup

    out = {r["fingerprint"]: (r["keeper_doc_id"], r["n_docs"])
           for r in exact_dedup(docs).collect()}
    fp = hashlib.md5(_norm(TEXTS[0][1]).encode()).hexdigest()
    assert out[fp] == (0, 3)  # docs 0, 1, 5 collapse
    assert sum(n for _, n in out.values()) == len(TEXTS)


def test_ngram_jaccard(spark, docs):
    from doccrawler_spark.ops.dedup import ngram_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 5)] == 1.0
    # one word differs at position 4 of 9 → 4 common of 10 distinct shingles
    assert pairs[(0, 2)] == pytest.approx(0.4)
    assert (0, 4) not in pairs


def test_ngram_jaccard_shapes_agree(spark):
    """The r9 blocked-matmul shape must return results IDENTICAL to the
    posting-list join on a random corpus with planted near-dups, at
    every threshold — forced and auto-selected."""
    import random

    from doccrawler_spark.ops.dedup import ngram_jaccard_pairs

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(120):
        toks = [rng.choice(vocab) for _ in range(rng.randint(2, 30))]
        rows.append((i, " ".join(toks)))
        if i % 7 == 0:  # planted near-dup: one token mutated
            mut = list(toks)
            if mut:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def rows_of(df):
        return [(r["doc_a"], r["doc_b"], r["jaccard"])
                for r in df.orderBy("doc_a", "doc_b").collect()]

    for thr in (0.3, 0.6):
        base = rows_of(ngram_jaccard_pairs(docs, threshold=thr, shape="join"))
        assert len(base) > 0
        for shape in ("gemm", "auto"):
            got = rows_of(ngram_jaccard_pairs(docs, threshold=thr,
                                              shape=shape))
            assert got == base, f"shape={shape} thr={thr}"


def test_minhash_lsh_finds_dups(spark, docs):
    from doccrawler_spark.ops.dedup import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(docs, n=3, k=16, bands=4).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 5)] == 1.0
    assert (3, 4) not in pairs


def test_short_docs_produce_zero_shingles(spark):
    """A doc with fewer than n tokens must yield no shingles (and must
    not crash sequence/slice with a descending range)."""
    from doccrawler_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    pdf = pd.DataFrame([
        {"doc_id": 0, "text": "", "lang": "en", "source": "s", "n_chars": 0},
        {"doc_id": 1, "text": "!!!", "lang": "en", "source": "s", "n_chars": 3},
        {"doc_id": 2, "text": "one two", "lang": "en", "source": "s", "n_chars": 7},
        {"doc_id": 3, "text": "the quick brown fox jumps", "lang": "en",
         "source": "s", "n_chars": 25},
        {"doc_id": 4, "text": "the quick brown fox jumps", "lang": "en",
         "source": "s", "n_chars": 25},
    ])
    docs = spark.createDataFrame(pdf)
    pairs = {(r["doc_a"], r["doc_b"])
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()}
    assert pairs == {(3, 4)}
    lsh = {(r["doc_a"], r["doc_b"])
           for r in minhash_lsh_pairs(docs, n=3).collect()}
    assert lsh == {(3, 4)}


def test_stop_shingle_cap_prunes_hot_shingles(spark):
    """max_df drops a boilerplate shingle from candidate generation:
    docs that share ONLY the hot shingle stop pairing."""
    from doccrawler_spark.ops.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved"
    rows = [{"doc_id": i, "text": f"{boiler} unique{i} alpha{i} beta{i}",
             "lang": "en", "source": "s", "n_chars": 40} for i in range(6)]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=3).collect()
    assert capped == []
    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=None).collect()
    assert len(uncapped) == 15  # all C(6,2) pairs share the hot shingle


def test_pair_budget_guard_bounds_join_fanout(spark):
    """The pair-budget guard fails FAST with the measured blast radius
    when surviving shingles would fan out past the budget — instead of
    launching a single-task quadratic join — and is exact: a budget of
    exactly C(n,2) per hot shingle passes."""
    import pytest as _pytest

    from doccrawler_spark.ops.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved"
    rows = [{"doc_id": i, "text": f"{boiler} unique{i} alpha{i} beta{i}",
             "lang": "en", "source": "s", "n_chars": 40} for i in range(6)]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    # 6 docs share the hot shingle → C(6,2)=15 join rows from that key
    with _pytest.raises(ValueError, match="minhash_verified"):
        ngram_jaccard_pairs(docs, n=3, threshold=0.01, pair_budget=14)
    got = ngram_jaccard_pairs(docs, n=3, threshold=0.01,
                              pair_budget=15).collect()
    assert len(got) == 15
    # the max_df prune runs BEFORE the budget check: capped-out hot
    # shingles don't count against the budget
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=3,
                               pair_budget=0).collect() == []


def test_minhash_verified_rescore(spark, docs):
    """LSH candidates re-scored with EXACT Jaccard: exact scores (not
    estimates) and sub-threshold candidates dropped."""
    from doccrawler_spark.ops.dedup import (
        minhash_verified_pairs,
        ngram_jaccard_pairs,
    )

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in minhash_verified_pairs(docs, threshold=0.3).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    # every verified pair carries the exact score
    for pair, j in got.items():
        assert j == exact[pair], pair
    assert got[(0, 1)] == 1.0 and got[(0, 5)] == 1.0


def test_simhash_hamming(spark, docs):
    from doccrawler_spark.ops.dedup import simhash64

    h = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert h[0] == h[1] == h[5]            # identical token sets
    ham = bin(h[0] ^ h[2]).count("1")
    ham_far = bin(h[0] ^ h[4]).count("1")
    assert ham < ham_far                   # near-dup closer than unrelated


def test_embedding_ops(spark):
    from doccrawler_spark.ops.dedup import embedding_neardup_pairs
    from doccrawler_spark.ops.similarity import cosine_topk, knn_join, lsh_topk

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [1.0, 0.05, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    top = cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 3]

    # LSH blocking (not label): 0/1/3 all share sign pattern "1000…" →
    # same bucket; all their pairwise cosines clear 0.9
    near = embedding_neardup_pairs(emb, threshold=0.9).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in near} == {(0, 1), (0, 3), (1, 3)}
    # a vector in a different sign bucket is never a candidate, even at
    # threshold 0 (LSH recall semantics)
    emb2 = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0]), (1, [-1.0, -1.0, -1.0, -1.0])],
        "vec_id long, embedding array<float>",
    )
    near2 = embedding_neardup_pairs(emb2, threshold=-1.0, n_bands=1, band_bits=4)
    assert near2.collect() == []

    lsh = lsh_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2, n_bits=4).collect()
    assert [r["vec_id"] for r in lsh] == [0, 3]

    q = spark.createDataFrame([(100, [0.0, 1.0, 0.0, 0.0])],
                              "q_id long, q_emb array<float>")
    kj = knn_join(emb, q, k=1, n_bits=2).collect()
    assert kj[0]["vec_id"] == 2


def test_ivf_topk_probes_nearest_cells(spark):
    """IVF: only vectors in the probed cells are candidates; the exact
    top-k inside the probes matches brute force restricted to them."""
    from doccrawler_spark.ops.similarity import cosine_topk, ivf_topk

    # two clear clusters around +x and +y; centroids = first 2 vectors
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),   # centroid cell 0
            (1, [0.0, 1.0, 0.0, 0.0], 1),   # centroid cell 1
            (2, [0.9, 0.1, 0.0, 0.0], 0),
            (3, [0.1, 0.9, 0.0, 0.0], 1),
            (4, [0.95, 0.05, 0.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    q = [1.0, 0.0, 0.0, 0.0]
    got = ivf_topk(emb, q, k=5, n_cells=2, n_probe=1).collect()
    assert {r["vec_id"] for r in got} == {0, 2, 4}  # cell-1 vectors pruned
    # within the probed cell, ranking equals brute force
    brute = cosine_topk(
        emb.filter(F.col("vec_id").isin([0, 2, 4])), q, k=5
    ).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in brute]
    # probing both cells degrades to exact brute force
    all_ = ivf_topk(emb, q, k=5, n_cells=2, n_probe=2).collect()
    assert [r["vec_id"] for r in all_] == \
        [r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()]


def test_kmeans_ivf_recall_on_clustered_data(spark):
    """The trained quantizer must place one centroid per natural
    cluster so n_probe=1 IVF returns exactly the query's cluster —
    where raw hash-sampled centroids may split/miss clusters."""
    import random

    from doccrawler_spark.ops.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    rng = random.Random(3)
    # two tight clusters around +x and +y, 30 vectors each
    vecs = []
    for i in range(30):
        vecs.append((i, [1.0 + rng.uniform(-0.05, 0.05),
                         rng.uniform(-0.05, 0.05), 0.0, 0.0], 0))
    for i in range(30, 60):
        vecs.append((i, [rng.uniform(-0.05, 0.05),
                         1.0 + rng.uniform(-0.05, 0.05), 0.0, 0.0], 1))
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    cents = kmeans_centroids(emb, n_cells=2, sample=60, iters=5)
    # one centroid per cluster: their dominant axes differ
    axes = sorted(max(range(4), key=lambda d: c[d]) for c in cents)
    assert axes == [0, 1]
    q = [1.0, 0.0, 0.0, 0.0]
    got = ivf_topk(emb, q, k=30, n_cells=2, n_probe=1, centroids=cents)
    assert {r["vec_id"] for r in got.collect()} == set(range(30))
    # determinism: same inputs → same centroids
    assert cents == kmeans_centroids(emb, n_cells=2, sample=60, iters=5)
    # probing every cell with trained centroids == brute force
    all_ = ivf_topk(emb, q, k=10, n_cells=2, n_probe=2, centroids=cents)
    brute = cosine_topk(emb, q, k=10)
    assert [r["vec_id"] for r in all_.collect()] == \
        [r["vec_id"] for r in brute.collect()]


def test_knn_join_matches_bruteforce_within_candidates(spark):
    """The salted two-phase pre-top-k must be LOSSLESS: knn_join output
    equals the global per-query top-k over all candidates sharing >=1
    band — computed here by brute force on a random-ish corpus."""
    import math
    import random

    from doccrawler_spark.ops.similarity import knn_join

    rng = random.Random(7)
    dim, n_bits, n_tables, k = 8, 2, 3, 3
    corpus = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
              for i in range(60)]
    queries = [(100 + i, [rng.uniform(-1, 1) for _ in range(dim)])
               for i in range(4)]

    def key(v, t):
        return "".join(
            "1" if (v[t * n_bits + j] if t * n_bits + j < len(v) else 0) >= 0
            else "0" for j in range(n_bits)
        )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    emb = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(queries, "q_id long, q_emb array<float>")
    got = {
        (r["q_id"], r["vec_id"]): (r["rank"], r["cosine"])
        for r in knn_join(emb, qdf, k=k, n_bits=n_bits, n_tables=n_tables,
                          salt=4, salted=True).collect()
    }
    # the r4 plan-side gate must be invisible in results: the unsalted
    # small-input path returns the identical ranking
    got_unsalted = {
        (r["q_id"], r["vec_id"]): (r["rank"], r["cosine"])
        for r in knn_join(emb, qdf, k=k, n_bits=n_bits, n_tables=n_tables,
                          salt=4, salted=False).collect()
    }
    assert got == got_unsalted
    # float32 storage rounds the vectors before Spark sees them, so
    # compare ranks on the float32-rounded expectation
    expected32 = {}
    for qid, qv in queries:
        import struct
        f32 = lambda v: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        cand = [
            (vid, f32(v)) for vid, v in corpus
            if any(key(f32(v), t) == key(f32(qv), t) for t in range(n_tables))
        ]
        ranked = sorted(
            ((cos(f32(qv), v), vid) for vid, v in cand),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for r, (c, vid) in enumerate(ranked, 1):
            expected32[(qid, vid)] = (r, c)
    assert set(got) == set(expected32)
    for pair, (rank, c) in expected32.items():
        assert got[pair][0] == rank, pair
        assert abs(got[pair][1] - c) < 1e-5, pair


def test_knn_join_indexed_matches_and_prunes(spark, tmp_path):
    """knn_join_indexed over a write_lsh_index layout must (a) return
    results IDENTICAL to inline knn_join at the layout's (n_bits,
    n_tables) — the layout join IS the banding — and (b) scan only the
    bucket dirs the query batch probes, not the full layout."""
    import random

    from doccrawler_spark.ops.similarity import (
        knn_join,
        knn_join_indexed,
        write_lsh_index,
    )

    rng = random.Random(7)
    dim, n_bits, n_tables, k = 8, 2, 3, 3
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(dim)])
         for i in range(4)],
        "q_id long, q_emb array<float>",
    )
    d = str(tmp_path / "knn_lsh_idx")
    write_lsh_index(emb, d, n_bits=n_bits, n_tables=n_tables)

    def rows_of(df):
        return [(r["q_id"], r["vec_id"], r["rank"], r["cosine"])
                for r in df.orderBy("q_id", "vec_id").collect()]

    base = rows_of(knn_join(emb, qdf, k=k, n_bits=n_bits,
                            n_tables=n_tables))
    for salted in (None, True, False):
        idx = knn_join_indexed(spark, d, qdf, k=k, salted=salted)
        assert rows_of(idx) == base, f"salted={salted}"
    # pruning: the pruned read's file index holds only probed dirs —
    # ≤ n_tables·|distinct probed keys| of the n_tables·2^n_bits layout
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        idx = knn_join_indexed(spark, d, qdf, k=k)
        idx.explain("formatted")
        idx.explain()  # simple mode prints InMemoryFileIndex(N paths)
    p = buf.getvalue()
    assert "PartitionFilters: [" in p
    import re

    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", p)
    assert m and int(m.group(1)) <= n_tables * (2 ** n_bits)
    from pathlib import Path

    from doccrawler_spark.ops.similarity import _layout

    n_dirs = sum(
        1 for band in Path(_layout(d)["path"]).iterdir()
        if band.is_dir() for _ in band.iterdir()
    )
    assert int(m.group(1)) < n_dirs  # strictly fewer than the layout


def test_knn_join_salted_matches_unsalted(spark):
    """The salted sub-bucket split (the stats-gated scale shape) must
    return results IDENTICAL to the unsalted one — the per-bucket
    top-k is lossless either way — including zero-norm (empty-doc)
    vectors and queries, which never match."""
    import random

    from doccrawler_spark.ops.similarity import knn_join

    rng = random.Random(23)
    dim = 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(150)]
    rows.append((900, [0.0] * dim))  # zero-norm candidate: never matches
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(
        [(1000 + i, [rng.uniform(-1, 1) for _ in range(dim)])
         for i in range(12)] + [(1999, [0.0] * dim)],
        "q_id long, q_emb array<float>",
    )

    def rows_of(df):
        return [(r["q_id"], r["vec_id"], r["rank"], r["cosine"])
                for r in df.orderBy("q_id", "vec_id").collect()]

    plain, salted = (
        rows_of(knn_join(emb, qdf, k=4, n_bits=2, n_tables=3, salted=s))
        for s in (False, True)
    )
    assert plain == salted and len(plain) > 0
    assert all(r[0] != 1999 and r[1] != 900 for r in plain)


def test_knn_join_indexed_bulk_batch_root_read(spark, tmp_path):
    """A bulk query batch that probes most of the keyspace must take
    the single-root-read path (r8: 1024 per-dir listings cost ~20x one
    recursive root listing) and still return results identical to
    inline knn_join — the (band,key) join, not the dir pruning, is
    what carries the semantics."""
    import random

    from doccrawler_spark.ops.similarity import (
        knn_join,
        knn_join_indexed,
        write_lsh_index,
    )

    rng = random.Random(11)
    dim, n_bits, n_tables, k = 16, 4, 4, 3  # keyspace 64
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    # enough queries that distinct probed (band,key) pairs reach the
    # >=64-dirs + >=25%-coverage bulk gate
    qdf = spark.createDataFrame(
        [(1000 + i, [rng.uniform(-1, 1) for _ in range(dim)])
         for i in range(128)],
        "q_id long, q_emb array<float>",
    )
    d = str(tmp_path / "knn_lsh_bulk")
    write_lsh_index(emb, d, n_bits=n_bits, n_tables=n_tables)

    from doccrawler_spark.ops.similarity import _banded

    q = _banded(qdf, "q_emb", n_bits, n_tables, key_prefix="k")
    n_probed = q.select("band", "key").distinct().count()
    assert n_probed >= 64 and n_probed * 4 >= n_tables * (1 << n_bits), \
        f"fixture must exercise the bulk gate (probed {n_probed})"

    def rows_of(df):
        return [(r["q_id"], r["vec_id"], r["rank"], round(r["cosine"], 5))
                for r in df.orderBy("q_id", "vec_id").collect()]

    base = rows_of(knn_join(emb, qdf, k=k, n_bits=n_bits,
                            n_tables=n_tables))
    assert rows_of(knn_join_indexed(spark, d, qdf, k=k)) == base

    # and the plan really is ONE root, not |dirs| roots
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        knn_join_indexed(spark, d, qdf, k=k).explain()
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", buf.getvalue())
    assert m and int(m.group(1)) == 1


def test_compact_index_preserves_results_and_merges_files(spark, tmp_path):
    """compact_index rewrites a fragmented layout into one-big-file
    partition dirs (small-file compaction) without changing any query
    result — same meta, same rows, fewer files — and still splits an
    oversized bucket at the per-file size bound."""
    import os
    import random

    from doccrawler_spark.ops.similarity import (
        _LAYOUT,
        _layout,
        compact_index,
        ivf_topk_indexed,
        kmeans_centroids,
        write_ivf_index,
    )
    from doccrawler_spark.snapshots import SnapshotCatalog

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)], f"l{i % 2}")
         for i in range(300)],
        "vec_id long, embedding array<float>, label string",
    )
    cents = kmeans_centroids(emb, n_cells=4, sample=64)
    clean = str(tmp_path / "clean")
    write_ivf_index(emb, clean, centroids=cents)
    qv = [rng.uniform(-1, 1) for _ in range(8)]
    want = [(r["vec_id"], r["cosine"]) for r in
            ivf_topk_indexed(spark, clean, qv, k=10).collect()]

    # fragment: publish the same rows with 12 non-aligned tasks → up to
    # 12 files per cell dir (what repeated small appends produce)
    m = _layout(clean)
    frag = str(tmp_path / "frag")
    df = spark.read.option("basePath", m["path"]).parquet(m["path"])
    SnapshotCatalog(frag).write(df.repartition(12), _LAYOUT, 0,
                                partition_by=["cell"], meta=m["meta"])

    def files_per_dir(p):
        return {
            d.name: sum(1 for f in os.scandir(d.path)
                        if f.name.endswith(".parquet"))
            for d in os.scandir(p) if d.is_dir()
        }

    assert max(files_per_dir(_layout(frag)["path"]).values()) > 1
    stats = compact_index(spark, frag)
    assert stats["files_after"] < stats["files_before"]
    assert max(files_per_dir(_layout(frag)["path"]).values()) == 1
    assert _layout(frag)["meta"] == m["meta"]
    got = [(r["vec_id"], r["cosine"]) for r in
           ivf_topk_indexed(spark, frag, qv, k=10).collect()]
    assert got == want

    # a target below one bucket's bytes splits that bucket into several
    # files, and the results stay the same
    compact_index(spark, frag, target_bytes=stats["bytes"] // 20)
    assert max(files_per_dir(_layout(frag)["path"]).values()) > 1
    got = [(r["vec_id"], r["cosine"]) for r in
           ivf_topk_indexed(spark, frag, qv, k=10).collect()]
    assert got == want


def test_index_version_protocol(spark, tmp_path):
    """An index layout is a snapshot of the catalog at its root: every
    publish (build or compaction) lands in a fresh directory behind
    one manifest replace; the superseded layout stays readable through
    the tombstone grace window (a concurrent reader that resolved it
    finishes its scan) and is reclaimed after it; a manifest naming a
    directory that is gone does not count as a committed layout."""
    import os
    import shutil

    from doccrawler_spark.ops.similarity import (
        _layout,
        compact_index,
        index_exists,
        lsh_topk_indexed,
        write_lsh_index,
    )
    from doccrawler_spark.snapshots import SnapshotCatalog

    d = str(tmp_path / "vidx")
    assert not index_exists(d)
    assert not os.path.exists(d)  # the check creates nothing

    emb = spark.createDataFrame(
        [(i, [(1.0 if (i >> b) & 1 else -1.0) for b in range(8)],
          f"l{i % 2}")
         for i in range(40)],
        "vec_id long, embedding array<float>, label string",
    )
    write_lsh_index(emb, d, n_bits=2, n_tables=2)
    assert index_exists(d)
    v1 = _layout(d)["path"]
    assert _layout(d)["meta"] == {"kind": "lsh", "n_bits": 2, "n_tables": 2}
    qv = [1.0] * 8
    want = [(r["vec_id"], r["cosine"])
            for r in lsh_topk_indexed(spark, d, qv, k=5).collect()]

    # rebuild → a new directory is committed; the old one survives the
    # grace window, still complete, and goes once it has passed
    write_lsh_index(emb, d, n_bits=2, n_tables=2)
    v2 = _layout(d)["path"]
    assert v2 != v1
    catalog = SnapshotCatalog(d)
    assert catalog.vacuum_superseded() == 0
    old = spark.read.option("basePath", v1).parquet(v1)
    assert old.select("vec_id").distinct().count() == 40
    assert catalog.vacuum_superseded(grace_s=0) == 1
    assert not os.path.exists(v1) and os.path.isdir(v2)

    stats = compact_index(spark, d)
    assert stats["files_after"] >= 1
    assert _layout(d)["path"] not in (v1, v2)
    got = [(r["vec_id"], r["cosine"])
           for r in lsh_topk_indexed(spark, d, qv, k=5).collect()]
    assert got == want

    # a manifest whose directory was lost must NOT resolve: index_exists
    # goes False so the cache-layer rebuilds instead of reads failing
    # forever on a path with no files
    shutil.rmtree(_layout(d)["path"])
    assert not index_exists(d)


def test_ensure_index_heals_and_cleans(spark, tmp_path, monkeypatch):
    """The driver entry's shared /tmp index cache: a torn cache root
    (data written, nothing committed) is rebuilt and its directory
    reclaimed, and a build that fails leaves no committed layout."""
    import os
    import sys

    import pytest

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from __spark_entry__ import _ensure_index
    from doccrawler_spark import snapshots
    from doccrawler_spark.ops.similarity import (
        index_exists,
        lsh_topk_indexed,
        write_lsh_index,
    )

    emb = spark.createDataFrame(
        [(i, [1.0] * 8, "l") for i in range(10)],
        "vec_id long, embedding array<float>, label string",
    )

    def build(t):
        write_lsh_index(emb, t, n_bits=2, n_tables=1)

    # torn root: a layout directory holding junk, no manifest
    d = str(tmp_path / "cache" / "lsh_torn")
    torn = os.path.join(d, "layout", "r00000.deadbeef")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-junk.parquet"), "w") as f:
        f.write("torn")
    assert not index_exists(d)
    _ensure_index(d, build)
    assert index_exists(d)
    assert lsh_topk_indexed(spark, d, [1.0] * 8, k=3).count() == 3
    assert snapshots.SnapshotCatalog(d).vacuum_superseded(grace_s=0) == 1
    assert not os.path.exists(torn)

    # build failure at the commit: nothing committed, a retry builds
    d2 = str(tmp_path / "cache" / "lsh_fail")
    real = snapshots._write_json

    def crash(path, obj):
        if path.endswith("_r00000.manifest.json"):
            raise OSError("injected crash at the layout commit")
        real(path, obj)

    monkeypatch.setattr(snapshots, "_write_json", crash)
    with pytest.raises(OSError):
        _ensure_index(d2, build)
    assert not index_exists(d2)
    monkeypatch.setattr(snapshots, "_write_json", real)
    _ensure_index(d2, build)
    assert index_exists(d2)


def test_compact_index_crash_keeps_the_committed_layout(spark, tmp_path,
                                                        monkeypatch):
    """A crash at compact_index's one commit point (the layout's
    manifest replace) leaves the pre-crash layout committed and
    answering queries with the same rows; the stranded rewrite is an
    unreferenced directory the catalog reclaims."""
    import os
    import random

    import pytest

    from doccrawler_spark import snapshots
    from doccrawler_spark.ops.similarity import (
        _layout,
        compact_index,
        hash_sample_centroids,
        index_exists,
        ivf_topk_indexed,
        write_ivf_index,
    )

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)], f"l{i % 2}")
         for i in range(120)],
        "vec_id long, embedding array<float>, label string",
    )
    d = str(tmp_path / "ivf")
    write_ivf_index(emb, d, centroids=hash_sample_centroids(emb, 4))
    before = _layout(d)["path"]
    qv = [rng.uniform(-1, 1) for _ in range(8)]
    want = [(r["vec_id"], r["cosine"])
            for r in ivf_topk_indexed(spark, d, qv, k=10).collect()]

    real = snapshots._write_json

    def crash(path, obj):
        if path.endswith(os.path.join("layout", "_r00000.manifest.json")):
            raise OSError("injected crash at the compaction commit")
        real(path, obj)

    monkeypatch.setattr(snapshots, "_write_json", crash)
    with pytest.raises(OSError):
        compact_index(spark, d)
    monkeypatch.setattr(snapshots, "_write_json", real)

    assert index_exists(d)
    assert _layout(d)["path"] == before
    got = [(r["vec_id"], r["cosine"])
           for r in ivf_topk_indexed(spark, d, qv, k=10).collect()]
    assert got == want
    layout_dir = os.path.dirname(before)
    stranded = [n for n in os.listdir(layout_dir)
                if n.startswith("r") and os.path.join(layout_dir, n) != before]
    assert len(stranded) == 1
    assert snapshots.SnapshotCatalog(d).vacuum_superseded(grace_s=0) == 1
    assert sorted(n for n in os.listdir(layout_dir) if n.startswith("r")) \
        == [os.path.basename(before)]


def test_knn_join_indexed_no_matching_bucket(spark, tmp_path):
    """A query batch probing only buckets no corpus vector occupies
    returns an empty frame with the knn_join schema (the no-directory
    branch of _read_layout)."""
    from doccrawler_spark.ops.similarity import (
        knn_join_indexed,
        write_lsh_index,
    )

    emb = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    d = str(tmp_path / "pos_idx")
    write_lsh_index(emb, d, n_bits=2, n_tables=2)
    qdf = spark.createDataFrame(
        [(0, [-1.0] * 8)], "q_id long, q_emb array<float>"
    )
    out = knn_join_indexed(spark, d, qdf, k=3)
    assert out.columns == ["q_id", "vec_id", "rank", "cosine"]
    assert out.count() == 0


def test_lsh_topk_multi_table_recall(spark):
    """OR-amplified LSH: a vector that misses the first table's bucket
    but hits the second is still a candidate; one that hits neither
    never is."""
    from doccrawler_spark.ops.similarity import lsh_topk

    q = [1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0]
    emb = spark.createDataFrame(
        [
            (0, q, 0),
            (1, [-1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0], 0),  # table 2 hit
            (2, [-1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0], 0),   # no hit
        ],
        "vec_id long, embedding array<float>, label int",
    )
    two = {r["vec_id"] for r in lsh_topk(emb, q, k=3, n_bits=4, n_tables=2)
           .collect()}
    assert two == {0, 1}
    one = {r["vec_id"] for r in lsh_topk(emb, q, k=3, n_bits=4, n_tables=1)
           .collect()}
    assert one == {0}


def test_text_ops(spark, docs):
    from doccrawler_spark.ops.text import (
        fingerprints,
        lang_id,
        quality_scores,
        token_stats,
    )

    ts = {r["doc_id"]: r["n_tokens"] for r in token_stats(docs).collect()}
    assert ts[0] == 9
    li = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert li[0] == "en" and li[3] == "es"
    qs = {r["doc_id"]: r["quality"] for r in quality_scores(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in qs.values())
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    assert fp[0] == fp[1] == fp[5]


def test_multimodal_plumbing(spark, docs):
    from doccrawler_spark.ops.multimodal import (
        decode_image,
        documents_as_media,
        extract_features,
        frame_sample,
    )

    media = documents_as_media(docs)
    feats = extract_features(media, n_features=8).collect()
    assert len(feats) == len(TEXTS)
    by_id = {r["media_id"]: r for r in feats}
    # deterministic: identical payloads → identical features + sha
    assert by_id[0]["features"] == by_id[1]["features"]
    assert by_id[0]["sha"] == by_id[1]["sha"]
    assert abs(sum(by_id[0]["features"]) - 1.0) < 1e-6

    frames = frame_sample(media, every_ms=10).collect()
    assert len(frames) > 0

    with pytest.raises(NotImplementedError):
        decode_image(b"xx", fake=False)


def test_ann_index_layouts_prune_and_match(spark, tmp_path):
    """Write-time ANN layouts (r4): the partitioned IVF/LSH indexes
    must (a) return results identical to the per-query-scan operators
    at the same parameters, and (b) actually PRUNE — PartitionFilters
    reach the FileScan and only the probed partition dirs are read."""
    import os
    import random

    from doccrawler_spark.ops.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        kmeans_centroids,
        lsh_topk,
        lsh_topk_indexed,
        write_ivf_index,
        write_lsh_index,
    )

    rng = random.Random(11)
    dim = 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)], f"l{i % 3}")
            for i in range(200)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    qv = [rng.uniform(-1, 1) for _ in range(dim)]

    def rows_of(df):
        return [(r["vec_id"], r["label"], r["cosine"])
                for r in df.orderBy(F.desc("cosine"), "vec_id").collect()]

    def plan_of(df):
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # ---- IVF: same centroids → identical top-k; scan prunes to n_probe
    cents = kmeans_centroids(emb, n_cells=4, sample=64)
    ivf_dir = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, ivf_dir, centroids=cents)
    base = rows_of(ivf_topk(emb, qv, k=10, n_probe=2, centroids=cents))
    idx = ivf_topk_indexed(spark, ivf_dir, qv, k=10, n_probe=2)
    assert rows_of(idx) == base
    p = plan_of(idx)
    assert "PartitionFilters: [" in p and "PartitionFilters: []" not in p
    # all 4 cells materialized on disk, only 2 probed
    from doccrawler_spark.ops.similarity import _layout

    cells = [n for n in os.listdir(_layout(ivf_dir)["path"])
             if n.startswith("cell=")]
    assert len(cells) >= 3

    # ---- LSH: same params → identical top-k; OR-of-(band,key) prunes
    lsh_dir = str(tmp_path / "lsh_idx")
    write_lsh_index(emb, lsh_dir, n_bits=4, n_tables=3)
    base = rows_of(lsh_topk(emb, qv, k=10, n_bits=4, n_tables=3))
    idx = lsh_topk_indexed(spark, lsh_dir, qv, k=10)
    assert rows_of(idx) == base
    p = plan_of(idx)
    assert "PartitionFilters: [" in p and "PartitionFilters: []" not in p


def test_ann_tolerates_zero_norm_vectors(spark):
    """Empty documents hash-embed to all-zero vectors, and a 100-TB
    corpus always contains empty pages: every cosine operator must
    treat a zero-norm vector as matching nothing (NULL cosine via
    try_divide) instead of dying on ANSI division-by-zero — the
    failure mode the r7 crawl-corpus ANN stage cell actually hit."""
    import random

    from doccrawler_spark.ops.dedup import embedding_neardup_pairs
    from doccrawler_spark.ops.similarity import cosine_topk, knn_join

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], "l")
            for i in range(30)]
    rows.append((99, [0.0] * 8, "zero"))          # the empty document
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")

    got = cosine_topk(emb, [1.0] * 8, k=40).collect()
    assert len(got) == 30                          # zero vec excluded
    assert all(r["vec_id"] != 99 for r in got)

    q = spark.createDataFrame(
        [(1, rows[0][1]), (2, [0.0] * 8)],         # incl. a zero QUERY
        "q_id long, q_emb array<float>")
    out = knn_join(emb, q, k=3).collect()
    assert all(r["vec_id"] != 99 for r in out)     # never a neighbor
    assert all(r["q_id"] != 2 for r in out)        # zero query: no rows
    assert sum(1 for r in out if r["q_id"] == 1) == 3

    pairs = embedding_neardup_pairs(emb, threshold=-1.0).collect()
    assert all(99 not in (r["vec_a"], r["vec_b"]) for r in pairs)
