"""Driver queries vs their DuckDB ``oracle_sql()`` replay on synthesized
edge-case tables: NULL, empty, whitespace-only and non-ASCII text with
planted duplicates, and embeddings with zero-norm vectors and a NULL
one (both among the knn_join queries) and a near-dup cluster.  No
testdata tier carries any of these, so the tables are written here;
each leaf must return exactly the rows the oracle computes over the
same parquet files, on both sides of the ``_fan_out`` gate and with
LSH buckets straddling Arrow batches."""

import math
import os
import random

import pandas as pd
import pytest

LEAVES = ("exact_dedup", "simhash", "chunk_documents", "ngram_jaccard",
          "embedding_neardup", "knn_join", "minhash_lsh", "minhash_verified",
          "token_stats", "quality_scores", "lang_id", "fingerprint")

EDGE_TEXTS = [
    None,
    None,
    "",
    "   ",
    "\t\n  \n",
    "!!! ... ???",
    "café naïve résumé über straße",
    "Café Naïve Résumé — über Straße!",
    "日本語のテキスト 中文 한국어",
    "emoji 🎉 party 🎉 time with spark joins",
    "x",
    "two words",
]


def _documents() -> pd.DataFrame:
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)] + ["spark", "join", "shuffle"]
    texts = list(EDGE_TEXTS)
    for i in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randint(3, 40))]
        texts.append(" ".join(toks))
        if i % 5 == 0:  # exact dup, modulo case and punctuation
            texts.append(" ".join(toks).upper() + " !!")
        if i % 4 == 0:  # near dup: one token mutated
            mut = list(toks)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            texts.append(" ".join(mut))
    # a long body, so chunk_documents splits into two chunks
    texts.append(" ".join(rng.choice(vocab) for _ in range(120)))
    return pd.DataFrame({
        "doc_id": pd.Series(range(len(texts)), dtype="int64"),
        "text": texts,
        "lang": "en",
        "source": [f"src{i % 3}" for i in range(len(texts))],
        "n_chars": pd.Series([len(t) if t is not None else None
                              for t in texts], dtype="Int64"),
    })


def _embeddings() -> pd.DataFrame:
    rng = random.Random(9)
    dim = 64
    vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(80)]
    base = [rng.gauss(0, 1) for _ in range(dim)]
    vecs += [[x + rng.gauss(0, 1e-3) for x in base] for _ in range(6)]
    vecs += [[0.0] * dim, [0.0] * dim]  # zero-norm: never pairs
    # vec_id 0 is zero-norm too: knn_join's 5 queries are the lowest
    # vec_ids, so one of them has no neighbour at all
    vecs.insert(0, [0.0] * dim)
    # vec_id 2 is NULL: no cosine (DuckDB's list_dot_product is NULL),
    # so no pair and, as a query, no neighbour
    vecs.insert(2, None)
    return pd.DataFrame({
        "vec_id": pd.Series(range(len(vecs)), dtype="int64"),
        "embedding": [[float(x) for x in v] if v is not None else None
                      for v in vecs],
        "label": pd.Series([i % 4 for i in range(len(vecs))],
                           dtype="int32"),
    })


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_tables")
    pq.write_table(pa.Table.from_pandas(_documents(), preserve_index=False),
                   os.path.join(d, "documents.parquet"))
    emb = _embeddings()
    pq.write_table(pa.Table.from_pandas(emb, preserve_index=False, schema=pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])), os.path.join(d, "embeddings.parquet"))
    return str(d)


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    return round(v, 9) if isinstance(v, float) else v


def _rows(pdf: pd.DataFrame, cols) -> list:
    rows = [tuple(_canon(v) for v in r)
            for r in pdf[cols].astype(object).itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def _oracle(edge_dir, leaf) -> pd.DataFrame:
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(edge_dir, t + '.parquet')}'")
    want = con.execute(E.oracle_sql()[leaf]).fetchdf()
    con.close()
    return want


def _assert_replay(spark, edge_dir, leaf):
    import __spark_entry__ as E

    got = E.queries()[leaf](spark, edge_dir).toPandas()
    want = _oracle(edge_dir, leaf)
    cols = list(got.columns)
    assert sorted(cols) == sorted(want.columns)
    assert len(want) > 0, f"{leaf}: oracle returned no rows"
    assert _rows(got, cols) == _rows(want, cols)


@pytest.mark.parametrize("leaf", LEAVES)
def test_query_equals_oracle_replay(spark, edge_dir, leaf):
    _assert_replay(spark, edge_dir, leaf)


# the leaves whose plan passes through dedup._fan_out
FAN_OUT_LEAVES = ("exact_dedup", "simhash", "ngram_jaccard", "minhash_lsh",
                  "minhash_verified")


@pytest.mark.parametrize("way", ("spread", "pass"))
@pytest.mark.parametrize("leaf", FAN_OUT_LEAVES)
def test_fan_out_gate_is_invisible(spark, edge_dir, leaf, way, monkeypatch):
    """``_fan_out`` is a size gate: spreading the input or passing it
    through must return the same rows — forced each way here, since
    the edge tables alone only ever take the spreading branch."""
    from doccrawler_spark.ops import dedup

    calls = []

    def forced(df, *cols):
        calls.append(cols)
        if way == "pass":
            return df
        n = df.sparkSession.sparkContext.defaultParallelism
        return df.repartition(n, *cols) if cols else df.repartition(n)

    monkeypatch.setattr(dedup, "_fan_out", forced)
    _assert_replay(spark, edge_dir, leaf)
    assert calls, f"{leaf} never reached _fan_out"


def test_bucket_kernel_runs_straddle_arrow_batches(spark, edge_dir):
    """The LSH bucket kernel walks sorted runs across Arrow batches and
    carries an open run into the next batch.  With 3 rows per batch
    every bucket of more than 3 rows (the 6-vector near-dup cluster
    shares all its buckets) straddles a boundary; near-dup pairs and
    knn_join (salted and unsalted) must not change, and must equal
    the oracle."""
    from pyspark.sql import functions as F

    from doccrawler_spark.ops.dedup import embedding_neardup_pairs
    from doccrawler_spark.ops.similarity import knn_join

    emb = spark.read.parquet(os.path.join(edge_dir, "embeddings.parquet"))
    q = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))

    def results():
        nd = embedding_neardup_pairs(emb, threshold=0.3).toPandas()
        out = {"embedding_neardup": _rows(nd, ["vec_a", "vec_b", "cosine"])}
        for salted in (False, True):
            kj = knn_join(emb, q, k=5, n_bits=4, n_tables=4, salt=4,
                          salted=salted).toPandas()
            out[f"knn_join salted={salted}"] = _rows(
                kj, ["q_id", "vec_id", "rank", "cosine"])
        return out

    default = results()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "3")
    try:
        small = results()
    finally:
        spark.conf.unset(key)
    assert small == default
    # the cluster's 15 pairs come from buckets of ≥ 6 rows
    assert len(default["embedding_neardup"]) >= 15

    want = _oracle(edge_dir, "embedding_neardup")
    assert default["embedding_neardup"] == _rows(
        want, ["vec_a", "vec_b", "cosine"])
    want = _rows(_oracle(edge_dir, "knn_join"),
                 ["q_id", "vec_id", "rank", "cosine"])
    assert default["knn_join salted=False"] == want
    assert default["knn_join salted=True"] == want
