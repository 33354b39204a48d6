"""Driver queries vs their DuckDB ``oracle_sql()`` replay on synthesized
edge-case tables: NULL, empty, whitespace-only and non-ASCII text with
planted duplicates, and embeddings with zero-norm vectors (one of
them a knn_join query) and a near-dup cluster.  No testdata tier
carries any of these, so the tables are written here; each leaf must
return exactly the rows the oracle computes over the same parquet
files."""

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
    return pd.DataFrame({
        "vec_id": pd.Series(range(len(vecs)), dtype="int64"),
        "embedding": [[float(x) for x in v] for v in vecs],
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


@pytest.mark.parametrize("leaf", LEAVES)
def test_query_equals_oracle_replay(spark, edge_dir, leaf):
    import duckdb

    import __spark_entry__ as E

    got = E.queries()[leaf](spark, edge_dir).toPandas()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(edge_dir, t + '.parquet')}'")
    want = con.execute(E.oracle_sql()[leaf]).fetchdf()
    con.close()

    cols = list(got.columns)
    assert sorted(cols) == sorted(want.columns)
    assert len(want) > 0, f"{leaf}: oracle returned no rows"
    assert _rows(got, cols) == _rows(want, cols)
