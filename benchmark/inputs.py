"""Seeded benchmark inputs and their oracle answers, cached on disk.

Everything here runs before the Spark session starts and outside all
timing.  A cache entry is keyed by the workload's input spec, the seed
and a hash of the generator and oracle sources, so a change to any of
them regenerates instead of reusing stale inputs.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sources whose change invalidates cached inputs and oracle answers
_SOURCES = (
    "doccrawler_spark/webgen.py",
    "doccrawler_spark/kernels/html.py",
    "doccrawler_spark/kernels/merge.py",
    "doccrawler_spark/kernels/urls.py",
    "doccrawler_spark/kernels/filters.py",
    "tests/oracle.py",
    "benchmark/inputs.py",
)

# the documents table's vocabulary and language mix follow the
# TESTDATA tiers (30 words, 41% en, ~5% near-duplicates "<text> dup")
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def source_hash() -> str:
    h = hashlib.sha256()
    for rel in _SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cache_dir(work: str, kind: str, key: str) -> str:
    return os.path.join(work, "inputs", f"{kind}-{key}")


def _publish(tmp: str, final: str) -> None:
    """Atomic cache commit: a half-written entry is never reused."""
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


# ------------------------------------------------------------ webs


def _write_site_slice(spec, site_ix: int, lo: int, hi: int, path: str) -> None:
    """Write one (site, page range) slice as a parquet file."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from doccrawler_spark import webgen as W

    s = spec.sites[site_ix]
    rows = [W.gen_page_row(spec, s, i) for i in range(lo, hi)]
    if lo == 0:
        rows += W._special_rows(s) + W._locale_rows(spec, s)
    table = pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def web(work: str, spec, slice_pages: int = 512) -> str:
    """Directory of ``web_pages`` parquet files for ``spec`` (one file
    per site slice, like the engine's distributed generator writes).
    Written in this process: a few seconds at small_spec size, and no
    helper process can outlive the run."""
    key = hashlib.sha256(
        (repr(spec) + source_hash()).encode()).hexdigest()[:16]
    final = cache_dir(work, "web", key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = 0
    for si, s in enumerate(spec.sites):
        for lo in range(0, s.n_pages, slice_pages):
            _write_site_slice(spec, si, lo, min(lo + slice_pages, s.n_pages),
                              os.path.join(tmp, f"part-{n:05d}.parquet"))
            n += 1
    _publish(tmp, final)
    return final


def seeds_of(spec) -> list[str]:
    from doccrawler_spark.webgen import gen_seeds

    return [s["seed_url"] for s in gen_seeds(spec)]


def read_web(path: str, columns: list[str]) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=columns)
    return t.to_pydict()


# ---------------------------------------------------------- oracle


def text_digest(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def crawl_oracle(work: str, spec, web_path: str, ocfg) -> dict:
    """The sequential oracle's uninterrupted crawl of ``spec``:
    crawl order rows (url, site_id, depth, round, priority, text md5),
    seen set, per-site budget spent and miss count."""
    import sys

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tests.oracle import SequentialOracle

    key = hashlib.sha256((repr(spec) + repr(ocfg) + source_hash())
                         .encode()).hexdigest()[:16]
    final = cache_dir(work, "oracle", key)
    path = os.path.join(final, "oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    cols = read_web(web_path, ["url", "html"])
    pages = {u: bytes(h).decode("utf-8") for u, h in zip(cols["url"], cols["html"])}
    res = SequentialOracle(pages, ocfg).run(seeds_of(spec))
    out = {
        "crawled": [[r["url"], r["site_id"], r["depth"], r["round"],
                     r["priority"], text_digest(r["text"])]
                    for r in sorted(res.crawled, key=lambda r: r["priority"])],
        "seen": sorted(res.seen),
        "budget": res.budget,
        "misses": len(res.misses),
        "rounds": res.rounds,
    }
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(out, f)
    _publish(tmp, final)
    return out


# --------------------------------------------------- analytics tables


def analytics_tables(work: str, seed: int, n_docs: int, n_vecs: int,
                     dim: int = 64) -> str:
    """``documents``/``embeddings`` parquet with the TESTDATA schema
    and value distributions, sized past the engine's 2 MB Arrow gate.

    ``documents`` is written without compression: the gate reads the
    file size, so the Arrow kernels engage at a row count that keeps
    the pairwise leaves inside one run's time budget."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = hashlib.sha256(
        f"{seed}|{n_docs}|{n_vecs}|{dim}|{source_hash()}".encode()
    ).hexdigest()[:16]
    final = cache_dir(work, "tables", key)
    if os.path.isdir(final):
        return final
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS[0], n_docs, p=_LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    x = rng.normal(size=(n_vecs, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(x),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(tmp, "documents.parquet"), compression="none")
    pq.write_table(pa.Table.from_pandas(emb, preserve_index=False),
                   os.path.join(tmp, "embeddings.parquet"))
    _publish(tmp, final)
    return final


def leaf_oracles(work: str, sf_dir: str, leaves: list[str]) -> dict:
    """Each leaf's ``oracle_sql()`` answer, replayed in DuckDB over the
    same parquet files (one connection per thread), cached beside the
    tables."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    import pandas as pd

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import __spark_entry__ as E

    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as f:
        h = hashlib.sha256(f.read()).hexdigest()[:12]
    sql = E.oracle_sql()

    def one(leaf: str) -> str:
        path = os.path.join(sf_dir, f"oracle-{leaf}-{h}.parquet")
        if not os.path.exists(path):
            with duckdb.connect() as con:
                for t in ("documents", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(sf_dir, t)}.parquet'")
                df = con.execute(sql[leaf]).df()
            tmp = f"{path}.tmp{os.getpid()}"
            df.to_parquet(tmp)
            os.replace(tmp, path)
        return path

    todo = [leaf for leaf in leaves if leaf in sql]
    with ThreadPoolExecutor(4) as ex:
        paths = list(ex.map(one, todo))
    return {leaf: pd.read_parquet(p) for leaf, p in zip(todo, paths)}


def with_seed(spec, seed: int):
    return dataclasses.replace(spec, seed=seed)
