"""``corpus``: index writes and the analytics leaves, with no crawl.

Index writes: the IVF layout ``ivf_topk_indexed`` reads
(``ops.similarity.write_ivf_index``), built fresh in every pass.
Analytics: ops leaves of ``__spark_entry__.queries()`` over seeded
documents/embeddings tables sized past the engine's 2 MB Arrow gate,
so the size-gated Arrow kernels run.  Each leaf is timed
through ``toPandas()``: like a ``noop`` sink it computes every output
column (a ``.count()`` would let Catalyst prune columns away), and it
hands the rows to the oracle check, so no leaf runs twice.
``hybrid_topk`` runs the pipeline (BM25 fit, fused embed) and
``query.hybrid_query`` layers.

Writes sit beside reads, so a cheaper lookup bought with a costlier
layout shows in the index time.  Crawl changes predict no change here.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

from . import inputs

# just past the 2 MiB gate: ~320 B per uncompressed document row,
# ~367 B per 64-float embedding row
N_DOCS, N_VECS, DIM = 6_800, 5_800, 64

# size-gated Arrow kernels, the ANN read pair and the pipeline + query
# path (README.md lists the leaves left out)
LEAVES = (
    "exact_dedup", "embedding_neardup", "chunk_documents",
    "ivf_topk", "ivf_topk_indexed", "hybrid_topk",
)
# indexed leaf → the inline leaf it must agree with
SIBLINGS = {"ivf_topk_indexed": "ivf_topk"}


def _entry():
    if inputs.ROOT not in sys.path:
        sys.path.insert(0, inputs.ROOT)
    import __spark_entry__ as E

    return E


def prepare(seed: int, work: str) -> dict:
    """Untimed: the analytics tables and their DuckDB oracle answers."""
    sf_dir = inputs.analytics_tables(work, seed, N_DOCS, N_VECS, DIM)
    return {"sf_dir": sf_dir,
            "oracles": inputs.leaf_oracles(work, sf_dir, list(LEAVES))}


def load(spark, prepared: dict):
    return spark.read.parquet(os.path.join(prepared["sf_dir"], "embeddings.parquet"))


def run_pass(spark, emb, prepared: dict, tracer) -> dict:
    from doccrawler_spark.ops.similarity import hash_sample_centroids, write_ivf_index

    E = _entry()
    sf = prepared["sf_dir"]
    failures: list[str] = []
    # a clean ANN cache: every pass builds its layouts
    shutil.rmtree(os.path.join(tempfile.gettempdir(), "doccrawler_ann_idx"),
                  ignore_errors=True)

    # ---- index writes: the IVF layout ivf_topk_indexed reads, at the
    # cache path that leaf resolves (so the leaf scans, never rebuilds)
    t0 = time.perf_counter()
    try:
        with tracer.span("corpus.index_ann"):
            E._ensure_index(E._ann_index_dir(sf, "ivf", "c8"), lambda t: write_ivf_index(
                emb, t, centroids=hash_sample_centroids(emb, 8)))
    except Exception as e:
        failures.append(f"corpus.index_build_raised: {type(e).__name__}: {e}")
    index_build_s = time.perf_counter() - t0

    # ---- analytics leaves, each action computing every output column
    ops_s = 0.0
    outs = {}
    Q = E.queries()
    for leaf in LEAVES:
        t0 = time.perf_counter()
        try:
            with tracer.span(f"ops.{leaf}"):
                outs[leaf] = Q[leaf](spark, sf).toPandas()
        except Exception as e:
            failures.append(f"corpus.{leaf}_raised: {type(e).__name__}: {e}")
        ops_s += time.perf_counter() - t0

    # ---- untimed checks
    failures += check_leaves(outs, prepared["oracles"])
    return {
        "index_build_s": index_build_s, "ops_s": ops_s,
        "attempted": 1 + len(LEAVES), "failures": failures,
    }


# ------------------------------------------------------------ checks


def _norm_cell(v):
    if isinstance(v, float):
        return None if v != v else v
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, np.generic):
        return _norm_cell(v.item())
    return v


def _rows(pdf, cols) -> list[tuple]:
    rows = [tuple(_norm_cell(v) for v in r)
            for r in pdf[cols].itertuples(index=False, name=None)]

    def key(r):
        return tuple(round(x, 3) if isinstance(x, float) else
                     (x is None, str(x)) for x in r)
    return sorted(rows, key=key)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(b)))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want) -> str | None:
    """None when equal as multisets (floats within 1e-6), else why."""
    cols = list(got.columns)
    missing = [c for c in cols if c not in want.columns]
    if missing:
        return f"columns {missing} missing from the reference"
    a, b = _rows(got, cols), _rows(want, cols)
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    for x, y in zip(a, b):
        if not all(_close(p, q) for p, q in zip(x, y)):
            return f"first differing row {x} vs {y}"
    return None


def check_leaves(outs: dict, oracles: dict) -> list[str]:
    fails = []
    for leaf, pdf in outs.items():
        if leaf in oracles:
            why = same_rows(pdf, oracles[leaf])
            if why:
                fails.append(f"corpus.{leaf}_vs_duckdb: {why}")
        sib = SIBLINGS.get(leaf)
        if sib and sib in outs:
            why = same_rows(pdf, outs[sib])
            if why:
                fails.append(f"corpus.{leaf}_vs_{sib}: {why}")
    return fails


def layer_metrics(tracer) -> dict:
    from .trace import counters_of

    sp = tracer.spans

    def one(name):
        return [s for s in sp if s.name == name]

    def dur(spans):
        return sum(s.dur for s in spans)

    bm25 = dur(one("pipeline.fit_bm25"))
    plans = [s.dur * 1e3 for s in one("query.hybrid_query")]
    out = {
        "pipeline.bm25_fit_s": bm25,
        "pipeline.vectors_plan_s": dur(one("pipeline.build_vectors")) - bm25,
        "ops.ann_layout_build_s": dur(one("corpus.index_ann")),
        "query.plan_ms_p50": statistics.median(plans) if plans else 0.0,
    }
    for leaf in LEAVES:
        spans = one(f"ops.{leaf}")
        c = counters_of(tracer, spans)
        out[f"ops.{leaf}_s"] = dur(spans)
        out[f"ops.{leaf}.shuffle_mb"] = c.get("shuffleWriteBytes", 0) / 1e6
        out[f"ops.{leaf}.python_ops"] = c.get("python_ops", 0)
    return out
