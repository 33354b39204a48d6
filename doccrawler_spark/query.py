"""Query side: hybrid (dense+sparse, alpha-weighted) top-k retrieval
with metadata filters and a rerank stage (SURVEY.md §2.4 / §3.2).

One DataFrame job: vectors table → metadata predicates (Q2) → native
hybrid score (Q3/Q4: the query embedding is folded into the plan as
literals so scoring stays in whole-stage codegen) →
TakeOrderedAndProject top_k → rerank score (Q6) → limit(top_n).

Reference: query_usecase.py:22-96, pinecone_service.py:119-178,
jina_reranker_service.py:17-41.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import functions as Fx
from .kernels import embed as embed_k


def _is_array_field(schema, key: str) -> bool:
    """True when metadata.<key> is ARRAY-typed in the vectors schema."""
    if schema is None:
        return False
    try:
        from pyspark.sql import types as T

        meta = schema["metadata"].dataType
        return isinstance(meta[key].dataType, T.ArrayType)
    except (KeyError, TypeError):
        return False


def filters_to_predicates(filters: dict | None, schema=None):
    """Q2 filter-dialect transform (query_usecase.py:41-62):
    str → $in [v] → isin; list → $in → isin; bool → $eq → ==;
    None → $exists false → isNull.  Keys address metadata fields.

    Pinecone ``$in`` against a LIST-typed metadata field (``domains``,
    ``subdomains``) matches on element OVERLAP, not value equality —
    pass the vectors schema so array fields get arrays_overlap /
    array_contains instead of an (always-false) isin."""
    preds = []
    for k, v in (filters or {}).items():
        c = F.col(f"metadata.{k}")
        arr = _is_array_field(schema, k)
        if v is None:
            preds.append(c.isNull())
        elif isinstance(v, bool):
            # metadata booleans are normalized to lowercase strings (X9)
            preds.append(c == str(v).lower())
        elif isinstance(v, str):
            preds.append(F.array_contains(c, v) if arr else c.isin([v]))
        elif isinstance(v, (list, tuple)):
            if arr:
                preds.append(
                    F.arrays_overlap(c, F.array(*[F.lit(x) for x in v]))
                )
            else:
                preds.append(c.isin(list(v)))
        else:
            preds.append(c == v)
    return preds


def hybrid_query(
    vectors: DataFrame,
    query_text: str,
    *,
    alpha: float = 0.5,
    filters: dict | None = None,
    top_k: int = 20,
    top_n: int = 10,
    stats: embed_k.BM25Stats,
    dim: int = 64,
    rerank: bool = True,
) -> DataFrame:
    """Returns (id, url, site_id, chunked_data, score, rerank_score)
    ordered by the final ranking."""
    if not 0.0 <= alpha <= 1.0:  # pinecone_service.py:121-123
        raise ValueError("Alpha must be between 0 and 1")

    dense_q = embed_k.dense_embed(query_text, dim)
    sq_idx, sq_val = embed_k.bm25_encode_query(query_text, stats)
    qmap = dict(zip(sq_idx, sq_val))

    df = vectors
    for p in filters_to_predicates(filters, vectors.schema):
        df = df.filter(p)

    dense_lit = F.lit(np.asarray(dense_q, np.float64))
    score = (
        F.lit(float(alpha)) * Fx.dense_dot(dense_lit, F.col("values"))
        + F.lit(1.0 - float(alpha))
        * Fx.sparse_dot_with_query(
            F.col("sparse.indices"), F.col("sparse.values"), qmap
        )
    )
    topk = (
        df.withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("url"), F.asc("id"))  # deterministic tie-break
        .limit(top_k)
    )
    if not rerank:
        return topk.select("id", "url", "site_id", "chunked_data", "score")

    # Q6 rerank: deterministic lexical-overlap cross-score, JVM-side —
    # |query_tokens ∩ doc_tokens| / |query_tokens| (kernels.embed.rerank_score)
    q_tokens = sorted(set(embed_k.tokenize(query_text)))
    if q_tokens:
        # single-pass tokens (Fx.tokens_col); empty-string tokens could
        # never intersect a real query token, so the value is identical
        doc_tokens = F.array_distinct(Fx.tokens_col("chunked_data"))
        q_lit = F.array(*[F.lit(t) for t in q_tokens])
        rr = F.size(F.array_intersect(doc_tokens, q_lit)) / F.lit(len(q_tokens))
    else:
        rr = F.lit(0.0)
    return (
        topk.withColumn("rerank_score", rr)
        .orderBy(F.desc("rerank_score"), F.desc("score"), F.asc("url"), F.asc("id"))
        .limit(top_n)
        .select("id", "url", "site_id", "chunked_data", "score", "rerank_score")
    )
