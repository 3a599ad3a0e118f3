"""Late-interaction (MaxSim) scoring — ColBERT-style multi-vector
retrieval (Khattab & Zaharia, SIGIR 2020 — public knowledge).

Where the single-vector tiers (``operators.topk`` / ``ann`` / ``pq``)
represent a document as ONE embedding, late interaction keeps one
embedding per token and scores

    score(q, d) = Σ_{t ∈ q} max_{u ∈ d} sim(t, u)

which preserves term-level matching (the reason ColBERT out-ranks
bi-encoders) while staying offline-indexable — exactly the shape a
Spark batch pipeline can own, vs the online cross-encoder it
approximates.

Scale shape: doc tokens shuffle ONCE, grouped by document
(``applyInPandas``); the query token matrix rides in the task closure
(bounded: queries × tokens × dim — the same broadcast assumption as
``knn_topk_gemm``). Per group one BLAS GEMM (d_tokens × dim) @
(dim × q_tokens), a column-max, and a per-query segment sum — no
crossJoin, no per-pair Python. Top-k selection afterwards is the
standard per-query window over doc scores.

Reference parity note: north-star surface — the reference's retrieval
is single-vector (weaviate nearVector,
/root/reference/weaviate_txtai/ann/weaviate.py:154-170).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
)

from weaviate_txtai_spark.operators.topk import (
    decode_vectors,
    keep_nan,
    rank_top,
    unit_rows,
)


def maxsim_scores(
    query_tokens: DataFrame,
    doc_tokens: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "vector",
    doc_id: str = "doc_id",
    doc_vec: str = "vector",
    decimals: int = 6,
) -> DataFrame:
    """Score every (query, document) pair by MaxSim over cosine.

    ``query_tokens``: (query_id, vector) one row per query token —
    COLLECTED to the driver and shipped in the task closure, so total
    query-token volume must be bounded (same contract as
    ``knn_topk_gemm``'s query list). ``doc_tokens``: (doc_id, vector)
    one row per document token — arbitrarily large, shuffled once.

    Output: (query_id, doc_id, score) with score rounded to
    ``decimals``; zero-norm tokens contribute 0 (the repo's standard
    zero-vector guard, not NaN).
    """
    import numpy as np

    # NULL ids excluded on both sides: unkeyed query tokens would merge
    # into one pseudo-query's MaxSim sum, and unkeyed doc tokens would
    # share ONE applyInPandas group as a pseudo-document
    qrows = (
        query_tokens.filter(F.col(query_id).isNotNull())
        .select(query_id, query_vec)
        .collect()
    )
    if not qrows:
        raise ValueError("maxsim_scores: empty query_tokens")
    qids_all = [r[0] for r in qrows]
    qmat = unit_rows(np.asarray([list(r[1]) for r in qrows], dtype=np.float64))
    # segment boundaries: one output score per distinct query id
    uniq = sorted(set(qids_all))
    qidx = {q: i for i, q in enumerate(uniq)}
    seg = np.asarray([qidx[q] for q in qids_all])

    q_id_field = query_tokens.schema[query_id].dataType
    d_id_field = doc_tokens.schema[doc_id].dataType
    out_schema = StructType(
        [
            StructField("query_id", q_id_field),
            StructField("doc_id", d_id_field),
            StructField("score", DoubleType()),
        ]
    )

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        did = pdf["__did"].iloc[0]
        sims = unit_rows(decode_vectors(pdf["__dv"])) @ qmat.T  # (d_tokens, q_tokens)
        tok_max = sims.max(axis=0)  # (q_tokens,)
        scores = np.zeros(len(uniq))
        np.add.at(scores, seg, tok_max)
        return pd.DataFrame(
            {
                "query_id": uniq,
                "doc_id": did,
                "score": keep_nan(np.round(scores, decimals)),
            }
        )

    d = doc_tokens.filter(F.col(doc_id).isNotNull()).select(
        F.col(doc_id).alias("__did"), F.col(doc_vec).alias("__dv")
    )
    return d.groupBy("__did").applyInPandas(score_group, schema=out_schema)


def maxsim_topk(
    query_tokens: DataFrame,
    doc_tokens: DataFrame,
    k: int,
    *,
    query_id: str = "query_id",
    query_vec: str = "vector",
    doc_id: str = "doc_id",
    doc_vec: str = "vector",
    decimals: int = 6,
) -> DataFrame:
    """Top-k documents per query by MaxSim: ``maxsim_scores`` then the
    ``rank_top`` per-query window on the ROUNDED score. Output:
    query_id, doc_id, score, rank."""
    scored = maxsim_scores(
        query_tokens,
        doc_tokens,
        query_id=query_id,
        query_vec=query_vec,
        doc_id=doc_id,
        doc_vec=doc_vec,
        decimals=decimals,
    )
    return rank_top(scored, k, key="score", id_col="doc_id", descending=True,
                    by="query_id")
