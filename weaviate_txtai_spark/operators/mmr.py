"""Maximal Marginal Relevance (MMR) diversified top-k selection.

Carbonell & Goldstein 1998 (public knowledge): after a similarity
search returns a candidate pool, greedily pick the next result that
maximizes  λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)  — relevance
traded against redundancy. The operator every retrieval-augmented
pipeline bolts onto its ANN top-k: without it, near-duplicate passages
crowd the context window.

Spark shape: the candidate POOL is top-m per query (m = a small
multiple of k, from any of the engine's search operators), so the
greedy loop runs over a per-query group of ≤m rows — a single
``applyInPandas`` over groups keyed by query id, vectorized numpy
inside (the per-round argmax is one masked max over the m×selected
GEMM block). Nothing quadratic in the corpus, no driver loop; the
shuffle is one hash partition by query id of an already-tiny pool.

Determinism: scores round to ``round_decimals`` BEFORE the argmax and
ties break on the lowest candidate id — the greedy TRAJECTORY is then
exactly replayable (the DuckDB oracle unrolls k selection steps as
chained CTEs over the same rounded scores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weaviate_txtai_spark.operators.topk import decode_vectors


def mmr_select(
    candidates: DataFrame,
    k: int,
    *,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    vector_col: str = "vector",
    round_decimals: int = 6,
) -> DataFrame:
    """Per-query greedy MMR over a candidate pool.

    ``candidates``: one row per (query, candidate) with the retrieval
    ``score_col`` (higher = more relevant) and the candidate's
    ``vector_col`` (``array<float/double>``; pairwise similarity is the
    dot product — pass L2-normalized vectors for cosine semantics, the
    engine's storage convention).

    Output: ``query_col, id_col, rank, mmr`` — ``rank`` is the greedy
    selection order (1-based), ``mmr`` the rounded objective value at
    selection time (the first pick's objective is λ·rel: with no
    selected set yet, the redundancy term is 0 by convention).
    """
    if k < 1:
        raise ValueError("mmr_select: k must be >= 1")
    if not (0.0 <= lam <= 1.0):
        raise ValueError("mmr_select: lam must be in [0, 1]")
    import pandas as pd

    # query/id pass through with their INPUT dtypes (string doc ids are
    # as legitimate as longs): hardcoding long here NULLed/crashed every
    # non-integer id inside the Arrow batch
    dtypes = dict(candidates.dtypes)
    out_schema = (
        f"{query_col} {dtypes[query_col]}, {id_col} {dtypes[id_col]}, "
        f"rank int, mmr double"
    )
    lam_f = float(lam)
    rd = int(round_decimals)
    kk = int(k)

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # no dtype coercion: object arrays (strings) sort and index fine
        ids = pdf[id_col].to_numpy()
        rel = pdf[score_col].to_numpy(dtype="float64")
        mat = decode_vectors(pdf[vector_col])
        q = pdf[query_col].iloc[0]
        n = len(ids)
        # order by id so every argmax tie resolves to the LOWEST id via
        # first-hit argmax — the oracle replays the same rule
        order = np.argsort(ids, kind="stable")
        ids, rel, mat = ids[order], rel[order], mat[order]
        selected: list[int] = []
        objs: list[float] = []
        red = np.zeros(n)  # running max similarity to the selected set
        taken = np.zeros(n, dtype=bool)
        for _ in range(min(kk, n)):
            obj = np.round(lam_f * rel - (1.0 - lam_f) * red, rd + 1)
            obj[taken] = -np.inf
            i = int(np.argmax(obj))  # first max = lowest id on ties
            taken[i] = True
            selected.append(i)
            objs.append(float(obj[i]))
            # the running redundancy stores ROUNDED dots: the greedy
            # recursion must carry only rounded values or engine float
            # noise compounds through later argmaxes (the fixed-point /
            # k-means trajectory discipline — NOTES.md)
            red = np.maximum(red, np.round(mat @ mat[i], rd))
        return pd.DataFrame(
            {
                query_col: [q] * len(selected),
                id_col: ids[selected],
                "rank": np.arange(1, len(selected) + 1, dtype="int32"),
                "mmr": objs,
            }
        )

    # NULL query ids excluded: they would share ONE applyInPandas group,
    # running a single greedy MMR over unrelated queries' candidates;
    # NULL doc ids have no identity to select (and break the id-ASC
    # tie rule), so they are excluded from every pool
    return (
        candidates.filter(
            F.col(query_col).isNotNull() & F.col(id_col).isNotNull()
        )
        .groupBy(query_col)
        .applyInPandas(pick, out_schema)
    )
