"""Batch kNN top-k search (SURVEY §2.2 Q1/Q2/Q3/Q5 — the flagship operator).

The reference serves ONE query vector per call and silently drops the rest
(``queries[0]``, /root/reference/weaviate_txtai/ann/weaviate.py:177), asking
a server-side HNSW for the top ``limit`` by cosine distance, then rescoring
``1 - distance`` (weaviate.py:193-201). Our operator is batch-first and
strictly more general: N query vectors × M stored vectors in one plan.

Physical strategy (designed for 100 TB / 1000 executors):
- The query side is small (human-issued queries) → **broadcast** it; the
  index side streams through executors partition-by-partition. No shuffle
  of the big side ever happens.
- Scoring is a native column expression (JVM-side, no Python boundary;
  note the HOF fold inside it evaluates interpreted — see
  ``functions/vector.py`` — which is why ``knn_topk_gemm`` is the
  many-query path).
- Top-k per query = window ``row_number() <= k`` partitioned by query id
  (``rank_top``). The map-side is embarrassingly parallel; the only
  shuffle is the final (num_queries × k × partitions)-row merge, which
  AQE coalesces.
- For a single query we use ``orderBy().limit(k)`` which Catalyst plans as
  ``TakeOrderedAndProject`` — per-partition heaps + driver merge, zero
  shuffle.
- ``knn_topk_gemm`` is the scale path for large query batches: Arrow-batched
  numpy GEMM over ``mapInPandas`` with per-partition top-k reduction, so the
  rows crossing the final shuffle are k per (query, partition), never M×N.

Every vector tier (this module, ``ann``, ``ivfpq``, ``pq``,
``lateinteraction``) ranks with the same two-level top-k built from the
helpers below: ``topk_indices`` cuts each Arrow batch or cogroup locally,
``keep_nan`` carries the kept keys out of the kernel, and ``rank_top``
merges the survivors in Spark. ``decode_vectors`` and ``unit_rows`` are
the kernels' shared list-column decode and zero-norm row normalisation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from weaviate_txtai_spark.functions.vector import cosine_sim


def decode_vectors(values, dtype=np.float64) -> np.ndarray:
    """An Arrow batch's list column (a pandas Series of arrays) as one
    2-D numpy matrix, a row per vector."""
    return np.asarray(list(values), dtype=dtype)


def unit_rows(mat: np.ndarray) -> np.ndarray:
    """``mat`` with every row scaled to unit L2 norm. A zero row stays
    zero, so it scores 0 against everything instead of NaN — the numpy
    twin of ``functions.vector.cosine_sim``'s zero-norm guard."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def keep_nan(values) -> pd.api.extensions.ExtensionArray:
    """A kernel's output float column that crosses the pandas → Arrow
    boundary with NaN intact. A plain float64 column arrives in Spark
    with NaN turned into NULL, which ranks last under DESC and first
    under ASC: the opposite end from where Spark ranks a NaN key."""
    values = np.asarray(values, dtype=np.float64)
    return pd.arrays.FloatingArray(values, np.zeros(values.shape, dtype=bool))


def topk_indices(keys, ids, k: int, *, descending: bool) -> np.ndarray:
    """Positions of the top-``k`` entries of a 1-D key vector, or of
    every row of a 2-D key matrix (shape ``(rows, min(k, n))``), in rank
    order. ``ids`` holds one id per key column.

    The order is exactly the one ``rank_top`` applies in Spark: key DESC
    (``descending``) or ASC, ties by id ASC, NaN above every number and
    -0.0 equal to 0.0 (Spark's double ordering). Because each batch or
    group then keeps precisely the rows the final window would keep from
    it, the two-level top-k is exact for any partitioning. argpartition
    alone keeps arbitrary members of a tie group at the k-th place, so
    the cut widens to every entry tied with the k-th key before the
    exact sort.
    """
    mat = np.atleast_2d(np.asarray(keys, dtype=np.float64))
    ids = np.asarray(ids)
    nrows, n = mat.shape
    kk = max(0, min(int(k), n))
    nan = np.isnan(mat)
    # ascending and NaN-free; ``late`` splits NaN from a tied ±inf
    asc = np.where(nan, -np.inf if descending else np.inf,
                   -mat if descending else mat)
    late = nan != descending
    if kk == 0:
        r = c = np.empty(0, dtype=np.intp)
    elif kk < n:
        part = np.argpartition(asc, kk - 1, axis=1)[:, :kk]
        kth = np.take_along_axis(asc, part, axis=1).max(axis=1, keepdims=True)
        r, c = np.nonzero(asc <= kth)
    else:
        r, c = np.nonzero(np.ones(mat.shape, dtype=bool))
    order = np.lexsort((ids[c], asc[r, c], late[r, c], r))
    r, c = r[order], c[order]
    pos = np.arange(len(r)) - np.searchsorted(r, np.arange(nrows))[r]
    out = c[pos < kk].reshape(nrows, kk)
    return out if np.ndim(keys) == 2 else out[0]


def rank_top(
    df: DataFrame,
    k: int,
    *,
    key: str,
    id_col: str,
    descending: bool,
    by: "str | None" = None,
) -> DataFrame:
    """Spark side of ``topk_indices``: rank rows by (``key`` DESC|ASC,
    ``id_col`` ASC) and keep the first ``k``. With ``by``, a window per
    group cut by ``rank <= k``; without, one global top-k planned as
    TakeOrderedAndProject (orderBy + limit), ranked over the survivors."""
    order = (F.desc(key) if descending else F.asc(key), F.asc(id_col))
    if by is None:
        top = df.orderBy(*order).limit(k)
        return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_topk(
    index_df: DataFrame,
    query_df: DataFrame,
    k: int,
    *,
    vector_col: str = "vector",
    id_col: str = "docid",
    query_vector_col: str = "query_vector",
    query_id_col: str = "query_id",
    score_round: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for every query vector.

    Returns columns: ``query_id, docid(id_col), score, rank`` with the
    deterministic tie-break (score DESC, id ASC) so results are
    oracle-hashable.
    """
    q = F.broadcast(
        # NULL query ids excluded: the rank window partitions by query
        # id, so every unkeyed query's candidates would lump into ONE
        # ranked list interleaving unrelated queries' neighbors
        query_df.filter(F.col(query_id_col).isNotNull()).select(
            F.col(query_id_col).alias("__qid"), F.col(query_vector_col).alias("__qv")
        )
    )
    scored = index_df.crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        cosine_sim(F.col(vector_col), F.col("__qv")).alias("score"),
    )
    if score_round is not None:
        scored = scored.withColumn("score", F.round("score", score_round))
    return rank_top(scored, k, key="score", id_col=id_col, descending=True,
                    by=query_id_col)


def knn_single(
    index_df: DataFrame,
    query_vector: list[float],
    k: int,
    *,
    vector_col: str = "vector",
    id_col: str = "docid",
) -> DataFrame:
    """Single-query top-k, planned as TakeOrderedAndProject (no shuffle).

    This is the exact reference hot path (weaviate.py:175-201): one query
    vector, ``limit`` results, cosine similarity scores.
    """
    qv = F.lit([float(x) for x in query_vector])
    return (
        index_df.select(
            F.col(id_col), cosine_sim(F.col(vector_col), qv).alias("score")
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _infer_query_id_type(qids):
    """Map the first query id's Python/numpy type onto a Spark DataType.

    Only int (→ Long) and str (→ String) ids are supported — anything
    else (float, bytes, bool …) raises instead of silently serializing
    as StringType and dying later inside Arrow (ADVICE r2). Callers that
    know the type (topk_join passes the left frame's schema) skip this.
    """
    from pyspark.sql.types import StringType

    first = qids[0]
    if hasattr(first, "item"):  # unwrap numpy scalar
        first = first.item()
    # bool is an int subclass in Python AND np.bool_.item() is bool —
    # check it first so boolean ids fail loudly, not as LongType
    if isinstance(first, bool):
        raise TypeError(
            "knn_topk_gemm: boolean query ids are not supported; pass "
            "query_id_type explicitly if the ids are genuinely 0/1 ints"
        )
    if isinstance(first, int):
        return LongType()
    if isinstance(first, str):
        return StringType()
    raise TypeError(
        f"knn_topk_gemm: unsupported query id type {type(first).__name__}; "
        "pass query_id_type= (a pyspark DataType) explicitly"
    )


def knn_topk_gemm(
    index_df: DataFrame,
    queries: "list[tuple[int, list[float]]] | pd.DataFrame",
    k: int,
    *,
    vector_col: str = "vector",
    id_col: str = "docid",
    query_id_type=None,
    metric: str = "cosine",
    dist_round_decimals: "int | None" = 6,
) -> DataFrame:
    """Scale-path batch kNN: numpy GEMM per Arrow batch + two-level top-k.

    Why: with Q queries, the expression path evaluates Q × M cosine exprs
    row-at-a-time; a BLAS matmul on (batch × dim) @ (dim × Q) does the same
    work vectorized. Queries ship to every task closure (they're small —
    same broadcast assumption the reference makes with its single query
    vector). Each partition emits only its local top-k per query, so the
    final window sees k × Q × num_partitions rows.

    ``query_id_type``: Spark DataType of ``query_id`` in the output.
    Callers holding the query frame should pass its schema type
    (``left.schema[left_id].dataType``); when omitted it is inferred from
    the first id — int → Long, str → String, anything else raises
    (ADVICE r2: silent StringType fallback crashed Arrow for float ids).

    ``metric``: ``"cosine"`` (score = cosine similarity, rank DESC — the
    reference's only metric) or ``"l2"`` (score = Euclidean distance,
    rank ASC — the truth metric for the PQ/IVF family). Both use one
    GEMM per Arrow batch: for l2 the distance matrix comes from
    ``||x||² − 2·x@qᵀ + ||q||²``, never a per-pair Python loop.

    ``dist_round_decimals`` (l2 only, default 6 — the repo's PQ-family
    convention): the expanded form carries ~1e-8 cancellation noise vs
    an in-order ``(x−q)²`` fold, so near-tied distances could flip
    ranks across the two formulations. Ranking (and the emitted score)
    uses the ROUNDED distance, making ties resolve by id ASC
    identically in both — up to the usual midpoint caveat: a true
    distance within ~1e-8 of a 0.5·10⁻⁶ rounding boundary can still
    round apart (same class as the ADC half-even/half-up note in
    operators/pq.py). ``None`` disables rounding.

    Output: query_id, docid, score, rank — same contract as knn_topk.
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(
            f"knn_topk_gemm: unknown metric {metric!r}; use 'cosine' or 'l2'"
        )

    if isinstance(queries, pd.DataFrame):
        qids = queries.iloc[:, 0].to_numpy()
        qmat = decode_vectors(queries.iloc[:, 1])
    else:
        qids = np.asarray([q[0] for q in queries])
        qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    # a None query id would lump queries under one window partition
    # downstream (and np.asarray silently object-types the whole id
    # array) — a query without an identity is a caller bug, raise
    if any(q is None for q in qids.tolist()):
        raise ValueError("knn_topk_gemm: query ids must not be None")
    if len(qids) == 0:
        # empty query set → empty result, not an AxisError mid-pipeline;
        # the id type honors query_id_type instead of hardcoding Long so
        # empty and non-empty results union cleanly in string-id pipelines
        return index_df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", query_id_type or LongType()),
                    StructField(id_col, index_df.schema[id_col].dataType),
                    StructField("score", DoubleType()),
                    StructField("rank", LongType()),
                ]
            ),
        )
    # one metric-specific auxiliary array: the kernel closure serializes
    # every captured local to every task, so computing BOTH the
    # normalized query matrix and the squared norms shipped an unused
    # (Q x dim) float64 array per task
    if metric == "l2":
        qaux = (qmat * qmat).sum(axis=1)  # (Q,) squared query norms
    else:
        qaux = unit_rows(qmat)  # (Q, dim) normalized queries

    # derive id types from the inputs: hardcoding LongType crashed the
    # Arrow serializer for string ids, making topk_join succeed or fail
    # depending on which strategy its row-count probe picked
    idx_id_type = index_df.schema[id_col].dataType
    q_id_type = query_id_type or _infer_query_id_type(qids)
    out_schema = StructType(
        [
            StructField("query_id", q_id_type),
            StructField(id_col, idx_id_type),
            StructField("score", DoubleType()),
        ]
    )

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = decode_vectors(pdf[vector_col])
            if metric == "l2":
                # ||x||² − 2 x·q + ||q||², clipped: fp cancellation can
                # dip a true-zero distance to ~-1e-13 and sqrt would NaN
                xsq = (mat * mat).sum(axis=1, keepdims=True)
                d2 = xsq - 2.0 * (mat @ qmat.T) + qaux[None, :]
                scores = np.sqrt(np.clip(d2, 0.0, None))  # (batch, Q)
                if dist_round_decimals is not None:
                    # rank on the rounded key (see docstring)
                    scores = np.round(scores, dist_round_decimals)
            else:
                scores = unit_rows(mat) @ qaux.T  # (batch, Q)
            ids = pdf[id_col].to_numpy()
            scores = scores.T  # (Q, batch): one key row per query
            sel = topk_indices(scores, ids, k, descending=metric == "cosine")
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, sel.shape[1]),
                    id_col: ids[sel].ravel(),
                    "score": keep_nan(np.take_along_axis(scores, sel, axis=1).ravel()),
                }
            )

    from weaviate_txtai_spark.sources.tables import spread

    local = spread(index_df.select(id_col, vector_col)).mapInPandas(
        score_partition, schema=out_schema
    )
    return rank_top(local, k, key="score", id_col=id_col,
                    descending=metric == "cosine", by="query_id")


def hamming_topk(
    codes: DataFrame,
    query_code: list[int],
    n: int,
    *,
    id_col: str = "vec_id",
    code_col: str = "sign_code",
) -> DataFrame:
    """Top-n rows by Hamming distance to a packed sign code (the
    1-bit/dim tier — see ``functions.vector.sign_pack``): distance is
    a per-word xor+popcount (JVM intrinsics) over a words-long array,
    then TakeOrderedAndProject (per-partition top-n, one n-row merge).
    Ascending distance, ties to the lowest id. Output: id, hamming,
    rank."""
    from weaviate_txtai_spark.functions.vector import hamming_dist

    # NULL-id rows are excluded up front (r13 join census): results are
    # keyed by id, and in the rerank composition an unkeyed shortlist
    # row can never re-join its float vector — it would silently waste
    # a shortlist slot and shrink the final top-n
    codes = codes.filter(F.col(id_col).isNotNull())
    qlit = F.array(*[F.lit(int(w)).cast("long") for w in query_code])
    scored = codes.select(
        id_col, hamming_dist(F.col(code_col), qlit).alias("hamming")
    )
    return rank_top(scored, n, key="hamming", id_col=id_col, descending=False)


def hamming_topk_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    query: list[float],
    query_code: list[int],
    n: int,
    *,
    shortlist: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sign_code",
    vector_col: str = "embedding",
) -> DataFrame:
    """Production composition for the binary tier: Hamming shortlist
    over the 1-bit codes (the only corpus-wide scan — 256× less I/O
    than float32), then exact cosine re-rank of the ``shortlist×n``
    survivors' float vectors (broadcast semi-join on the tiny id set).
    Same shape as ``pq.adc_topk_rerank``; exact when the shortlist
    covers the corpus regardless of how lossy the sign codes are.
    Output: id, score (cosine, descending), rank."""
    cand = hamming_topk(
        codes, query_code, shortlist * n, id_col=id_col, code_col=code_col
    ).select(id_col)
    qlit = F.array(*[F.lit(float(v)) for v in query])
    exact = vectors.join(F.broadcast(cand), id_col).select(
        id_col,
        F.round(cosine_sim(F.col(vector_col), qlit), 6).alias("score"),
    )
    return rank_top(exact, n, key="score", id_col=id_col, descending=True)
