"""Vector search gates: kNN (expr + GEMM), txtai SQL surface, similarity join, IVF ANN, index mutations, quantization.

Split out of plans/queries.py (round 4); registration order inside a module is
unchanged, and queries.py remains the single registry hub.
"""

from __future__ import annotations

import math
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weaviate_txtai_spark.functions.vector import cosine_sim
from weaviate_txtai_spark.operators.topk import rank_top
from weaviate_txtai_spark.sources.tables import load_table
from weaviate_txtai_spark.plans.base import QueryFn, _emb, register

# --------------------------------------------------------------------------
# Q1/Q2/Q3/Q5: kNN cosine top-k (reference search path, weaviate.py:175-201)
# --------------------------------------------------------------------------

_KNN_TOPK_SQL = """
SELECT e.vec_id,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)),
             6) AS score
FROM embeddings e
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@register("knn_topk", _KNN_TOPK_SQL)
def knn_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query top-10 by cosine — plans as TakeOrderedAndProject:
    map-only scan + per-partition heaps, no shuffle."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    return (
        emb.crossJoin(q)
        .select(
            "vec_id",
            F.round(cosine_sim("embedding", "qv"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


_KNN_BATCH_SQL = """
SELECT query_id, vec_id, score, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS score,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)) q
) WHERE rank <= 5
"""


@register("knn_batch", _KNN_BATCH_SQL)
def knn_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: 3 query vectors answered in ONE plan — the reference
    drops all but queries[0] (weaviate.py:177); we broadcast the query
    side and shuffle only k×Q×partitions rows for the final window."""
    emb = _emb(spark, sf_dir)
    qdf = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    from weaviate_txtai_spark.operators.topk import knn_topk

    res = knn_topk(
        emb, qdf, 5, vector_col="embedding", id_col="vec_id", score_round=None
    )
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


@register("knn_batch_gemm", _KNN_BATCH_SQL)
def knn_batch_gemm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GEMM code path under the SAME oracle as knn_batch:
    VectorIndex.search silently switches to knn_topk_gemm at >= 16
    queries, so the Arrow-batched BLAS kernel (with its per-batch
    ``topk.topk_indices`` cut) must hash-match the expression path's
    oracle — previously only the expression path was gated
    (VERDICT r2 item 4)."""
    from weaviate_txtai_spark.operators.topk import knn_topk_gemm

    emb = _emb(spark, sf_dir)
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2)).collect()
    ]
    res = knn_topk_gemm(emb, queries, 5, vector_col="embedding", id_col="vec_id")
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


_KNN_L2_SQL = """
SELECT e.vec_id,
       round(list_distance(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)),
             6) AS dist
FROM embeddings e
ORDER BY dist ASC, e.vec_id ASC
LIMIT 10
"""


@register("knn_l2", _KNN_L2_SQL)
def knn_l2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by L2 distance — the multi-metric path the reference's
    validator rejects (cosine-only, weaviate.py:101-104) but its README
    custom schema implies (README.md:27-28). Same TakeOrderedAndProject
    shape as knn_topk."""
    from weaviate_txtai_spark.functions.vector import l2_dist

    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    return (
        emb.crossJoin(q)
        .select("vec_id", F.round(l2_dist("embedding", "qv"), 6).alias("dist"))
        .orderBy(F.asc("dist"), F.asc("vec_id"))
        .limit(10)
    )


_KNN_DOT_SQL = """
SELECT e.vec_id,
       round(list_inner_product(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)),
             6) AS score
FROM embeddings e
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@register("knn_dot", _KNN_DOT_SQL)
def knn_dot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by inner product (maximum-inner-product search)."""
    from weaviate_txtai_spark.functions.vector import dot

    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    return (
        emb.crossJoin(q)
        .select("vec_id", F.round(dot("embedding", "qv"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def _build_index(spark: SparkSession, sf_dir: str):
    """Temp VectorIndex over the embeddings table with docid == vec_id
    (vectors appended in vec_id order)."""
    import tempfile

    from weaviate_txtai_spark.index import VectorIndex

    # distributed append: the table never lands on the driver. orderBy +
    # coalesce(1) pins a deterministic ingest order so docid == vec_id
    # (the dense-id scheme numbers by (partition, position)); the gate
    # table is small, and the oracle depends on that mapping.
    vecs = (
        _emb(spark, sf_dir)
        .coalesce(1)
        .sortWithinPartitions("vec_id")
        .select(F.col("embedding").alias("vector"))
    )
    idx = VectorIndex(spark, tempfile.mkdtemp(prefix="gate_idx_")).create()
    idx.append(vecs)
    return idx


_VECTOR_DELETE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_remaining,
       CAST(min(vec_id) AS BIGINT) AS min_docid,
       CAST(max(vec_id) AS BIGINT) AS max_docid
FROM embeddings WHERE vec_id NOT IN (0,1,2,3,4,5,6,7,8,9)
"""


@register("vector_delete", _VECTOR_DELETE_SQL)
def vector_delete_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: delete-by-docid as ONE anti-join (vs the reference's 2 HTTP
    round-trips per id, weaviate.py:167-173)."""
    idx = _build_index(spark, sf_dir)
    idx.delete(list(range(10)))
    return idx.to_df().agg(
        F.count(F.lit(1)).alias("n_remaining"),
        F.min("docid").alias("min_docid"),
        F.max("docid").alias("max_docid"),
    )


_VECTOR_UPSERT_SQL = """
SELECT e.vec_id AS docid,
       round(list_cosine_similarity(
         CAST(CASE WHEN e.vec_id = 0
              THEN (SELECT embedding FROM embeddings WHERE vec_id = 1)
              ELSE e.embedding END AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)),
         6) AS score
FROM embeddings e
ORDER BY list_cosine_similarity(
         CAST(CASE WHEN e.vec_id = 0
              THEN (SELECT embedding FROM embeddings WHERE vec_id = 1)
              ELSE e.embedding END AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1))
         DESC, docid ASC
LIMIT 3
"""
# ORDER BY repeats the RAW cosine (not the rounded alias): the Spark side
# ranks unrounded (knn_topk score_round=None), and an alias-bound sort
# would flip 6dp-boundary ties.


@register("vector_upsert", _VECTOR_UPSERT_SQL)
def vector_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: upsert docid 0 <- vec 1's embedding, then search with vec 1 as
    the query: docids 0 and 1 must tie at score 1.0 (reference upsert
    round-trip semantics, tests/ann/test_weaviate.py:254-317)."""
    idx = _build_index(spark, sf_dir)
    rows = (
        _emb(spark, sf_dir).filter(F.col("vec_id") == 1).collect()
    )
    idx.upsert([(0, list(rows[0]["embedding"]))])
    qdf = idx.to_df().filter(F.col("docid") == 1).select(
        F.lit(0).alias("query_id"), F.col("vector").alias("query_vector")
    )
    from weaviate_txtai_spark.operators.topk import knn_topk

    res = knn_topk(idx.to_df(), qdf, 3)
    return res.select("docid", F.round("score", 6).alias("score"))


_DOCID_LOOKUP_SQL = """
SELECT vec_id, label FROM embeddings WHERE vec_id = 123
"""


@register("docid_lookup", _DOCID_LOOKUP_SQL)
def docid_lookup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: equality-predicate point lookup (the reference's
    _get_uuid_from_docid GraphQL where-filter, weaviate.py:151-165).
    The predicate pushes to the parquet scan → row-group skip."""
    return _emb(spark, sf_dir).filter(F.col("vec_id") == 123).select(
        "vec_id", "label"
    )


_FULL_SCAN_SQL = """
SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim
FROM embeddings ORDER BY vec_id
"""


@register("full_scan", _FULL_SCAN_SQL)
def full_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: full object scan with vectors present (REST GET /v1/objects
    parity, api.http:36; tests :143-148) — projected to hashable columns
    + per-row vector dimensionality."""
    return (
        _emb(spark, sf_dir)
        .select("vec_id", "label", F.size("embedding").alias("dim"))
        .orderBy("vec_id")
    )


_SCAN_LIMIT_SQL = """
SELECT vec_id, label FROM embeddings ORDER BY vec_id LIMIT 25
"""


@register("scan_limit", _SCAN_LIMIT_SQL)
def scan_limit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: limit pushdown (the server's QUERY_DEFAULTS_LIMIT=25,
    docker-compose.yml:9) — plans as TakeOrderedAndProject."""
    return _emb(spark, sf_dir).select("vec_id", "label").orderBy("vec_id").limit(25)


_VECTOR_COUNT_SQL = "SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings"


@register("vector_count", _VECTOR_COUNT_SQL)
def vector_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: Aggregate meta count (weaviate.py:203-206) — row-group
    metadata count, no data read."""
    return _emb(spark, sf_dir).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# T1-T4: txtai SQL surface — similar() + metadata predicates + aggregates
# (examples/01_simple.ipynb cells 25-29)
# --------------------------------------------------------------------------

_SIMILAR_SQL = """
SELECT d.doc_id, d.text, d.n_chars,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 42)),
             6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.n_chars >= 100
ORDER BY score DESC, d.doc_id ASC
LIMIT 10
"""


@register("similar_sql", _SIMILAR_SQL)
def similar_sql_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+T4 parity: `select text, score from txtai where similar(q)
    and n_chars >= 100 order by score desc limit 10`. The metadata
    predicate is pushed to the parquet scan; the doc<->vector join
    broadcasts nothing big (both sides pruned to 2-3 columns)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 42).select(F.col("embedding").alias("qv"))
    )
    return (
        docs.filter(F.col("n_chars") >= 100)
        .join(emb, docs.doc_id == emb.vec_id)
        .crossJoin(q)
        .select(
            "doc_id",
            "text",
            "n_chars",
            F.round(cosine_sim("embedding", "qv"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


_AGG_STATS_SQL = """
SELECT CAST(count(*) AS BIGINT) AS cnt,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
"""


@register("agg_stats_txtai", _AGG_STATS_SQL)
def agg_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 parity: `select count(*), min(length), max(length), sum(length)
    from txtai` (notebook cell 27) — partial-agg map-side, one exchange."""
    return load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


_SIM_BRUTE_SQL = """
SELECT e.vec_id,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7)),
             6) AS score
FROM embeddings e
WHERE e.vec_id < 100
ORDER BY score DESC, e.vec_id
"""


@register("similarity_brute", _SIM_BRUTE_SQL)
def similarity_brute_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q9: txtai similarity(query, data) — ad-hoc brute-force
    scoring of a candidate list with NO stored index and NO top-k cut;
    every candidate comes back scored, ordered. Same cosine expression
    as the indexed path (Q1) over a filtered frame."""
    emb = _emb(spark, sf_dir)
    qv = (
        emb.filter(F.col("vec_id") == 7)
        .select("embedding")
        .head()[0]
    )
    adhoc = emb.filter(F.col("vec_id") < 100)
    return (
        adhoc.select(
            "vec_id",
            F.round(
                cosine_sim(F.col("embedding"), F.lit([float(x) for x in qv])), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
    )


# --------------------------------------------------------------------------
# Similarity join + ANN (north-star M3 flagship extension)
# --------------------------------------------------------------------------

_SIM_JOIN_SQL = """
SELECT query_id, vec_id, score, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS score,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE label = 0) q
) WHERE rank <= 3
"""


@register("sim_join_topk", _SIM_JOIN_SQL)
def sim_join_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N×M top-k similarity join: every label-0 vector against the whole
    table, top-3 each — one broadcast + map-only scan + window, vs the
    reference's one-query-per-HTTP-call loop."""
    from weaviate_txtai_spark.operators.simjoin import topk_join

    emb = _emb(spark, sf_dir)
    left = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    res = topk_join(left, emb, 3, right_id="vec_id", right_vec="embedding")
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


_SIM_THRESHOLD_SQL = """
SELECT q.vec_id AS query_id, e.vec_id,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])), 6) AS score
FROM embeddings e
CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) q
WHERE round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                   CAST(q.embedding AS DOUBLE[])), 6) >= 0.3
  AND e.vec_id <> q.vec_id
"""


@register("sim_join_threshold", _SIM_THRESHOLD_SQL)
def sim_join_threshold_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weaviate_txtai_spark.operators.simjoin import threshold_join

    emb = _emb(spark, sf_dir)
    left = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    return threshold_join(left, emb, 0.3, right_id="vec_id",
                          right_vec="embedding").filter(
        F.col("query_id") != F.col("vec_id")
    )


@register("sim_join_blocked", _SIM_JOIN_SQL)
def sim_join_blocked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-GEMM exact similarity join (the both-sides-large EXACT
    strategy): left side processed in hash blocks, right side scanned
    per block. Same oracle as `sim_join_topk` — the block decomposition
    must be result-invariant. block_size forced small so the gate
    exercises multiple blocks."""
    from weaviate_txtai_spark.operators.simjoin import topk_join_blocked

    emb = _emb(spark, sf_dir)
    left = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    res = topk_join_blocked(
        left, emb, 3, right_id="vec_id", right_vec="embedding", block_size=16
    )
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


# Exactness-mode gate parameterization (VERDICT r2 item 1): the sampled
# gate names run the FULL approximate machinery with parameters that make
# recall exactly 1 (nprobe == nlist: every cell probed), so the driver
# hash-checks the pipeline end-to-end instead of recording no_oracle.
# The production nprobe < nlist settings live in tests/test_ann.py as
# recall-bound tests (recall >= 0.6 at nprobe=4/nlist=16).
_ANN_IVF_SQL = """
SELECT query_id, vec_id, score, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS score,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
) WHERE rank <= 5
"""


@register("ann_ivf", _ANN_IVF_SQL)
def ann_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means cells + nprobe routing, exact cosine within
    probes. Gated at nprobe == nlist so the whole machinery (k-means
    build, probe routing, cell-local scoring, final window) must equal
    the exact brute-force SQL; production nprobe<nlist recall is pinned
    in tests/test_ann.py."""
    from weaviate_txtai_spark.operators.ann import IVFIndex

    emb = _emb(spark, sf_dir)
    idx = IVFIndex.build(emb, nlist=16)
    qdf = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    res = idx.search(qdf, 5, nprobe=16)
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


_SIM_JOIN_IVF_SQL = """
SELECT query_id, vec_id, score, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS score,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings) q
) WHERE rank <= 3
"""


@register("sim_join_ivf", _SIM_JOIN_IVF_SQL)
def sim_join_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-sides-huge similarity join, IVF-routed: the whole embeddings
    table joins itself through k-means cells — both sides shuffle only by
    cell id, never a crossJoin. Gated at nprobe == nlist (recall exactly
    1) so the cell-equi-join plan must reproduce the exact crossJoin
    result; production nprobe<nlist recall is pinned in
    tests/test_ann.py."""
    from weaviate_txtai_spark.operators.simjoin import topk_join_ivf

    emb = _emb(spark, sf_dir)
    left = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    res = topk_join_ivf(
        left, emb, 3, right_id="vec_id", right_vec="embedding", nlist=16, nprobe=16
    )
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


_SIM_JOIN_IVFPQ_SQL = """
SELECT query_id, vec_id, dist, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_sum(list_transform(
               list_zip(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.embedding AS DOUBLE[])),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(
                   list_zip(CAST(e.embedding AS DOUBLE[]),
                            CAST(q.embedding AS DOUBLE[])),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) ASC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50) q
) WHERE rank <= 3
"""


@register("sim_join_ivfpq", _SIM_JOIN_IVFPQ_SQL)
def sim_join_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-sides-huge similarity join through the memory-bound PQ tier
    (operators/simjoin.py topk_join_ivfpq → IVFPQIndex.search_df): the
    query side is a DataFrame (never collected), probes fan out to
    coarse cells, a cogrouped Arrow kernel builds residual LUTs
    in-kernel and ADC-scores the probed cells' codes, and the merged
    shortlist re-ranks against the float corpus. Gated in exactness
    mode — nprobe == nlist and a corpus-covering shortlist — where the
    composition must equal brute-force L2 top-k REGARDLESS of what the
    clustering/codebooks chose (the ADC stage only proposes candidates;
    the re-rank orders by true distance). Production recall is pinned
    in tests/test_ivfpq.py."""
    from weaviate_txtai_spark.operators.simjoin import topk_join_ivfpq

    emb = _emb(spark, sf_dir)
    n_corpus = emb.count()
    left = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    return topk_join_ivfpq(
        left,
        emb,
        3,
        right_id="vec_id",
        right_vec="embedding",
        nlist=8,
        nprobe=8,
        m=8,
        k_pq=16,
        pq_iters=1,
        shortlist=-(-n_corpus // 3),
    )


_HARD_NEGATIVES_SQL = """
SELECT query_id, vec_id, score, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS score,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding, label FROM embeddings
              WHERE vec_id IN (0, 1, 2)) q
  WHERE e.label <> q.label
) WHERE rank <= 3
"""


@register("hard_negatives", _HARD_NEGATIVES_SQL)
def hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    most similar vectors with a DIFFERENT label. Same broadcast +
    map-only-scan + per-anchor window as knn_batch; the label
    inequality evaluates pre-window inside the join filter, so
    negatives-only rows ever reach the rank."""
    emb = _emb(spark, sf_dir)
    anchors = F.broadcast(
        emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        )
    )
    # rank on the RAW score (the oracle's row_number orders by the raw
    # cosine); round only for output — ranking the rounded value would
    # flip tie-breaks at the 6dp boundary
    w = Window.partitionBy("query_id").orderBy(F.desc("__raw"), F.asc("vec_id"))
    return (
        emb.crossJoin(anchors)
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            "vec_id",
            cosine_sim("embedding", "qv").alias("__raw"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "vec_id", F.round("__raw", 6).alias("score"), "rank")
    )


_KNN_FILTERED_SQL = """
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)),
             6) AS score
FROM embeddings e
WHERE e.label IN (1, 2, 3)
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


@register("knn_filtered", _KNN_FILTERED_SQL)
def knn_filtered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the classic hard case for graph ANN
    indexes (pre- vs post-filter recall trade) is trivial here: the
    label predicate pushes into the parquet scan BEFORE scoring, so
    only matching rows are ever scored and top-k recall over the
    filtered set is exact by construction. Same map-only
    TakeOrderedAndProject plan as knn_topk."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    return (
        emb.filter(F.col("label").isin(1, 2, 3))
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(cosine_sim("embedding", "qv"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


_KNN_DIVERSE_SQL = """
SELECT label, vec_id, score, label_rank FROM (
  SELECT e.label, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)),
               6) AS score,
         CAST(row_number() OVER (
             PARTITION BY e.label
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                    WHERE vec_id = 0)) DESC,
                      e.vec_id ASC) AS INT) AS label_rank
  FROM embeddings e
) WHERE label_rank <= 2
"""


@register("knn_diverse", _KNN_DIVERSE_SQL)
def knn_diverse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: top-2 nearest PER LABEL for one query —
    group-quota results (the cheap deterministic cousin of MMR). One
    window partitioned by label over map-only scores; at scale the
    per-label rank is a partial top-k inside each label partition."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    # rank on the RAW score (matches the oracle's window); round for
    # output only — ranking the rounded value flips 6dp-boundary ties
    w = Window.partitionBy("label").orderBy(F.desc("__raw"), F.asc("vec_id"))
    return (
        emb.crossJoin(q)
        .select("label", "vec_id", cosine_sim("embedding", "qv").alias("__raw"))
        .withColumn("label_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("label_rank") <= 2)
        .select(
            "label", "vec_id", F.round("__raw", 6).alias("score"), "label_rank"
        )
    )


_VECTOR_COMPACT_SQL = """
SELECT vec_id AS docid, CAST(len(embedding) AS INT) AS dim
FROM embeddings ORDER BY vec_id
"""


@register("vector_compact", _VECTOR_COMPACT_SQL)
def vector_compact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction is maintenance, not mutation: after bin-packing the
    index into ~100-row files, every (docid, vector) must survive
    byte-for-byte — the post-compact full scan hashes against the same
    oracle as the pre-compact table."""
    idx = _build_index(spark, sf_dir)
    idx.compact(target_rows_per_file=100)
    return (
        idx.to_df()
        .select("docid", F.size("vector").alias("dim"))
        .orderBy("docid")
    )


# --------------------------------------------------------------------------
# Training-data prep: int8 quantization + PII scrub (round-2 widening)
# --------------------------------------------------------------------------

_QUANTIZE_SQL = """
WITH m AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS ma
  FROM embeddings
)
SELECT vec_id,
       round(ma / 127.0, 6) AS scale,
       CAST(list_sum(list_transform(v, x ->
           CASE WHEN ma = 0 THEN 0
                ELSE CAST(round(127.0 * x / ma) AS BIGINT) END)) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(v, x ->
           CASE WHEN ma = 0 THEN 0
                ELSE CAST(abs(round(127.0 * x / ma)) AS BIGINT) END)) AS BIGINT) AS q_l1
FROM m ORDER BY vec_id
"""


@register("embedding_quantize", _QUANTIZE_SQL)
def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (FAISS-SQ8 shape): 4× index shrink for
    vector search at scale. The oracle recomputes every quantized
    component in DuckDB and checks integer checksums (sum + L1) per
    vector — bit-exact machinery, no float-tolerance hand-waving."""
    from weaviate_txtai_spark.functions.vector import int8_quantize, int8_scale

    emb = _emb(spark, sf_dir)
    q = int8_quantize("embedding")
    return (
        emb.select(
            "vec_id",
            F.round(int8_scale("embedding"), 6).alias("scale"),
            F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
                "q_sum"
            ),
            F.aggregate(
                q, F.lit(0).cast("bigint"), lambda acc, x: acc + F.abs(x)
            ).alias("q_l1"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Filtered ANN search (predicate composed with cell pruning)
# --------------------------------------------------------------------------

_ANN_IVF_FILTERED_SQL = """
SELECT query_id, vec_id, score, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS score,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
  WHERE e.label >= 5
) WHERE rank <= 5
"""


@register("ann_ivf_filtered", _ANN_IVF_FILTERED_SQL)
def ann_ivf_filtered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search through the IVF index: the metadata
    predicate is applied before scoring, inside the cell scan, so top-k
    slots are never wasted on rows the caller would discard (the
    post-filter variant silently returns < k). Gated at nprobe == nlist
    so the machinery must equal exact filtered brute force; the
    pruning+PushedFilters plan shape is asserted in tests/test_ann.py."""
    from weaviate_txtai_spark.operators.ann import IVFIndex

    emb = _emb(spark, sf_dir)
    idx = IVFIndex.build(emb, nlist=16)
    qdf = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    res = idx.search(qdf, 5, nprobe=16, where="label >= 5")
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


# --------------------------------------------------------------------------
# Product quantization (operators/pq.py) — codes + ADC search
# --------------------------------------------------------------------------

# Shared oracle skeleton for m=4 16-dim subspaces over the 64-dim
# embeddings, k=4 codebook entries per subspace, iters=0 exactness mode
# (codebook = the 4 lowest-id vectors' sub-slices — no k-means replay
# needed; production iters>0 training is pytest-pinned in test_pq.py).
# DuckDB list slicing is 1-based inclusive; distances are the same
# in-order fold as the kNN/k-means oracles, rounded to 6 dp before the
# per-(vector, subspace) argmin (ties to the lowest code).
_PQ_CTE = """
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
),
subs AS (
  SELECT gs.s, gs.lo, gs.hi
  FROM (VALUES (0, 1, 16), (1, 17, 32), (2, 33, 48), (3, 49, 64)) gs(s, lo, hi)
),
d AS (
  SELECT e.vec_id, subs.s, seeds.code,
         round(list_sum(list_transform(
               list_zip(CAST(e.embedding AS DOUBLE[])[subs.lo:subs.hi],
                        seeds.v[subs.lo:subs.hi]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist
  FROM embeddings e CROSS JOIN subs CROSS JOIN seeds
),
a AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, code) AS rn
    FROM d
  ) WHERE rn = 1
)
"""

_PQ_CODES_SQL = _PQ_CTE + """
SELECT vec_id, CAST(sum(code * (1 << (2 * s))) AS BIGINT) AS pq_code
FROM a GROUP BY vec_id ORDER BY vec_id
"""

_PQ_PARAMS = dict(m=4, k=4, iters=0)


@register("pq_codes", _PQ_CODES_SQL)
def pq_codes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (Jégou et al. 2011): every vector
    compressed to m=4 codebook ids packed into one BIGINT — the 100 TB
    memory story for vector search (m bytes/vector vs 4·dim; here the
    whole scan output is 8 B/row). Encoding is map-only (per-subspace
    argmin over codebook literals — assign_clusters on a sliced
    column); no shuffle. Exactness mode: iters=0 codebooks are the 4
    lowest-id vectors' slices, reproduced verbatim by the oracle."""
    from weaviate_txtai_spark.operators.pq import pq_encode, train_pq

    emb = _emb(spark, sf_dir)
    model = train_pq(emb, **_PQ_PARAMS)
    return (
        pq_encode(emb, model, dist_round_decimals=6, packed=True)
        .select("vec_id", "pq_code")
        .orderBy("vec_id")
    )


_PQ_KNN_SQL = _PQ_CTE + """
, q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
lut AS (
  SELECT subs.s, seeds.code,
         round(list_sum(list_transform(
               list_zip(q.v[subs.lo:subs.hi], seeds.v[subs.lo:subs.hi]),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS qdist
  FROM subs CROSS JOIN seeds CROSS JOIN q
),
adc AS (
  SELECT a.vec_id, round(sum(l.qdist), 6) AS adc_dist
  FROM a JOIN lut l ON l.s = a.s AND l.code = a.code
  GROUP BY a.vec_id
)
SELECT vec_id, adc_dist,
       CAST(row_number() OVER (ORDER BY adc_dist, vec_id) AS INT) AS rank
FROM adc ORDER BY adc_dist, vec_id LIMIT 10
"""


@register("pq_knn", _PQ_KNN_SQL)
def pq_knn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for one query against the PQ-coded corpus: one m×k
    lookup-table literal, distance = m element_at lookups + adds in a
    codegen aggregate — the float vector column is never read at search
    time. TakeOrdered plan (per-partition top-n, n-row merge). The
    production shortlist+exact-rerank composition (adc_topk_rerank) is
    pytest-pinned; this gate pins the ADC scoring semantics
    end-to-end."""
    from weaviate_txtai_spark.operators.pq import (
        adc_topk,
        pq_encode,
        train_pq,
    )

    emb = _emb(spark, sf_dir)
    model = train_pq(emb, **_PQ_PARAMS)
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    return adc_topk(coded, model, q, 10)


_IVFPQ_KNN_SQL = """
SELECT query_id, vec_id, dist, rank FROM (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(list_sum(list_transform(
               list_zip(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.embedding AS DOUBLE[])),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(
                   list_zip(CAST(e.embedding AS DOUBLE[]),
                            CAST(q.embedding AS DOUBLE[])),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) ASC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)) q
) WHERE rank <= 5
"""


@register("ivfpq_knn", _IVFPQ_KNN_SQL)
def ivfpq_knn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end-to-end (operators/ivfpq.py): coarse cells + PQ
    residual codes + per-(query, cell) ADC LUTs + exact shortlist
    re-rank. Gated in exactness mode — nprobe == nlist and a shortlist
    covering the corpus — where the composition must equal brute-force
    L2 top-k REGARDLESS of what the (MLlib, non-SQL-replayable)
    clustering chose: the ADC stage only proposes candidates and the
    re-rank orders by true distance. Production nprobe/shortlist recall
    is pinned in tests/test_ivfpq.py."""
    from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

    emb = _emb(spark, sf_dir)
    n_corpus = emb.count()
    idx = IVFPQIndex.build(
        emb, nlist=8, m=8, k_pq=16, pq_iters=1, dist_round_decimals=6
    )
    qs = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    return idx.search(qs, 5, nprobe=8, shortlist=-(-n_corpus // 5))


_PQ_RERANK_SQL = """
SELECT vec_id, dist, rank FROM (
  SELECT e.vec_id,
         round(list_sum(list_transform(
               list_zip(CAST(e.embedding AS DOUBLE[]), q.v),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist,
         CAST(row_number() OVER (
             ORDER BY round(list_sum(list_transform(
                   list_zip(CAST(e.embedding AS DOUBLE[]), q.v),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) ASC,
                      e.vec_id ASC) AS INT) AS rank
  FROM embeddings e
  CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE vec_id = 0) q
) WHERE rank <= 10
"""


@register("pq_knn_rerank", _PQ_RERANK_SQL)
def pq_knn_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ search composition (ADC shortlist → exact
    re-rank) gated in exactness mode: a corpus-covering shortlist makes
    the ADC stage a pure candidate proposer and the re-rank must equal
    brute-force L2 top-10 regardless of codebook quality (same trick as
    ivfpq_knn). Production shortlist sizing is pytest-pinned
    (test_pq.py rerank recall)."""
    from weaviate_txtai_spark.operators.pq import (
        adc_topk_rerank,
        pq_encode,
        train_pq,
    )

    emb = _emb(spark, sf_dir)
    n_corpus = emb.count()
    model = train_pq(emb, **_PQ_PARAMS)
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    return adc_topk_rerank(
        coded, emb, model, q, 10, shortlist=-(-n_corpus // 10)
    )


@register("encoder_semantic_search", None)
def encoder_semantic_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic retrieval through the CORPUS-TRAINED encoder
    (functions/encoders.py CooccurrenceEncoder — PPMI+SVD word vectors)
    driving the Embeddings facade, in the reference's query→top-ranked
    identity shape (/root/reference/tests/ann/test_weaviate.py:151-170
    runs the same assertion style with sentence-transformers): train on
    the documents corpus, index a slice, query with the indexed texts,
    return (query_doc, hit_id, rank).

    Rank-not-score: the output carries identities and ranks only —
    cosine ORDER is invariant under the SVD's sign ambiguity (a sign
    flip is an orthogonal transform applied to every vector), raw
    scores are not portable across BLAS builds. Rows-only by design:
    the gate trains an SVD model, which no SQL oracle can replay;
    topical-relevance and self-retrieval invariants are pytest-pinned
    (tests/test_cooc_encoder.py)."""
    from weaviate_txtai_spark.embeddings import Embeddings
    from weaviate_txtai_spark.functions.encoders import CooccurrenceEncoder
    from weaviate_txtai_spark.sources.tables import load_table

    docs_df = load_table(spark, sf_dir, "documents")
    enc = CooccurrenceEncoder(dim=16, vocab_size=128, window=3).fit(docs_df)
    rows = (
        docs_df.select("doc_id", "text").orderBy("doc_id").limit(25).collect()
    )
    emb = Embeddings(spark, encoder=enc)
    emb.index([(f"d{r['doc_id']}", r["text"], None) for r in rows])
    out = []
    for r in rows[:5]:
        for rank, hit in enumerate(emb.search(r["text"], 3), start=1):
            out.append((int(r["doc_id"]), str(hit[0]), rank))
    return spark.createDataFrame(
        out, "query_doc long, hit_id string, rank int"
    )


_BINARY_HAMMING_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
packed AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(range(0, 32),
      j -> CASE WHEN e[j + 1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END))
      AS BIGINT) AS w0,
    CAST(list_sum(list_transform(range(0, 32),
      j -> CASE WHEN e[j + 33] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END))
      AS BIGINT) AS w1
  FROM v),
q AS (SELECT w0, w1 FROM packed WHERE vec_id = 0)
SELECT vec_id, hamming,
       CAST(row_number() OVER (ORDER BY hamming, vec_id) AS INT) AS rank
FROM (
  SELECT p.vec_id,
         CAST(bit_count(xor(p.w0, q.w0)) + bit_count(xor(p.w1, q.w1))
              AS BIGINT) AS hamming
  FROM packed p CROSS JOIN q
) ORDER BY hamming, vec_id LIMIT 10
"""


@register("binary_hamming_knn", _BINARY_HAMMING_SQL)
def binary_hamming_knn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-bit/dim tier (functions/vector.py sign_pack +
    operators/topk.py hamming_topk): sign-pack the corpus into
    ceil(dim/32) BIGINT words, top-10 by Hamming distance to vec_id 0's
    code — per-word xor+popcount (JVM intrinsics), integer distances,
    TakeOrdered plan. Completes the quantization ladder alongside int8
    SQ (embedding_quantize) and PQ (pq_knn): 256× less scan I/O than
    float32. The oracle replays the identical packing in DuckDB (the
    testdata embeddings are 64-dim → exactly two 32-bit words; the
    Spark side computes ceil(size/32) words generically)."""
    from weaviate_txtai_spark.functions.vector import sign_pack
    from weaviate_txtai_spark.operators.topk import hamming_topk

    emb = _emb(spark, sf_dir)
    codes = emb.select(
        "vec_id", sign_pack(F.col("embedding")).alias("sign_code")
    )
    qcode = [
        int(w)
        for w in codes.filter(F.col("vec_id") == 0).head()["sign_code"]
    ]
    return hamming_topk(codes, qcode, 10)


_BINARY_RERANK_SQL = """
SELECT vec_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT) AS rank
FROM (
  SELECT e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                WHERE vec_id = 0)), 6) AS score
  FROM embeddings e
) ORDER BY score DESC, vec_id LIMIT 10
"""


@register("binary_hamming_rerank", _BINARY_RERANK_SQL)
def binary_hamming_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production binary-tier composition (hamming_topk_rerank):
    Hamming shortlist over 1-bit codes, exact cosine re-rank of the
    survivors. Gated in exactness mode — a corpus-covering shortlist —
    where the composition must equal brute-force cosine top-10
    REGARDLESS of how lossy the sign codes are (the same
    candidates-then-truth trick as pq_knn_rerank/ivfpq_knn).
    Production shortlist recall is pytest-pinned (test_binary_tier.py)."""
    from weaviate_txtai_spark.functions.vector import sign_pack
    from weaviate_txtai_spark.operators.topk import hamming_topk_rerank

    emb = _emb(spark, sf_dir)
    n_corpus = emb.count()
    codes = emb.select(
        "vec_id", sign_pack(F.col("embedding")).alias("sign_code")
    )
    row = emb.filter(F.col("vec_id") == 0).head()
    q = list(row["embedding"])
    qcode = [
        int(w)
        for w in codes.filter(F.col("vec_id") == 0).head()["sign_code"]
    ]
    return hamming_topk_rerank(
        codes, emb, q, qcode, 10, shortlist=-(-n_corpus // 10)
    )


@register("opq_knn_rerank", _PQ_RERANK_SQL)
def opq_knn_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ (operators/opq.py): a LEARNED orthogonal rotation in front
    of PQ (Ge et al. 2013) — trained end-to-end here (2 alternations,
    real Procrustes updates), then gated the same way as pq_knn_rerank:
    a corpus-covering ADC shortlist makes the rotated codes a pure
    candidate proposer and the exact re-rank must equal brute-force L2
    top-10 REGARDLESS of the learned rotation (orthogonal R preserves
    L2, so searching rotated codes targets the original-space
    distance). Rotation orthogonality, error monotonicity on
    anisotropic data, and the iters=0 ≡ plain-PQ twin are pinned in
    tests/test_opq.py."""
    from weaviate_txtai_spark.operators.opq import (
        opq_encode,
        opq_topk,
        train_opq,
    )

    emb = _emb(spark, sf_dir)
    n_corpus = emb.count()
    model = train_opq(emb, m=8, k=16, opq_iters=2, pq_iters=1,
                      dist_round_decimals=6)
    codes = opq_encode(
        emb, model, dist_round_decimals=6
    ).select("vec_id", "pq_code")
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    shortlist = -(-n_corpus // 10) * 10
    cand = opq_topk(codes, model, q, shortlist).select("vec_id")
    lit = F.array(*[F.lit(float(v)) for v in q])
    exact = (
        emb.join(F.broadcast(cand), "vec_id")
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        lit,
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("dist"),
        )
    )
    return rank_top(exact, 10, key="dist", id_col="vec_id", descending=False)


@register("ivfopq_knn", _IVFPQ_KNN_SQL)
def ivfopq_knn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ + IVF-PQ composed (operators/opq.py IVFOPQIndex — the FAISS
    'OPQm,IVFn,PQm' pipeline): a LEARNED orthogonal rotation in front
    of the full IVF-PQ machinery. Gated in exactness mode (nprobe ==
    nlist + corpus-covering shortlist) against the same brute-force-L2
    oracle as ivfpq_knn: the rotation is orthogonal, so rotated-space
    re-rank distances equal original-space L2 (up to ~1e-12 float
    rounding, absorbed by the round-6 both engines order by), and the
    result must match REGARDLESS of what the rotation or clustering
    learned. The iters=0 ≡ plain-IVFPQ twin and production recall are
    pinned in tests/test_opq.py."""
    from weaviate_txtai_spark.operators.opq import IVFOPQIndex

    emb = _emb(spark, sf_dir)
    n_corpus = emb.count()
    idx = IVFOPQIndex.build(
        emb, nlist=8, m=8, k_pq=16, opq_iters=1, pq_iters=1,
        dist_round_decimals=6,
    )
    qs = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    return idx.search(qs, 5, nprobe=8, shortlist=-(-n_corpus // 5))


# --------------------------------------------------------------------------
# round-7 surface: retrieval-quality metrics, late interaction (MaxSim),
# saved-index incremental maintenance, search auto-tuning
# --------------------------------------------------------------------------

_RETRIEVAL_EVAL_SQL = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 7, 42)
), pairs AS (
  SELECT q.qid, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cs,
         round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
  FROM embeddings e CROSS JOIN q
), sys AS (
  SELECT qid, vec_id, r FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS r
    FROM pairs) WHERE r <= 10
), truth AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id) AS tr
    FROM pairs) WHERE tr <= 10
), hits AS (
  SELECT s.qid, s.r,
         CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM sys s LEFT JOIN truth t ON s.qid = t.qid AND s.vec_id = t.vec_id
), ch AS (
  SELECT qid, r, hit,
         sum(hit) OVER (PARTITION BY qid ORDER BY r) AS cumhits
  FROM hits
), idcg AS (
  SELECT sum(1.0 / log2(i + 1.0)) AS v FROM range(1, 11) t(i)
)
SELECT qid AS query_id,
       round(sum(hit) / 10.0, 6) AS recall_at_k,
       round(sum(hit) / 10.0, 6) AS precision_at_k,
       round(coalesce(max(CASE WHEN hit = 1 THEN 1.0 / r END), 0), 6) AS mrr_at_k,
       round(sum(CASE WHEN hit = 1 THEN cumhits * 1.0 / r ELSE 0 END) / 10.0, 6)
         AS ap_at_k,
       round(sum(CASE WHEN hit = 1 THEN 1.0 / log2(r + 1.0) ELSE 0 END)
             / (SELECT v FROM idcg), 6) AS ndcg_at_k
FROM ch GROUP BY qid ORDER BY qid
"""


@register("retrieval_eval", _RETRIEVAL_EVAL_SQL)
def retrieval_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics (operators/evalmetrics.py
    ranking_metrics): recall@10 / precision@10 / MRR@10 / AP@10 /
    nDCG@10 of the COSINE top-10 ranking measured against the L2
    top-10 truth for 3 probe queries — the rankings disagree exactly
    where vector norms vary, so every metric is exercised away from
    the trivial 1.0. All-DataFrame evaluation: one (query, doc)
    equi-join against the truth set + per-query hash aggregates — the
    distributed recall machinery the ANN tuners rely on, vs the
    driver-side set math a collect()-based evaluator would do."""
    from weaviate_txtai_spark.operators.evalmetrics import ranking_metrics

    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id").isin(0, 7, 42)).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("qv"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    pairs = emb.crossJoin(q).select(
        "qid",
        "vec_id",
        F.round(cosine_sim(F.col("embedding").cast("array<double>"), "qv"), 6).alias("cs"),
        F.round(dist, 6).alias("dist"),
    )
    # BOTH rankings come from ONE scoring pass: system rank and truth
    # rank are windows over the same qid partitioning (one exchange,
    # two sorts), and the union of the two top-10s — a k-sized frame —
    # is persisted before fan-out. Previously `pairs` (the full
    # crossJoin scoring) was re-planned per consumer: the sys window,
    # the truth window, and ranking_metrics' two reads of truth = the
    # corpus scored three times (6 source scans in the captured plan;
    # r13 opt). Ranks are computed over ALL pairs before any filter,
    # so the values are unchanged.
    from weaviate_txtai_spark.cache import scoped_persist

    wsys = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("vec_id"))
    wtr = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("vec_id"))
    # EAGER: ranking_metrics reads this k-sized frame from four plan
    # branches of one action; on the lazy shape they raced the unfilled
    # cache — each racer a full corpus re-score (1.6 s@32c vs 1.0 s@8c,
    # driver r13; r14 opt)
    ranked = scoped_persist(
        pairs.withColumn("r", F.row_number().over(wsys))
        .withColumn("tr", F.row_number().over(wtr))
        .filter((F.col("r") <= 10) | (F.col("tr") <= 10))
        .select("qid", "vec_id", "r", "tr"),
        eager=True,
    )
    sys = ranked.filter(F.col("r") <= 10).select(
        "qid", "vec_id", F.col("r").alias("rank")
    )
    truth = ranked.filter(F.col("tr") <= 10).select("qid", "vec_id")
    return ranking_metrics(
        sys, truth, 10, query_col="qid", doc_col="vec_id", rank_col="rank"
    ).select(
        F.col("qid").alias("query_id"),
        "recall_at_k",
        "precision_at_k",
        "mrr_at_k",
        "ap_at_k",
        "ndcg_at_k",
    ).orderBy("query_id")


_MAXSIM_TOPK_SQL = """
WITH qt AS (
  SELECT CAST(CASE WHEN vec_id IN (0, 7) THEN 0 ELSE 1 END AS BIGINT) AS qid,
         vec_id AS tok, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 7, 13, 42)
), dt AS (
  SELECT vec_id % 100 AS did, CAST(embedding AS DOUBLE[]) AS dv
  FROM embeddings
), mx AS (
  SELECT qt.qid, qt.tok, dt.did,
         max(list_cosine_similarity(dt.dv, qt.qv)) AS m
  FROM dt CROSS JOIN qt GROUP BY 1, 2, 3
), sc AS (
  SELECT qid AS query_id, did AS doc_id, round(sum(m), 6) AS score
  FROM mx GROUP BY 1, 2
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM sc
) WHERE rank <= 5
"""


@register("maxsim_topk", _MAXSIM_TOPK_SQL)
def maxsim_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction (operators/lateinteraction.py):
    2 queries × 2 token vectors each against a corpus of multi-vector
    documents (vec_id % 100 groups the embeddings table into ~100
    token bags). score(q,d) = Σ_t max_u cos(t,u), computed as ONE
    GEMM + column-max per document group inside applyInPandas — doc
    tokens shuffle once, the 4-row query token matrix rides in the
    closure. Top-5 docs per query on the rounded score."""
    from weaviate_txtai_spark.operators.lateinteraction import maxsim_topk

    emb = _emb(spark, sf_dir)
    qt = emb.filter(F.col("vec_id").isin(0, 7, 13, 42)).select(
        F.when(F.col("vec_id").isin(0, 7), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("query_id"),
        F.col("embedding").alias("vector"),
    )
    dt = emb.select(
        (F.col("vec_id") % 100).alias("doc_id"),
        F.col("embedding").alias("vector"),
    )
    return maxsim_topk(qt, dt, 5)


@register("ivfpq_append_search", _SIM_JOIN_IVFPQ_SQL.replace(
    "WHERE vec_id < 50", "WHERE vec_id < 10"))
def ivfpq_append_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-model incremental maintenance end-to-end
    (operators/ivfpq.py append_to_saved, VERDICT r6 item 3c): build
    IVF-PQ on the FIRST HALF of the corpus, save it, physically append
    the second half into the saved cell partitions (centroids and
    codebooks frozen, old files untouched, cost O(new batch)), reload,
    and search in exactness mode (nprobe == nlist, corpus-covering
    shortlist) — the result must equal brute-force L2 top-3 over the
    FULL corpus, which fails if appended rows were dropped, mis-celled,
    or mis-encoded (the re-rank can only see candidates the ADC stage
    proposes from the appended partitions)."""
    import tempfile

    from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

    emb = _emb(spark, sf_dir)
    n_corpus = emb.count()
    half = n_corpus // 2
    idx = IVFPQIndex.build(
        emb.filter(F.col("vec_id") < half),
        nlist=8, m=8, k_pq=16, pq_iters=1, dist_round_decimals=6,
    )
    path = tempfile.mkdtemp(prefix="gate_ivfpq_append_")
    idx.save(path)
    idx.append_to_saved(path, emb.filter(F.col("vec_id") >= half))
    reloaded = IVFPQIndex.load(spark, path)
    qs = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 10).collect()
    ]
    out = reloaded.search(qs, 3, nprobe=8, shortlist=-(-n_corpus // 3))
    return out.select("query_id", "vec_id", "dist", "rank")


@register("tune_search_params_gate", None)
def tune_search_params_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint (nprobe, shortlist) auto-tuner (operators/ivfpq.py
    tune_search_params, VERDICT r6 item 3a) as a driver gate: tune a
    small IVF-PQ index to recall ≥ 0.9 and return the measured curve
    plus the chosen point flagged. Rows-only BY DESIGN (placed below
    the sampled window): the recall curve depends on the MLlib
    clustering and PQ codebooks, which no SQL oracle can replay — the
    minimality/monotonicity/composition contracts are pinned instead
    in tests/test_ivfpq.py (test_tune_search_params_joint_minimal) and
    the curve's internal consistency (chosen point meets target or is
    the exhaustive corner) is asserted here before returning."""
    from weaviate_txtai_spark.operators.ivfpq import (
        IVFPQIndex,
        tune_search_params,
    )

    emb = _emb(spark, sf_dir)
    idx = IVFPQIndex.build(
        emb, nlist=8, m=8, k_pq=16, pq_iters=1, dist_round_decimals=6
    )
    qs = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 12).collect()
    ]
    npb, sl, curve = tune_search_params(
        idx, qs, 5, recall_target=0.9, max_shortlist=32
    )
    # internal-consistency assert (the gate's own contract): the chosen
    # point met the target, or it is the exhaustive corner
    assert curve[(npb, sl)] >= 0.9 or (npb, sl) == (8, 32)
    rows = [
        (int(p), int(s), round(float(r), 6), p == npb and s == sl)
        for (p, s), r in sorted(curve.items())
    ]
    return spark.createDataFrame(
        rows, "nprobe int, shortlist int, recall double, chosen boolean"
    )


_EMB_OUTLIERS_SQL = """
WITH pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS cs
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT qid, round(cs, 6) AS cs FROM (
    SELECT qid, cs,
           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS r
    FROM pairs) WHERE r <= 5
), scored AS (
  SELECT qid AS vec_id, round(1 - avg(cs), 6) AS outlier_score
  FROM nn GROUP BY qid
)
SELECT vec_id, outlier_score,
       CAST(row_number() OVER (ORDER BY outlier_score DESC, vec_id) AS INT)
         AS rank
FROM scored ORDER BY outlier_score DESC, vec_id LIMIT 10
"""


@register("embedding_outliers", _EMB_OUTLIERS_SQL)
def embedding_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection (data-quality triage for a
    training corpus): each vector's mean cosine DISTANCE to its 5
    nearest neighbors — isolated points score high, clustered points
    low; top-10 outliers. Built on the kNN graph (operators/graph.py
    knn_graph → simjoin.topk_join), so the pair generation is the
    both-sides-huge similarity-join machinery — never an all-pairs
    crossJoin on the engine side (the oracle brute-forces, that's its
    job)."""
    from weaviate_txtai_spark.operators.graph import knn_graph

    emb = _emb(spark, sf_dir)
    g = knn_graph(emb, 5)
    scored = g.groupBy(F.col("src").alias("vec_id")).agg(
        F.round(1 - F.avg("score"), 6).alias("outlier_score")
    )
    w = Window.orderBy(F.desc("outlier_score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy(F.desc("outlier_score"), F.asc("vec_id"))
    )


# Oracle: the SAME greedy walk unrolled as four explicit argmax steps
# (every step's distances rounded to 6dp BEFORE least/argmax in both
# engines, so the traversal cannot diverge on float ulps).
_KCENTER_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c1 AS (SELECT CAST(0 AS BIGINT) AS vec_id),
d1 AS (SELECT e.vec_id,
              round(1 - list_cosine_similarity(
                        e.v, (SELECT v FROM e WHERE vec_id = 0)), 6) AS dmin
       FROM e),
c2 AS (SELECT vec_id FROM d1 WHERE vec_id NOT IN (SELECT vec_id FROM c1)
       ORDER BY dmin DESC, vec_id LIMIT 1),
d2 AS (SELECT d1.vec_id,
              least(d1.dmin,
                    round(1 - list_cosine_similarity(
                              e.v, (SELECT e2.v FROM e e2 JOIN c2
                                    ON e2.vec_id = c2.vec_id)), 6)) AS dmin
       FROM d1 JOIN e ON d1.vec_id = e.vec_id),
c3 AS (SELECT vec_id FROM d2
       WHERE vec_id NOT IN (SELECT vec_id FROM c1
                            UNION SELECT vec_id FROM c2)
       ORDER BY dmin DESC, vec_id LIMIT 1),
d3 AS (SELECT d2.vec_id,
              least(d2.dmin,
                    round(1 - list_cosine_similarity(
                              e.v, (SELECT e2.v FROM e e2 JOIN c3
                                    ON e2.vec_id = c3.vec_id)), 6)) AS dmin
       FROM d2 JOIN e ON d2.vec_id = e.vec_id),
c4 AS (SELECT vec_id FROM d3
       WHERE vec_id NOT IN (SELECT vec_id FROM c1
                            UNION SELECT vec_id FROM c2
                            UNION SELECT vec_id FROM c3)
       ORDER BY dmin DESC, vec_id LIMIT 1)
SELECT CAST(1 AS INT) AS rank, vec_id, 0.0 AS min_dist FROM c1
UNION ALL
SELECT 2, c2.vec_id,
       (SELECT dmin FROM d1 WHERE d1.vec_id = c2.vec_id) FROM c2
UNION ALL
SELECT 3, c3.vec_id,
       (SELECT dmin FROM d2 WHERE d2.vec_id = c3.vec_id) FROM c3
UNION ALL
SELECT 4, c4.vec_id,
       (SELECT dmin FROM d3 WHERE d3.vec_id = c4.vec_id) FROM c4
ORDER BY rank
"""


@register("kcenter_coreset", _KCENTER_SQL)
def kcenter_coreset_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset of the embedding corpus
    (operators/coreset.py, Gonzalez farthest-point, k=4, seed vec 0) —
    the diversity-first selection with the 2-approximation covering
    guarantee. k driver iterations of one distributed argmax each; the
    selected ≤k vectors ride as column literals, nothing corpus-sized
    collects. Oracle: the same walk unrolled as explicit SQL steps."""
    from weaviate_txtai_spark.operators.coreset import kcenter_coreset

    emb = _emb(spark, sf_dir)
    return kcenter_coreset(emb, 4, seed_id=0).orderBy("rank")


# Oracle: exact ε-pairs + recursive-CTE components over the core
# sub-graph + min-label border assignment — the whole DBSCAN replayed
# independently of the large-star/small-star machinery. Distances round
# to 6dp BEFORE the ε comparison in both engines (boundary parity).
_DBSCAN_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT a.vec_id AS i, b.vec_id AS j
      FROM e a JOIN e b ON a.vec_id < b.vec_id
       AND round(1 - list_cosine_similarity(a.v, b.v), 6) <= 0.65),
und AS (SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
deg AS (SELECT a, count(*) AS c FROM und GROUP BY 1),
core AS (SELECT a AS n FROM deg WHERE c >= 3),
ce AS (SELECT u.a, u.b FROM und u
       JOIN core c1 ON u.a = c1.n JOIN core c2 ON u.b = c2.n),
reach AS (
  SELECT n AS node, n AS r FROM core
  UNION
  SELECT ce.b AS node, reach.r AS r FROM reach JOIN ce ON reach.node = ce.a),
comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY 1),
border AS (
  SELECT u.a AS id, min(comp.cluster) AS cluster
  FROM und u JOIN comp ON u.b = comp.node
  WHERE u.a NOT IN (SELECT n FROM core)
  GROUP BY 1)
SELECT core.n AS id, 'core' AS role, CAST(comp.cluster AS BIGINT) AS cluster
FROM core JOIN comp ON core.n = comp.node
UNION ALL
SELECT id, 'border', CAST(cluster AS BIGINT) FROM border
UNION ALL
SELECT e.vec_id, 'noise', CAST(-1 AS BIGINT) FROM e
WHERE e.vec_id NOT IN (SELECT n FROM core)
  AND e.vec_id NOT IN (SELECT id FROM border)
ORDER BY id
"""


@register("embedding_dbscan", _DBSCAN_SQL)
def embedding_dbscan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding corpus (operators/dbscan.py; ε = 0.65
    cosine distance, core = ≥3 neighbors): density clustering composed
    from the engine's own primitives — ε-pairs (exact join at gate
    scale; the LSH/IVF tiers are the corpus path), degree counting,
    large-star/small-star components over the CORE sub-graph, min-label
    border assignment. Oracle replays everything with a recursive CTE."""
    from weaviate_txtai_spark.functions.vector import cosine_sim
    from weaviate_txtai_spark.operators.dbscan import dbscan

    emb = _emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
    pairs = a.join(
        b,
        (F.col("i") < F.col("j"))
        & (F.round(1 - cosine_sim("va", "vb"), 6) <= 0.65),
    ).select("i", "j")
    ids = emb.select(F.col("vec_id").alias("id"))
    out = dbscan(ids, pairs, min_neighbors=3)
    # noise keeps NULL in the operator API; the gate flattens it to -1
    # (a sortable scalar for the driver's canonicalizer)
    return out.select(
        "id", "role", F.coalesce("cluster", F.lit(-1)).alias("cluster")
    ).orderBy("id")


def _mmr_sql(k: int = 5, lam: float = 0.7, pool: int = 12,
             qids: str = "3, 17") -> str:
    """DuckDB twin of the mmr_select greedy trajectory, the k selection
    steps UNROLLED as chained MATERIALIZED CTEs (the hits/pca oracle
    pattern). Every rounded quantity the kernel carries — pool rel
    scores, pairwise similarities, per-step objectives — is rounded at
    the same 6-dp grid here, so the greedy argmax trajectory replays
    exactly (ties break on the lowest doc id in both engines)."""
    parts = [
        f"""WITH nv AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pool AS MATERIALIZED (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         round(list_cosine_similarity(e.v, q.v), 6) AS rel, e.v AS dv
  FROM nv e CROSS JOIN (SELECT * FROM nv WHERE vec_id IN ({qids})) q
  QUALIFY row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY list_cosine_similarity(e.v, q.v) DESC, e.vec_id ASC
  ) <= {pool}),
pw AS MATERIALIZED (
  SELECT a.query_id, a.doc_id AS i, b.doc_id AS j,
         round(list_cosine_similarity(a.dv, b.dv), 6) AS s
  FROM pool a JOIN pool b USING (query_id)),
c0 AS MATERIALIZED (
  SELECT query_id, doc_id, rel, CAST(0.0 AS DOUBLE) AS red FROM pool),"""
    ]
    L = f"CAST({lam} AS DOUBLE)"
    M = f"CAST({1.0 - lam!r} AS DOUBLE)"
    for t in range(1, k + 1):
        parts.append(
            f"""s{t} AS MATERIALIZED (
  SELECT query_id, doc_id,
         round({L} * rel - {M} * red, 7) AS mmr, {t} AS rank
  FROM c{t - 1}
  QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY round({L} * rel - {M} * red, 7) DESC, doc_id ASC) = 1),"""
        )
        if t < k:
            parts.append(
                f"""c{t} AS MATERIALIZED (
  SELECT c.query_id, c.doc_id, c.rel, GREATEST(c.red, pw.s) AS red
  FROM c{t - 1} c
  JOIN s{t} ON c.query_id = s{t}.query_id
  JOIN pw ON pw.query_id = c.query_id AND pw.i = c.doc_id
         AND pw.j = s{t}.doc_id
  WHERE c.doc_id <> s{t}.doc_id),"""
            )
    body = "\n".join(parts).rstrip(",")
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, doc_id, rank, mmr FROM s{t}"
        for t in range(1, k + 1)
    )
    return f"{body}\nSELECT * FROM (\n{union}\n) ORDER BY query_id, rank"


@register("mmr_diversified", _mmr_sql())
def mmr_diversified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: kNN top-12 candidate pools for two query
    vectors, then greedy MMR selection of 5 (λ=0.7) — the
    redundancy-suppressing re-rank every RAG pipeline bolts onto its
    ANN output (operators/mmr.py; Carbonell & Goldstein 1998). The
    greedy loop runs per-query inside one applyInPandas group (pool
    rows only — nothing corpus-scale shuffles); the trajectory carries
    only 6-dp-rounded quantities so the unrolled-CTE oracle replays it
    exactly. Vectors are L2-normalized upstream so the kernel's dot
    product is cosine similarity."""
    from weaviate_txtai_spark.functions.vector import normalize_vec
    from weaviate_txtai_spark.operators.mmr import mmr_select
    from weaviate_txtai_spark.operators.topk import knn_topk

    emb = _emb(spark, sf_dir)
    nv = emb.select(
        "vec_id", normalize_vec("embedding").alias("nvec")
    )
    qd = emb.filter(F.col("vec_id").isin(3, 17)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    pool = knn_topk(
        emb, qd, 12, vector_col="embedding", id_col="vec_id",
        score_round=6,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "score")
    cands = pool.join(
        nv.withColumnRenamed("vec_id", "doc_id"), "doc_id"
    ).select("query_id", "doc_id", "score", F.col("nvec").alias("vector"))
    return mmr_select(
        cands, 5, lam=0.7, score_col="score", vector_col="vector"
    ).orderBy("query_id", "rank")
