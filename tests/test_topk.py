"""Batch kNN: expression path vs GEMM path agree; ranks deterministic."""

import functools
import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from weaviate_txtai_spark.functions.vector import l2_dist
from weaviate_txtai_spark.operators import knn_topk, knn_topk_gemm
from weaviate_txtai_spark.operators.topk import knn_single, topk_indices
from weaviate_txtai_spark.sources import load_table


def _query_df(spark, emb, ids):
    return (
        emb.filter(F.col("vec_id").isin(ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vector"),
        )
    )


def test_knn_topk_self_is_top1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _query_df(spark, emb, [0, 1, 2])
    res = knn_topk(
        emb, qdf, 5, vector_col="embedding", id_col="vec_id"
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert len(rows) == 5
        assert rows[0]["vec_id"] == qid  # self-match is top-1 for cosine
        assert abs(rows[0]["score"] - 1.0) < 1e-9
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_gemm_matches_expression_path(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ids = [0, 7, 42, 99]
    qdf = _query_df(spark, emb, ids)
    expr_res = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in knn_topk(
            emb, qdf, 10, vector_col="embedding", id_col="vec_id"
        ).collect()
    }
    queries = [
        (r["query_id"], list(r["query_vector"])) for r in qdf.collect()
    ]
    gemm_res = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in knn_topk_gemm(
            emb, queries, 10, vector_col="embedding", id_col="vec_id"
        ).collect()
    }
    assert expr_res == gemm_res


def test_gemm_l2_metric_matches_expression_truth(spark, sf_dir):
    """metric='l2' ranks ascending Euclidean distance with the same
    (distance ASC, id ASC) tie-break the PQ family's truth queries use;
    truth computed via the crossJoin + zip_with expr path."""
    emb = load_table(spark, sf_dir, "embeddings")
    ids = [0, 7, 42]
    qdf = _query_df(spark, emb, ids)
    # round the RANKING key to 6 (the repo's dist_round_decimals
    # convention, now knn_topk_gemm's l2 default too): the GEMM's
    # expanded form ||x||²−2x·q+||q||² carries ~1e-8 cancellation noise
    # vs this (x−q)² fold — ranking both sides on the rounded key makes
    # near-ties resolve by id ASC identically instead of flaking
    # (ADVICE r6); only a ~1e-8-of-a-midpoint distance could still split
    l2 = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.col("query_vector").cast("array<double>"),
                    lambda x, q: (x - q) * (x - q),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    truth = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["dist"], 6))
        for r in emb.crossJoin(F.broadcast(qdf))
        .select("query_id", "vec_id", l2.alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    }
    queries = [
        (r["query_id"], list(r["query_vector"])) for r in qdf.collect()
    ]
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 6))
        for r in knn_topk_gemm(
            emb, queries, 10, vector_col="embedding", id_col="vec_id",
            metric="l2",
        ).collect()
    }
    assert got == truth
    # self-match: distance 0 at rank 1 for each query
    for qid in ids:
        assert truth[(qid, 1)][0] == qid


def test_gemm_rejects_unknown_metric(spark):
    docs = spark.createDataFrame(
        [(0, [1.0, 0.0])], "docid long, vector array<float>"
    )
    with pytest.raises(ValueError, match="unknown metric"):
        knn_topk_gemm(docs, [(0, [1.0, 0.0])], 1, metric="dot")


def test_knn_single_matches_batch(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    single = knn_single(emb, qv, 5, vector_col="embedding", id_col="vec_id").collect()
    assert single[0]["vec_id"] == 3
    assert [r["vec_id"] for r in single] == sorted(
        [r["vec_id"] for r in single],
        key=lambda i: next(-r["score"] for r in single if r["vec_id"] == i),
    )


def test_knn_single_plan_is_take_ordered(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [0.1] * 64
    plan = (
        knn_single(emb, qv, 5, vector_col="embedding", id_col="vec_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_gemm_tie_break_matches_expression_path(spark):
    """Score-tied groups straddling the k boundary, and NaN scores, must
    resolve the same way on both paths and for any partitioning:
    (score DESC | ASC, id ASC) in Spark's double order. The GEMM path's
    naive argpartition kept arbitrary tie members (ADVICE r1); this pins
    the deterministic widen-then-sort cut of ``topk_indices``."""
    # 20 docs in two tie groups: ids 0-9 identical vector A, 10-19 vector B.
    a, b = [1.0, 0.0], [0.8, 0.6]
    docs = spark.createDataFrame(
        [(i, a if i < 10 else b) for i in range(20)],
        "docid long, vector array<float>",
    ).repartition(3)
    qdf = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vector array<float>"
    )
    k = 7  # cuts through the first tie group
    expr = [
        (r["rank"], r["docid"])
        for r in knn_topk(docs, qdf, k).orderBy("rank").collect()
    ]
    gemm = [
        (r["rank"], r["docid"])
        for r in knn_topk_gemm(docs, [(0, [1.0, 0.0])], k)
        .orderBy("rank")
        .collect()
    ]
    assert expr == gemm
    assert [d for _, d in expr] == [0, 1, 2, 3, 4, 5, 6]  # id ASC within tie

    # A NaN-scored doc: Spark orders NaN above every number (first under
    # DESC, last under ASC). In a batch of <= k rows it must neither
    # vanish nor take its batch-mates with it, on any partitioning.
    nan = float("nan")
    q = [1.0, 0.0, 0.0]
    nan_docs = spark.createDataFrame(
        [(0, [nan, 1.0, 0.0]), (1, [1.0, 0.0, 0.0]),
         (2, [0.6, 0.8, 0.0]), (3, [0.0, 1.0, 0.0])],
        "docid long, vector array<double>",
    )
    qdf = spark.createDataFrame([(0, q)], "query_id long, query_vector array<double>")
    w_l2 = Window.partitionBy("query_id").orderBy(F.asc("score"), F.asc("docid"))
    l2_expr = (
        nan_docs.crossJoin(qdf)
        .select(
            "query_id", "docid",
            F.round(l2_dist("vector", "query_vector"), 6).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w_l2))
        .filter(F.col("rank") <= 5)
    )
    expr_ids = {
        metric: [r["docid"] for r in df.orderBy("rank").collect()]
        for metric, df in (("cosine", knn_topk(nan_docs, qdf, 5)), ("l2", l2_expr))
    }
    assert expr_ids == {"cosine": [0, 1, 2, 3], "l2": [1, 2, 3, 0]}
    for metric, want in expr_ids.items():
        for parts in (1, 4):
            gemm = knn_topk_gemm(
                nan_docs.repartition(parts), [(0, q)], 5, metric=metric
            )
            got = [r["docid"] for r in gemm.orderBy("rank").collect()]
            assert got == want, (metric, parts)


def test_gemm_zero_query_and_string_ids(spark):
    """Zero query vectors score 0 (not NaN-dropped) and string ids ride
    through the GEMM path (review finding r3)."""
    docs = spark.createDataFrame(
        [(f"doc{i}", [float(i + 1), 1.0]) for i in range(5)],
        "docid string, vector array<float>",
    )
    res = knn_topk_gemm(docs, [(0, [0.0, 0.0]), (1, [1.0, 0.0])], 2).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}  # zero query NOT silently dropped
    assert all(r["score"] == 0.0 for r in by_q[0])
    assert all(isinstance(r["docid"], str) for r in res)


def test_blocked_join_matches_broadcast_join(spark, sf_dir):
    """topk_join_blocked (hash blocks, repeated right scans) must equal
    topk_join exactly — block decomposition is result-invariant."""
    from weaviate_txtai_spark.operators.simjoin import (
        topk_join,
        topk_join_blocked,
    )
    from weaviate_txtai_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    a = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in topk_join(
            left, emb, 5, right_id="vec_id", right_vec="embedding"
        ).collect()
    }
    b = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in topk_join_blocked(
            left, emb, 5, right_id="vec_id", right_vec="embedding", block_size=7
        ).collect()
    }
    assert a == b


def test_blocked_join_rejects_unbounded_left(spark):
    import pytest

    from weaviate_txtai_spark.operators.simjoin import topk_join_blocked

    left = spark.range(0, 200).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("query_vector"),
    )
    right = spark.createDataFrame(
        [(0, [1.0, 0.0])], "docid long, vector array<float>"
    )
    with pytest.raises(ValueError, match="64 blocks"):
        topk_join_blocked(left, right, 1, block_size=2)


# -------------------------------------------------- gemm query-id typing


def test_gemm_rejects_bool_and_float_ids(spark):
    """Unsupported id types raise a clear TypeError instead of silently
    serializing as StringType and dying inside Arrow (ADVICE r2)."""
    import pytest

    from weaviate_txtai_spark.operators.topk import knn_topk_gemm

    idx = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "docid long, vector array<float>"
    )
    with pytest.raises(TypeError, match="boolean"):
        knn_topk_gemm(idx, [(True, [1.0, 0.0])], 1)
    with pytest.raises(TypeError, match="unsupported query id type"):
        knn_topk_gemm(idx, [(1.5, [1.0, 0.0])], 1)


def test_gemm_explicit_query_id_type(spark):
    """An explicit DataType overrides inference — including for the
    empty-queries early return, which previously hardcoded LongType."""
    from pyspark.sql.types import StringType

    from weaviate_txtai_spark.operators.topk import knn_topk_gemm

    idx = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "docid string, vector array<float>"
    )
    res = knn_topk_gemm(
        idx, [("q1", [1.0, 0.0])], 1, query_id_type=StringType()
    )
    assert [r["docid"] for r in res.collect()] == ["a"]
    empty = knn_topk_gemm(idx, [], 1, query_id_type=StringType())
    assert empty.schema["query_id"].dataType == StringType()
    assert empty.count() == 0
    # and the two union cleanly (the practical reason the types must agree)
    assert res.unionByName(empty).count() == 1


def test_gemm_numpy_int_ids_infer_long(spark):
    """numpy integer ids (the common .to_numpy() shape) infer LongType."""
    import numpy as np

    from pyspark.sql.types import LongType

    from weaviate_txtai_spark.operators.topk import knn_topk_gemm

    idx = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "docid long, vector array<float>"
    )
    res = knn_topk_gemm(idx, [(np.int32(7), [0.0, 1.0])], 1)
    assert res.schema["query_id"].dataType == LongType()
    rows = res.collect()
    assert rows[0]["query_id"] == 7 and rows[0]["docid"] == 2


def _spark_double_cmp(a, b):
    """Spark's double ordering: NaN above every number, NaN equal to
    NaN, -0.0 equal to 0.0."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) - math.isnan(b)
    return (a > b) - (a < b)


def _reference_topk(keys, ids, k, descending):
    def cmp(i, j):
        c = _spark_double_cmp(keys[i], keys[j])
        return (-c if descending else c) or (ids[i] > ids[j]) - (ids[i] < ids[j])

    return sorted(range(len(keys)), key=functools.cmp_to_key(cmp))[:k]


_special = st.sampled_from(
    [float("nan"), float("inf"), -float("inf"), 0.0, -0.0, 1.0, -1.0]
)
_key = st.one_of(_special, st.floats(allow_nan=True, allow_infinity=True))


@st.composite
def _topk_case(draw):
    n = draw(st.integers(1, 12))
    nrows = draw(st.integers(1, 4))
    rows = [draw(st.lists(_key, min_size=n, max_size=n)) for _ in range(nrows)]
    ids = draw(st.permutations(range(100, 100 + n)))
    k = draw(st.one_of(st.sampled_from([0, 1, n, n + 3]), st.integers(1, n)))
    descending = draw(st.booleans())
    if 0 < k < n:
        # force a tie straddling the k boundary in every row
        for row in rows:
            ref = _reference_topk(row, ids, n, descending)
            row[ref[k]] = row[ref[k - 1]]
    return rows, ids, k, descending


@settings(max_examples=300, deadline=None)
@given(_topk_case())
def test_topk_indices_matches_full_sort(case):
    """``topk_indices`` equals a full sort on (key, id) in Spark's double
    order, for 1-D keys and per row of a 2-D key matrix."""
    rows, ids, k, descending = case
    want = [_reference_topk(row, ids, k, descending) for row in rows]
    ids = np.asarray(ids)
    got_2d = topk_indices(np.asarray(rows), ids, k, descending=descending)
    assert got_2d.shape == (len(rows), min(k, len(ids)))
    assert got_2d.tolist() == want
    for row, w in zip(rows, want):
        assert topk_indices(np.asarray(row), ids, k, descending=descending).tolist() == w
