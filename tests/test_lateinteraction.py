"""MaxSim late interaction — hand-built token bags + brute-force twin."""

import math

import pytest
from pyspark.sql import functions as F

from weaviate_txtai_spark.operators.lateinteraction import (
    maxsim_scores,
    maxsim_topk,
)
from weaviate_txtai_spark.sources.tables import load_table


def test_hand_computed_maxsim(spark):
    """Axis-aligned tokens make cos exact: q tokens e1, e2; doc A has
    {e1} → score 1 + 0; doc B has {e1+e2 normalized-ish, e2} → its
    best match per query token is cos(e1, [1,1,0]/√2)=1/√2 and
    cos(e2, e2)=1 → score 1/√2 + 1. Doc C holds a NaN token: its score
    stays NaN (not NULL), and the top-k ranks it first, where Spark
    orders a NaN score."""
    qt = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (0, [0.0, 1.0, 0.0])],
        "query_id long, vector array<double>",
    )
    dt = spark.createDataFrame(
        [
            (100, [1.0, 0.0, 0.0]),
            (200, [1.0, 1.0, 0.0]),
            (200, [0.0, 1.0, 0.0]),
            (300, [float("nan"), 1.0, 0.0]),
        ],
        "doc_id long, vector array<double>",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in maxsim_scores(qt, dt).collect()
    }
    assert got[100] == pytest.approx(1.0, abs=1e-6)
    assert got[200] == pytest.approx(1 / math.sqrt(2) + 1, abs=1e-6)
    assert math.isnan(got[300])
    ranked = maxsim_topk(qt, dt, 3).orderBy("rank").collect()
    assert [r["doc_id"] for r in ranked] == [300, 200, 100]


def test_zero_norm_token_contributes_zero(spark):
    qt = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id long, vector array<double>"
    )
    dt = spark.createDataFrame(
        [(1, [1.0, 0.0])], "doc_id long, vector array<double>"
    )
    assert maxsim_scores(qt, dt).collect()[0]["score"] == 0.0


def test_empty_queries_raise(spark):
    qt = spark.createDataFrame([], "query_id long, vector array<double>")
    dt = spark.createDataFrame(
        [(1, [1.0])], "doc_id long, vector array<double>"
    )
    with pytest.raises(ValueError, match="empty query_tokens"):
        maxsim_scores(qt, dt)


def test_topk_matches_bruteforce_twin(spark, sf_dir):
    """GEMM kernel vs a pure-expression crossJoin twin on real data:
    same scores (round 6) and same (score DESC, doc ASC) ranks."""
    emb = load_table(spark, sf_dir, "embeddings")
    qt = emb.filter(F.col("vec_id").isin(0, 3)).select(
        F.lit(0).cast("long").alias("query_id"),
        F.col("embedding").alias("vector"),
    )
    dt = emb.select(
        (F.col("vec_id") % 10).alias("doc_id"),
        F.col("embedding").alias("vector"),
    )
    got = {
        (r["doc_id"], r["rank"]): r["score"]
        for r in maxsim_topk(qt, dt, 5).collect()
    }

    from weaviate_txtai_spark.functions.vector import cosine_sim
    from pyspark.sql import Window

    pairs = dt.alias("d").crossJoin(
        F.broadcast(
            qt.select(
                F.col("query_id"),
                F.col("vector").alias("qv"),
                F.monotonically_increasing_id().alias("tok"),
            )
        )
    ).select(
        "query_id",
        "doc_id",
        "tok",
        cosine_sim(F.col("vector").cast("array<double>"),
                   F.col("qv").cast("array<double>")).alias("cs"),
    )
    scores = (
        pairs.groupBy("query_id", "doc_id", "tok")
        .agg(F.max("cs").alias("m"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("m"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    truth = {
        (r["doc_id"], r["rank"]): r["score"]
        for r in scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert got == truth
