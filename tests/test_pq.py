"""Product quantization: encode determinism, packed round-trip, ADC
error/recall, strategy parity."""

import math

import pytest
from pyspark.sql import functions as F

from weaviate_txtai_spark.operators.pq import (
    PQModel,
    adc_scores,
    adc_topk,
    pq_encode,
    pq_unpack,
    train_pq,
)
from weaviate_txtai_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def model(spark, emb):
    return train_pq(emb, m=4, k=8, iters=2, dist_round_decimals=6,
                    quantize_decimals=6)


def test_train_shapes(model, emb):
    dim = len(emb.select("embedding").head()[0])
    assert model.dim == dim and model.sub_dim == dim // 4
    assert len(model.codebooks) == 4
    for cb in model.codebooks:
        assert [c for c, _ in cb] == list(range(8))
        assert all(len(v) == model.sub_dim for _, v in cb)


def test_encode_packed_unpack_roundtrip(emb, model):
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=True)
    arr = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    un = pq_unpack(coded, model)
    a = {r["vec_id"]: list(r["pq_codes"]) for r in un.collect()}
    b = {r["vec_id"]: list(r["pq_code"]) for r in arr.collect()}
    assert a == b
    # every code in range
    assert all(0 <= c < 8 for cs in a.values() for c in cs)


def test_encode_expr_gemm_parity(emb, model):
    e = pq_encode(emb, model, dist_round_decimals=6, packed=True,
                  strategy="expr")
    g = pq_encode(emb, model, dist_round_decimals=6, packed=True,
                  strategy="gemm")
    assert (
        e.select("vec_id", "pq_code").orderBy("vec_id").collect()
        == g.select("vec_id", "pq_code").orderBy("vec_id").collect()
    )


def test_adc_distance_bounded_by_quantization_error(spark, emb, model):
    """ADC dist must equal the exact sq-L2 between the query and the
    RECONSTRUCTED (codebook) vector — check on a few rows by hand."""
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    rows = {r["vec_id"]: list(r["pq_code"])
            for r in coded.filter(F.col("vec_id") < 20).collect()}
    got = {r["vec_id"]: r["adc_dist"]
           for r in adc_scores(coded, model, q)
           .filter(F.col("vec_id") < 20).collect()}
    d = model.sub_dim
    for vid, codes in rows.items():
        want = 0.0
        for s, c in enumerate(codes):
            qs = q[s * d: (s + 1) * d]
            cb = dict(model.codebooks[s])[c]
            want += round(sum((a - b) * (a - b) for a, b in zip(qs, cb)), 6)
        assert abs(got[vid] - round(want, 6)) < 1e-9


def _exact_top10(emb, q):
    lit = F.array(*[F.lit(float(v)) for v in q])
    return {
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("embedding").cast("array<double>"), lit,
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v,
            ).alias("d"),
        ).orderBy(F.asc("d"), F.asc("vec_id")).limit(10).collect()
    }


def test_adc_recall_vs_exact_l2(spark, emb):
    """PQ is lossy, and the near-isotropic testdata is its worst case
    (distance concentration: the exact top-10 sit at ~1.4 vs a 2.0
    median, so quantization noise reorders aggressively — same caveat
    as the IVF recall curve, SCALING.md). Raw ADC top-10 must still
    beat the 10/N ≈ 0.02 random baseline by an order of magnitude and
    keep the self-match; the rerank test below is the production
    contract."""
    model = train_pq(emb, m=8, k=16, iters=2, dist_round_decimals=6,
                     quantize_decimals=6)
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    exact = _exact_top10(emb, q)
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    approx = {r["vec_id"] for r in adc_topk(coded, model, q, 10).collect()}
    assert 0 in approx  # self should survive quantization
    assert len(exact & approx) / 10 >= 0.2


def test_adc_rerank_recovers_exact_order(spark, emb):
    """ADC shortlist + exact re-rank (adc_topk_rerank): with a 10×
    shortlist, recall@10 against the exact L2 top-10 is high even on
    worst-case isotropic data, and the surviving ranks are EXACT (the
    rerank stage orders by true distance)."""
    from weaviate_txtai_spark.operators.pq import adc_topk_rerank

    model = train_pq(emb, m=8, k=64, iters=2, dist_round_decimals=6,
                     quantize_decimals=6)
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    exact = _exact_top10(emb, q)
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    got = adc_topk_rerank(coded, emb, model, q, 10, shortlist=10).collect()
    approx = {r["vec_id"] for r in got}
    assert len(exact & approx) / 10 >= 0.7
    # rerank output is ordered by true distance
    dists = [r["dist"] for r in got]
    assert dists == sorted(dists)
    assert got[0]["vec_id"] == 0 and got[0]["dist"] == 0.0


def test_iters0_codebook_is_seed_slices(emb):
    m0 = train_pq(emb, m=4, k=4, iters=0)
    seeds = (
        emb.select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("v")).orderBy("vec_id").limit(4).collect()
    )
    d = m0.sub_dim
    for s in range(4):
        for code, vec in m0.codebooks[s]:
            want = list(seeds[code]["v"])[s * d: (s + 1) * d]
            assert vec == pytest.approx(want)


def test_guards(emb, model):
    with pytest.raises(ValueError):
        train_pq(emb, m=7, k=4, iters=0)  # 64 % 7 != 0
    with pytest.raises(ValueError):
        pq_encode(emb, PQModel(m=32, k=256, dim=64,
                               codebooks=[[(0, [0.0] * 2)]] * 32),
                  packed=True)


def test_encode_fused_matches_expr_and_gemm(emb, model):
    """The default fused kernel must produce the same codes as both
    chained-assign_clusters strategies under distance rounding."""
    f = pq_encode(emb, model, dist_round_decimals=6, packed=True)
    e = pq_encode(emb, model, dist_round_decimals=6, packed=True,
                  strategy="expr")
    assert (
        f.select("vec_id", "pq_code").orderBy("vec_id").collect()
        == e.select("vec_id", "pq_code").orderBy("vec_id").collect()
    )


def test_adc_topk_gemm_expr_parity(emb, model):
    """The gather kernel accumulates the same rounded LUT entries in
    the same subspace order as the interpreted aggregate fold — the
    two strategies must agree bitwise on (id, dist, rank)."""
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    q = list(emb.filter(F.col("vec_id") == 3).head()["embedding"])
    e = adc_topk(coded, model, q, 25, strategy="expr").collect()
    g = adc_topk(coded, model, q, 25, strategy="gemm").collect()
    assert [tuple(r) for r in e] == [tuple(r) for r in g]

    # A NaN LUT entry gives one row a NaN distance. In a batch of <= n
    # rows it must neither vanish nor take its batch-mates with it: the
    # kernel ranks it last, as the expr fold does, on any partitioning.
    spark = emb.sparkSession
    nan_model = PQModel(m=1, k=4, dim=3, codebooks=[[
        (0, [float("nan"), 1.0, 0.0]), (1, [1.0, 0.0, 0.0]),
        (2, [0.6, 0.8, 0.0]), (3, [0.0, 1.0, 0.0]),
    ]])
    nan_codes = spark.createDataFrame(
        [(i, [i]) for i in range(4)], "vec_id long, pq_code array<int>"
    )
    runs = {}
    for strategy, parts in (("expr", 1), ("gemm", 1), ("gemm", 4)):
        rows = adc_topk(
            nan_codes.repartition(parts), nan_model, [1.0, 0.0, 0.0], 5,
            strategy=strategy,
        ).orderBy("rank").collect()
        runs[strategy, parts] = [(r["vec_id"], r["rank"]) for r in rows]
        assert math.isnan(rows[-1]["adc_dist"]), (strategy, parts)
    assert runs["expr", 1] == [(1, 1), (2, 2), (3, 3), (0, 4)]
    assert runs["gemm", 1] == runs["expr", 1]
    assert runs["gemm", 4] == runs["expr", 1]


def test_adc_topk_gemm_handles_n_past_corpus(emb, model):
    coded = pq_encode(emb, model, dist_round_decimals=6, packed=False)
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    total = emb.count()
    out = adc_topk(coded, model, q, total + 10).collect()
    assert len(out) == total
    assert [r["rank"] for r in out] == list(range(1, total + 1))
