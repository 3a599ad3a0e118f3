"""IVF ANN + similarity join: recall vs brute force, plan shape."""

from pyspark.sql import functions as F

from weaviate_txtai_spark.operators.ann import IVFIndex
from weaviate_txtai_spark.operators.simjoin import threshold_join, topk_join
from weaviate_txtai_spark.operators.topk import knn_topk
from weaviate_txtai_spark.sources.tables import load_table


def _queries(emb, n=10):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries(emb, 10)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_topk(emb, qdf, 5, vector_col="embedding", id_col="vec_id").collect()
    }
    idx = IVFIndex.build(emb, nlist=16)
    approx = {
        (r["query_id"], r["vec_id"])
        for r in idx.search(qdf, 5, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall} too low at nprobe=4/nlist=16"
    # self-match always found: query vec lives in its own top-probed cell
    assert all((q, q) in approx for q in range(10))


def test_ivf_nprobe_full_equals_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries(emb, 5)
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_topk(emb, qdf, 3, vector_col="embedding", id_col="vec_id").collect()
    }
    idx = IVFIndex.build(emb, nlist=8)
    full = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in idx.search(qdf, 3, nprobe=8).collect()
    }
    assert full == exact  # probing every cell == brute force


def test_ivf_probe_strategy_parity(spark, sf_dir):
    """Default map-only GEMM probe == crossJoin+window expr twin in
    production mode (nprobe < nlist), on both the broadcast and the
    cogrouped join paths; bogus strategy raises."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries(emb, 12)
    idx = IVFIndex.build(emb, nlist=8)
    for bq in (True, False):
        gemm = sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in idx.search(
                qdf, 4, nprobe=3, broadcast_queries=bq,
                probe_strategy="gemm",
            ).collect()
        )
        expr = sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in idx.search(
                qdf, 4, nprobe=3, broadcast_queries=bq,
                probe_strategy="expr",
            ).collect()
        )
        assert gemm == expr, f"broadcast_queries={bq}"
    with pytest.raises(ValueError, match="probe_strategy"):
        idx.search(qdf, 4, probe_strategy="nope")

    # A NaN-scored doc in a (cell, salt) group of <= k rows: the
    # cogrouped GEMM must keep it and its group-mates, ranked first as
    # the broadcast path's cosine expression ranks it, for any
    # partitioning and salting.
    nan_docs = spark.createDataFrame(
        [(0, [float("nan"), 1.0, 0.0], 0), (1, [1.0, 0.0, 0.0], 0),
         (2, [0.6, 0.8, 0.0], 0), (3, [0.0, 1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, cell int",
    )
    nq = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id long, query_vector array<double>"
    )
    cells = [(0, [1.0, 0.0, 0.0])]
    want = [0, 1, 2, 3]
    for parts in (1, 4):
        nidx = IVFIndex(nan_docs.repartition(parts), cells, "vec_id", "embedding")
        for bq, salt in ((True, None), (False, 1), (False, 4)):
            got = [
                r["vec_id"]
                for r in nidx.search(
                    nq, 5, nprobe=1, broadcast_queries=bq, cell_salt=salt
                ).orderBy("rank").collect()
            ]
            assert got == want, (parts, bq, salt)


def test_topk_join_matches_knn(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 7)
    a = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in topk_join(left, emb, 4, right_id="vec_id", right_vec="embedding").collect()
    }
    b = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_topk(emb, left, 4, vector_col="embedding", id_col="vec_id").collect()
    }
    assert a == b


def test_threshold_join_self_pairs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 5)
    res = threshold_join(left, emb, 0.999, right_id="vec_id", right_vec="embedding")
    pairs = {(r["query_id"], r["vec_id"]) for r in res.collect()}
    assert {(q, q) for q in range(5)} <= pairs  # self-cosine == 1


def test_threshold_join_bucketed_exactness_mode_equals_broadcast(spark, sf_dir):
    """Forced non-broadcast path with num_planes=0 (single bucket = the
    full cross product distributed through one group) must reproduce the
    broadcast-nested-loop result exactly (VERDICT r3 item 2 done-gate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 20)
    kw = dict(right_id="vec_id", right_vec="embedding")
    bcast = sorted(
        (r["query_id"], r["vec_id"], r["score"])
        for r in threshold_join(left, emb, 0.3, **kw).collect()
    )
    bucketed = sorted(
        (r["query_id"], r["vec_id"], r["score"])
        for r in threshold_join(
            left, emb, 0.3, strategy="bucketed",
            num_planes=0, num_tables=1, **kw,
        ).collect()
    )
    assert bucketed == bcast
    assert len(bcast) > 0


def test_threshold_join_bucketed_lsh_recall_and_precision(spark, sf_dir):
    """Production LSH mode: precision exact (every emitted pair really
    clears the threshold — a subset of the exact result) and recall high
    at a near-dup threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 50)
    kw = dict(right_id="vec_id", right_vec="embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in threshold_join(left, emb, 0.9, **kw).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in threshold_join(
            left, emb, 0.9, strategy="bucketed",
            num_planes=8, num_tables=8, **kw,
        ).collect()
    }
    assert approx <= exact  # precision: verify stage is exact cosine
    assert len(exact) > 0
    assert len(approx & exact) / len(exact) >= 0.95


def test_threshold_join_auto_probe_picks_bucketed(spark, sf_dir):
    """The auto strategy must route a left side above the broadcast cap
    through the bucketed path (no unbounded broadcast), and still agree
    with the broadcast result in exactness mode parameters."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 30)
    kw = dict(right_id="vec_id", right_vec="embedding")
    auto = sorted(
        (r["query_id"], r["vec_id"], r["score"])
        for r in threshold_join(
            left, emb, 0.35, broadcast_max_left=10,
            num_planes=0, num_tables=1, **kw,
        ).collect()
    )
    bcast = sorted(
        (r["query_id"], r["vec_id"], r["score"])
        for r in threshold_join(
            left, emb, 0.35, strategy="broadcast", **kw
        ).collect()
    )
    assert auto == bcast


def test_threshold_join_string_ids_bucketed(spark, sf_dir):
    """Mixed id types survive the nullable union + pandas round-trip."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 5).withColumn(
        "query_id", F.concat(F.lit("q"), F.col("query_id"))
    )
    res = threshold_join(
        left, emb, 0.999, strategy="bucketed", num_planes=0,
        num_tables=1, right_id="vec_id", right_vec="embedding",
    )
    pairs = {(r["query_id"], r["vec_id"]) for r in res.collect()}
    assert {(f"q{q}", q) for q in range(5)} <= pairs


def test_ivf_save_load_partition_pruning(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries(emb, 5)
    idx = IVFIndex.build(emb, nlist=8)
    before = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in idx.search(qdf, 3, nprobe=2).collect()
    )
    path = str(tmp_path / "ivf")
    idx.save(path)
    loaded = IVFIndex.load(spark, path)
    after = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in loaded.search(qdf, 3, nprobe=2).collect()
    )
    assert before == after
    # the saved layout is partitioned by cell and the probed search scans
    # with a partition filter on cell (static pruning, not a full listing)
    import os
    assert any(d.startswith("cell=") for d in os.listdir(os.path.join(path, "cells")))
    plan = loaded.search(qdf, 3, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan


def test_topk_join_ivf_full_probe_equals_exact(spark, sf_dir):
    """IVF-routed similarity join with nprobe == nlist must equal the
    exact join — the co-partitioned cell equi-join loses nothing."""
    from weaviate_txtai_spark.operators.simjoin import topk_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 8)
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in topk_join(
            left, emb, 3, right_id="vec_id", right_vec="embedding"
        ).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in topk_join_ivf(
            left, emb, 3, right_id="vec_id", right_vec="embedding",
            nlist=8, nprobe=8,
        ).collect()
    }
    assert ivf == exact


def test_topk_join_ivf_recall(spark, sf_dir):
    from weaviate_txtai_spark.operators.simjoin import topk_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 20)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in topk_join(
            left, emb, 5, right_id="vec_id", right_vec="embedding"
        ).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in topk_join_ivf(
            left, emb, 5, right_id="vec_id", right_vec="embedding",
            nlist=16, nprobe=4,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF join recall {recall} too low"
    # every query's own vector is found (it lives in the top-probed cell)
    assert all((q, q) in approx for q in range(20))


def test_tune_nprobe_meets_target_with_minimal_probes(spark, sf_dir):
    from weaviate_txtai_spark.operators.ann import IVFIndex, tune_nprobe

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFIndex.build(emb, nlist=8)
    queries = _queries(emb, n=8)
    nprobe, curve = tune_nprobe(idx, queries, k=5, recall_target=0.9)
    assert curve[nprobe] >= 0.9
    # minimality: every smaller measured nprobe missed the target
    for p, r in curve.items():
        if p < nprobe:
            assert r < 0.9
    # curve is monotone non-decreasing in probes (more cells, more recall)
    probes = sorted(curve)
    for a, b in zip(probes, probes[1:]):
        assert curve[b] >= curve[a] - 1e-9
    # full probe == exact -> recall 1.0 at nprobe=nlist if reached
    if 8 in curve:
        assert curve[8] == 1.0


def test_ivf_filtered_search_pushes_predicate(spark, sf_dir, tmp_path):
    """where= composes with cell pruning: results equal filtered brute
    force at full probe, never include filtered-out rows, still return k
    (pre-filter, not post-filter), and the saved-index plan carries the
    predicate as PushedFilters NEXT TO the cell PartitionFilters."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries(emb, 5)
    idx = IVFIndex.build(emb, nlist=8)
    got = idx.search(qdf, 3, nprobe=8, where="label >= 5").collect()
    assert got and all(True for _ in got)
    labels = {
        r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()
    }
    assert all(labels[r["vec_id"]] >= 5 for r in got)
    # pre-filtering keeps full k per query (post-filter would come short)
    from collections import Counter

    per_q = Counter(r["query_id"] for r in got)
    assert all(v == 3 for v in per_q.values())
    # equals filtered brute force at nprobe == nlist
    brute_rows = knn_topk(
        emb.filter(F.col("label") >= 5)
        .withColumnRenamed("vec_id", "docid")
        .withColumnRenamed("embedding", "vector"),
        qdf,
        3,
    ).collect()
    brute = {(r["query_id"], r["rank"]): r["docid"] for r in brute_rows}
    assert {(r["query_id"], r["rank"]): r["vec_id"] for r in got} == brute
    # saved index: predicate reaches the scan alongside partition pruning
    path = str(tmp_path / "ivf_f")
    idx.save(path)
    loaded = IVFIndex.load(spark, path)
    plan = (
        loaded.search(qdf, 3, nprobe=2, where="label >= 5")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [cell" in plan
    assert "PushedFilters:" in plan and "GreaterThanOrEqual(label,5)" in plan


def test_ivf_append_routes_like_rebuild_assignment(spark, sf_dir, tmp_path):
    """Appended vectors are searchable, land in the cell the build rule
    would pick, and a physical append touches only new files."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 80)
    new = emb.filter(F.col("vec_id") >= 80)
    idx = IVFIndex.build(old, nlist=4)
    merged = idx.append(new)
    assert merged.assigned.count() == emb.count()
    # a new vector must be findable as its own nearest neighbor at full probe
    probe_new = new.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    got = merged.search(probe_new, 1, nprobe=4).collect()
    assert got and all(r["query_id"] == r["vec_id"] for r in got)
    # physical append: cell dirs unchanged in set, old files untouched
    path = str(tmp_path / "ivf_app")
    idx.save(path)
    cells_dir = os.path.join(path, "cells")
    before = {
        os.path.join(d, f): os.path.getmtime(os.path.join(cells_dir, d, f))
        for d in os.listdir(cells_dir)
        if d.startswith("cell=")
        for f in os.listdir(os.path.join(cells_dir, d))
    }
    idx.append_to_saved(path, new)
    loaded = IVFIndex.load(spark, path)
    assert loaded.assigned.count() == emb.count()
    after_files = {
        os.path.join(d, f)
        for d in os.listdir(cells_dir)
        if d.startswith("cell=")
        for f in os.listdir(os.path.join(cells_dir, d))
    }
    for rel, mtime in before.items():
        assert rel in after_files
        assert os.path.getmtime(os.path.join(cells_dir, rel)) == mtime
    # search over the loaded appended index equals the in-memory merge
    a = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in merged.search(probe_new, 3, nprobe=4).collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in loaded.search(probe_new, 3, nprobe=4).collect()
    )
    assert a == b


def test_ivf_append_to_saved_rejects_schema_drift(spark, sf_dir, tmp_path):
    import pytest as _pytest

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFIndex.build(emb.filter(F.col("vec_id") < 50), nlist=2)
    path = str(tmp_path / "ivf_drift")
    idx.save(path)
    new = emb.filter(F.col("vec_id") >= 50).limit(5)
    with _pytest.raises(ValueError, match="lack index columns"):
        idx.append_to_saved(path, new.drop("label"))
    with _pytest.raises(ValueError, match="types differ"):
        idx.append_to_saved(
            path, new.withColumn("vec_id", F.col("vec_id").cast("int"))
        )


def test_ivf_cogroup_join_path_covers_all_queries(spark, sf_dir):
    """Regression for the cogroup key-type bug: probe-side cell was
    bigint vs the corpus' int, so the separately-repartitioned sides
    hashed the same cell to different partitions and the cogrouped GEMM
    silently kept only ~nprobe/nlist of the queries. Every query must
    produce rows (its own cell is always probed, so >= the self-match),
    up to k each."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    left = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    idx = IVFIndex.build(emb, nlist=8)
    res = idx.search(left, 3, nprobe=2, broadcast_queries=False)
    per = res.groupBy("query_id").count().collect()
    assert len(per) == n
    assert all(1 <= r["count"] <= 3 for r in per)


def test_threshold_join_auto_sized_recall(spark, sf_dir):
    """Auto-sized planes/tables (both None): the data-driven sizing
    must deliver the modeled >=0.99 recall vs the exact result at a
    near-dup threshold, with precision still exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 50)
    kw = dict(right_id="vec_id", right_vec="embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in threshold_join(left, emb, 0.9, strategy="broadcast", **kw).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in threshold_join(left, emb, 0.9, strategy="bucketed", **kw).collect()
    }
    assert approx <= exact
    assert len(exact) > 0
    assert len(approx & exact) / len(exact) >= 0.95


def test_threshold_join_auto_downgrade_warns(spark, sf_dir):
    """The silent exact->approximate switch (ADVICE r4) now warns,
    naming the chosen parameters and modeled recall."""
    import warnings

    emb = load_table(spark, sf_dir, "embeddings")
    left = _queries(emb, 30)
    kw = dict(right_id="vec_id", right_vec="embedding")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        threshold_join(left, emb, 0.9, broadcast_max_left=10, **kw)
        msgs = [str(w.message) for w in caught
                if issubclass(w.category, UserWarning)]
    assert any("auto-switching" in m and "recall" in m for m in msgs)
    # explicit bucketed: no warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        threshold_join(left, emb, 0.9, strategy="bucketed", **kw)
        msgs = [str(w.message) for w in caught
                if issubclass(w.category, UserWarning)
                and "auto-switching" in str(w.message)]
    assert not msgs


def test_lsh_sizing_model(spark):
    """planes grow with N (bounded bucket population), tables follow the
    recall model, recall stays >= target at the exact threshold."""
    from weaviate_txtai_spark.operators.simjoin import _lsh_sizing

    p1, _, _ = _lsh_sizing(0.9, None, None, n_total=10_000,
                           target_bucket_rows=4096, target_recall=0.99)
    p2, _, _ = _lsh_sizing(0.9, None, None, n_total=100_000_000,
                           target_bucket_rows=4096, target_recall=0.99)
    assert p2 > p1
    for thr in (0.95, 0.8, 0.5):
        planes, tables, recall = _lsh_sizing(
            thr, None, None, n_total=1_000_000,
            target_bucket_rows=4096, target_recall=0.99)
        assert recall >= 0.99
        assert 1 <= tables <= 64
    # explicit params pass through untouched
    assert _lsh_sizing(0.9, 0, 1, n_total=None,
                       target_bucket_rows=4096, target_recall=0.99)[:2] == (0, 1)


def test_lsh_sizing_keeps_user_planes_and_warns(spark):
    """A user-supplied num_planes is NEVER walked down when the 64-table
    cap binds (ADVICE r5: silently loosening it broke the caller's
    bucket-size bound) — tables cap at 64, planes stay, and a warning
    names the achieved recall. Auto-sized planes still walk down."""
    import warnings

    from weaviate_txtai_spark.operators.simjoin import _lsh_sizing

    # threshold 0.5, 20 planes: collision ~ (2/3)^20 ≈ 3e-4 → needs
    # thousands of tables for 0.99 recall → the cap binds
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        planes, tables, recall = _lsh_sizing(
            0.5, 20, None, n_total=None,
            target_bucket_rows=4096, target_recall=0.99,
        )
        msgs = [str(w.message) for w in caught
                if issubclass(w.category, UserWarning)]
    assert planes == 20          # user's parameter honored
    assert tables == 64          # capped, not exploded
    assert recall < 0.99         # honest about the shortfall
    assert any("keeping your num_planes" in m for m in msgs)
    # same scenario with AUTO planes: the walk-down happens, no warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        p_auto, t_auto, r_auto = _lsh_sizing(
            0.5, None, None, n_total=100_000_000_000,
            target_bucket_rows=4096, target_recall=0.99,
        )
        auto_msgs = [str(w.message) for w in caught
                     if issubclass(w.category, UserWarning)]
    assert r_auto >= 0.99
    assert not any("keeping your num_planes" in m for m in auto_msgs)
