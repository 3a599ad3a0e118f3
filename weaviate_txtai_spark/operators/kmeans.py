"""Deterministic distributed k-means (Lloyd's) and SemDeDup-style
semantic dedup over an embedding column.

Why a second k-means next to MLlib's (``operators/ann.py`` uses MLlib
KMeans for IVF cell training): MLlib's init is randomized and its
iteration order is JVM-internal, so its output can't be pinned against
an external oracle and isn't reproducible across cluster layouts. This
module is Lloyd's algorithm as plain DataFrame algebra — deterministic
seeding, deterministic tie-breaks, optional centroid quantization — so
the SAME result appears on any partitioning and can be hash-checked
against a DuckDB SQL transcription of the algorithm. Use it when the
clustering itself is a product (semantic dedup, corpus curation
manifests) rather than an internal accelerator; use MLlib's when you
only need good-enough cells fast.

Scale shape (per iteration, corpus of N rows × dim floats):
- assignment is MAP-ONLY: centroids travel to the data (k×dim doubles
  as a literal expression or a task-closure numpy array), each row
  computes its argmin in place — no join, no shuffle;
- the update is ONE partial-aggregated shuffle of k×dim keys:
  posexplode to (cluster, pos, val) feeds a hash aggregate whose
  map-side combine collapses each partition to ≤ k×dim rows before the
  exchange, so shuffle volume is partitions × k × dim tiny rows no
  matter how large N is;
- the driver holds only k×dim doubles between iterations (same bounded
  collect contract as ``ann.IVFIndex``'s centroid list).

Lloyd's is inherently synchronous-iterative (centroids at step t+1
need all assignments at step t), so the per-iteration barrier is the
algorithm, not an implementation artifact — the same structure every
distributed k-means (MLlib, Mahout, dask-ml) uses.

Reference parity: the reference delegates clustering entirely to
Weaviate's server (SURVEY §4); this module is part of the north-star
training-data-pipeline surface (SemDeDup: Abbas et al. 2023,
arXiv:2303.09540 — cluster, then near-dedup within clusters so the
quadratic is bounded by cluster size, never corpus size).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from weaviate_txtai_spark.functions.vector import cosine_sim
from weaviate_txtai_spark.operators.topk import decode_vectors, rank_top, unit_rows

Centroids = Sequence[tuple[int, Sequence[float]]]

# above this many literal doubles in the assignment expression, switch
# to the numpy-GEMM path: the expression plan grows O(k·dim) nodes and
# codegen compilation time starts to dominate tiny-batch latency
_EXPR_LITERAL_BUDGET = 8192


def _vec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _sq_dist(vec: Column, cvec: Sequence[float], round_decimals: Optional[int]) -> Column:
    """Squared L2 as an IN-ORDER fold over positions — the exact shape a
    SQL oracle writes (`list_sum(list_transform(list_zip(...)))`), so
    both engines add the same doubles in the same order and the rounded
    values agree."""
    lit = F.array(*[F.lit(float(v)) for v in cvec])
    d = F.aggregate(
        F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.round(d, round_decimals) if round_decimals is not None else d


def assign_clusters(
    df: DataFrame,
    centroids: Centroids,
    *,
    vector_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_round_decimals: Optional[int] = None,
    strategy: str = "auto",
) -> DataFrame:
    """Add ``cluster_col``: the id of the nearest centroid (squared L2,
    ties to the lowest centroid id). Map-only — no shuffle, no join.

    strategy:
      - 'expr': one codegen'd expression per centroid; argmin via
        ``array_min`` over (dist, cid) structs (lexicographic struct
        order gives the lowest-cid tie-break for free). Best for small
        k×dim; the path the SQL oracle mirrors term-for-term.
      - 'gemm': Arrow-batched numpy — dists via the |x|²−2x·c+|c|²
        expansion computed as one matmul per batch. Best for large
        k×dim (the plan stays O(1) regardless of k). Pinned equal to
        'expr' in tests/test_kmeans.py.
      - 'auto': 'expr' while k·dim ≤ 8192 literals, else 'gemm'.

    ``dist_round_decimals`` rounds each distance before the argmin —
    set it (gates use 6) when the result must be bit-identical to an
    engine that sums doubles in a different partial order.

    Exact expr/gemm parity is guaranteed ONLY with
    ``dist_round_decimals`` set (ADVICE r3): unrounded, 'expr' ranks
    the in-order (a−b)² fold while 'gemm' ranks the |c|²−2x·c
    expansion — mathematically equal, float-different at ~1e-13, so a
    near-tied row can assign differently across the 'auto' boundary.
    With rounding, the gemm path adds |x|² back and rounds the same
    true squared distance, restoring identical assignments (pinned in
    tests/test_kmeans.py). Parity-critical callers (all gates) must
    therefore pass dist_round_decimals.
    """
    cents = sorted((int(cid), [float(v) for v in c]) for cid, c in centroids)
    if not cents:
        raise ValueError("assign_clusters: empty centroid list")
    dims = {len(c) for _, c in cents}
    if len(dims) != 1:
        raise ValueError(f"assign_clusters: centroid dims differ: {sorted(dims)}")
    k, dim = len(cents), dims.pop()
    if strategy == "auto":
        strategy = "expr" if k * dim <= _EXPR_LITERAL_BUDGET else "gemm"

    if strategy == "expr":
        vec = _vec(vector_col)
        structs = F.array(
            *[
                F.struct(
                    _sq_dist(vec, c, dist_round_decimals).alias("d"),
                    F.lit(cid).alias("c"),
                )
                for cid, c in cents
            ]
        )
        # NULL vectors / wrong-dim vectors make every distance NULL, and
        # struct(NULL, cid) sorts BELOW real distances in array_min — the
        # row would silently land in the lowest cluster id. Fail loudly
        # instead (one size comparison per row — noise next to the k
        # distance folds); the gemm path raises on the same input inside
        # numpy, so both strategies agree: garbage in → error out.
        valid = vec.isNotNull() & (F.size(vec) == F.lit(dim))
        guarded = F.when(valid, F.array_min(structs)["c"]).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"assign_clusters: NULL or non-{dim}-dim vector in "
                        f"'{vector_col}' (size="
                    ),
                    F.coalesce(F.size(vec).cast("string"), F.lit("NULL")),
                    F.lit(")"),
                )
            ).cast("int")
        )
        return df.withColumn(cluster_col, guarded)

    if strategy != "gemm":
        raise ValueError(f"assign_clusters: unknown strategy {strategy!r}")

    import numpy as np

    cmat = np.asarray([c for _, c in cents], dtype=np.float64)  # (k, dim)
    cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    c_sq = (cmat * cmat).sum(axis=1)  # (k,)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(cluster_col, IntegerType(), False)]
    )
    in_cols = [f.name for f in df.schema.fields]

    def assign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            bad = pdf[vector_col].map(
                lambda v: v is None or len(v) != dim
            )
            if bad.any():
                # mirror the expr path's loud failure (numpy would raise
                # an opaque 'inhomogeneous shape' or produce a ragged
                # object array on the same input)
                raise ValueError(
                    f"assign_clusters: NULL or non-{dim}-dim vector in "
                    f"'{vector_col}' ({int(bad.sum())} rows in batch)"
                )
            mat = decode_vectors(pdf[vector_col])  # (n, dim)
            # |x-c|^2 = |x|^2 - 2 x·c + |c|^2; |x|^2 is constant per row so
            # argmin needs only the last two terms — one GEMM per batch
            scores = c_sq[None, :] - 2.0 * (mat @ cmat.T)  # (n, k)
            if dist_round_decimals is not None:
                # ties must break like the expr path: round the TRUE
                # squared distance (add |x|^2 back) before the argmin
                x_sq = (mat * mat).sum(axis=1, keepdims=True)
                scores = np.round(scores + x_sq, dist_round_decimals)
            pdf = pdf[in_cols].copy()
            # np.argmin returns the FIRST minimum; cids is sorted, so the
            # tie-break matches the struct-min (lowest centroid id)
            pdf[cluster_col] = cids[np.argmin(scores, axis=1)].astype("int32")
            yield pdf

    return df.mapInPandas(assign_batches, schema=out_schema)


@dataclass
class KMeansModel:
    """Output of :func:`lloyd`: final centroids, the final (closing)
    assignment of the training frame, and per-cluster sizes under it
    (``sizes`` is computed lazily on first access — most consumers use
    only ``assigned``/``centroids``, and the eager size aggregate was a
    barrier job every lloyd() call paid regardless; r13 opt)."""

    centroids: list[tuple[int, list[float]]]
    assigned: DataFrame
    iters_run: int
    _sizes: "dict[int, int] | None" = None

    @property
    def sizes(self) -> "dict[int, int]":
        if self._sizes is None:
            self._sizes = {
                r["cluster"]: r["n"]
                for r in self.assigned.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        return self._sizes

    def assign(self, df: DataFrame, **kw) -> DataFrame:
        return assign_clusters(df, self.centroids, **kw)


def lloyd(
    df: DataFrame,
    *,
    k: Optional[int] = None,
    iters: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed_ids: Optional[Sequence[int]] = None,
    init_centroids: Optional[Centroids] = None,
    quantize_decimals: Optional[int] = None,
    dist_round_decimals: Optional[int] = None,
    strategy: str = "auto",
) -> KMeansModel:
    """Lloyd's k-means with deterministic seeding.

    Seeding, in precedence order: ``init_centroids`` (explicit vectors),
    ``seed_ids`` (vectors of those ids), else the ``k`` smallest ids —
    a TakeOrdered collect of k rows, deterministic on any partitioning
    (never ``rand()``: a nondeterministic seed re-evaluated after a
    task retry silently forks the clustering — the same hazard class as
    the r2 salted-join fix). For quality-sensitive production seeding,
    pass k-means++-style picks via ``init_centroids``.

    Each iteration: map-only assignment, then ONE k×dim-key partial-agg
    shuffle for the means (see module docstring). Empty clusters keep
    their previous centroid (deterministic; documented over
    re-seeding-from-farthest, which needs a second pass). After
    ``iters`` updates, a closing assignment against the FINAL centroids
    populates ``assigned``/``sizes`` — so ``assigned`` is always
    consistent with ``centroids``.

    ``quantize_decimals`` rounds each centroid component after every
    mean update. Gates set 6: cross-engine double sums differ at
    ~1e-13, and quantizing both engines' centroids to 6 dp before the
    next distance keeps iteration trajectories identical.
    """
    if init_centroids is not None:
        cents = sorted((int(cid), [float(v) for v in c]) for cid, c in init_centroids)
    else:
        if seed_ids is not None:
            seed_rows = df.filter(F.col(id_col).isin(list(seed_ids))).select(
                id_col, vector_col
            ).collect()
            missing = set(seed_ids) - {r[0] for r in seed_rows}
            if missing:
                raise ValueError(f"lloyd: seed ids not found: {sorted(missing)}")
        else:
            if k is None:
                raise ValueError("lloyd: pass k, seed_ids, or init_centroids")
            seed_rows = (
                df.select(id_col, vector_col).orderBy(F.asc(id_col)).limit(k).collect()
            )
            if len(seed_rows) < k:
                raise ValueError(f"lloyd: k={k} but only {len(seed_rows)} rows")
        # seed ids are re-labelled 0..k-1 in id order so cluster ids are
        # dense (stable output contract regardless of which ids seeded)
        cents = [
            (i, [float(v) for v in r[1]])
            for i, r in enumerate(sorted(seed_rows, key=lambda r: r[0]))
        ]
    if k is not None and len(cents) != k:
        raise ValueError(f"lloyd: k={k} but {len(cents)} seed centroids")
    dim = len(cents[0][1])

    for _ in range(iters):
        assigned = assign_clusters(
            df,
            cents,
            vector_col=vector_col,
            dist_round_decimals=dist_round_decimals,
            strategy=strategy,
        )
        stats = (
            assigned.select(
                "cluster", F.posexplode(_vec(vector_col)).alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )  # ≤ k×dim rows — bounded, like ann.py's centroid collect
        by_cluster: dict[int, list[float]] = {}
        for r in stats:
            vec = by_cluster.setdefault(r["cluster"], [0.0] * dim)
            vec[r["pos"]] = r["s"] / r["n"]
        new_cents = []
        for cid, prev in cents:
            if cid in by_cluster:
                c = by_cluster[cid]
                if quantize_decimals is not None:
                    c = [round(v, quantize_decimals) for v in c]
                new_cents.append((cid, c))
            else:  # empty cluster: keep previous centroid
                new_cents.append((cid, prev))
        cents = new_cents

    final = assign_clusters(
        df,
        cents,
        vector_col=vector_col,
        dist_round_decimals=dist_round_decimals,
        strategy=strategy,
    )
    return KMeansModel(
        centroids=cents, assigned=final, iters_run=iters
    )


def inertia(assigned: DataFrame, centroids: Centroids, *, vector_col: str = "embedding") -> float:
    """Sum of squared distances to the assigned centroid — the Lloyd's
    objective; one map + one scalar agg. Monotone non-increasing over
    iterations (pinned in tests/test_kmeans.py).

    Raises if any assigned cluster id has no centroid in ``centroids``
    (stale/subset centroids from a different run): the unmatched rows
    would otherwise fall out of the sum as NULLs and report a
    spuriously LOW objective — the silent failure mode that defeats a
    monotonicity check."""
    vec = _vec(vector_col)
    cents = sorted((int(i), list(c)) for i, c in centroids)
    cases = None
    for cid, c in cents:
        d = _sq_dist(vec, c, None)
        cases = F.when(F.col("cluster") == cid, d) if cases is None else cases.when(
            F.col("cluster") == cid, d
        )
    row = assigned.agg(
        F.sum(cases).alias("j"),
        F.sum(
            F.when(
                ~F.col("cluster").isin([cid for cid, _ in cents]), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("unmatched"),
    ).collect()[0]
    if row["unmatched"]:
        raise ValueError(
            f"inertia: {row['unmatched']} rows assigned to cluster ids "
            "absent from the centroid list — assignment and centroids "
            "are from different models"
        )
    return float(row["j"] or 0.0)


def semantic_dedup_pairs(
    df: DataFrame,
    *,
    k: int,
    threshold: float,
    iters: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed_ids: Optional[Sequence[int]] = None,
    quantize_decimals: Optional[int] = None,
    dist_round_decimals: Optional[int] = None,
    score_decimals: Optional[int] = 6,
    strategy: str = "auto",
    cluster_vector_col: Optional[str] = None,
    pair_strategy: str = "gemm",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus, then find
    cosine near-duplicates ONLY within each cluster — the quadratic is
    bounded by the largest cluster, never the corpus.

    ``cluster_vector_col``: cluster on THIS column but verify cosine on
    ``vector_col`` — the paper's full recipe clusters cheap REDUCED
    vectors (``operators.pca.pca_transform``) while similarity is
    judged on the full embeddings. Near-identical full vectors have
    near-identical projections, so true dup pairs still co-locate;
    reduced-space distance is never used as evidence of similarity
    (on near-isotropic data reduced cosine is almost uncorrelated with
    full cosine — measured here: PCA-8 verify recall 0.57 with 1000×
    the false positives, which is why verification stays full-space).

    Plan: deterministic Lloyd's (map-only assign per iteration), then a
    self-equi-join on the cluster id with ``id < id`` and the cosine
    threshold. The join shuffles each side once on ``cluster``; within
    a cluster the comparison is all-pairs BY DESIGN (that is the
    SemDeDup contract — choose k ≈ √N or larger so |cluster|² stays
    bounded; a hot cluster is an input-distribution fact the cap
    ``k`` controls, not a salting bug, because every pair inside it is
    genuinely required).

    Deterministic end-to-end (seeding, ties, optional quantization), so
    unlike LSH-based dedup this is oracle-checkable at its PRODUCTION
    parameterization, not only in an exactness mode.

    Output: d1 < d2, cluster, cosine (rounded to ``score_decimals``).
    The threshold is applied to the ROUNDED cosine — deliberately: the
    rounded value is the deterministic cross-engine contract (two
    engines' unrounded doubles can disagree in the last bits and flip a
    boundary pair), so a pair whose true cosine is within
    0.5·10^-score_decimals below ``threshold`` does count as a
    near-dup. Pass ``score_decimals=None`` to threshold on the raw
    double when exact caller semantics matter more than cross-engine
    reproducibility.

    ``pair_strategy``: ``'gemm'`` (default) scores each cluster's pairs
    with one normalized chunked numpy GEMM inside applyInPandas — the
    same bucket-local kernel as ``embedding_dup_pairs_lsh``, O(chunk ×
    |cluster|) memory, emitting only surviving pairs (measured 4×
    faster end-to-end at sf0.1: the ``'expr'`` path's per-pair
    ``zip_with``/``aggregate`` cosine is a higher-order function Spark
    evaluates interpreted, outside whole-stage codegen). ``'expr'``
    keeps the equi-join + column-expression plan (requires
    ``score_decimals``-rounded parity with gemm, pinned in
    tests/test_kmeans.py).
    """
    model = lloyd(
        df,
        k=k,
        iters=iters,
        id_col=id_col,
        vector_col=cluster_vector_col or vector_col,
        seed_ids=seed_ids,
        quantize_decimals=quantize_decimals,
        dist_round_decimals=dist_round_decimals,
        strategy=strategy,
    )
    # the self-join consumes the assignment once per side and Spark
    # shares no common subplans — without the persist the closing
    # N·k-FLOP assignment pass runs TWICE (release via cache_scope)
    from weaviate_txtai_spark.cache import scoped_persist

    # eager: the self-join sides fan out as concurrent stages of one
    # action and raced the lazy fill (r14 opt)
    a = scoped_persist(
        model.assigned.select(
            F.col(id_col).alias("__id"), F.col(vector_col).alias("__vec"), "cluster"
        ),
        eager=True,
    )
    if pair_strategy == "gemm":
        return _cluster_pairs_gemm(
            a, threshold, score_decimals=score_decimals
        )
    if pair_strategy != "expr":
        raise ValueError(
            f"semantic_dedup_pairs: unknown pair_strategy {pair_strategy!r}"
        )
    left = a.select(
        F.col("__id").alias("d1"), F.col("__vec").alias("__v1"), "cluster"
    )
    right = a.select(
        F.col("__id").alias("d2"), F.col("__vec").alias("__v2"), "cluster"
    )
    score = cosine_sim("__v1", "__v2")
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        left.join(right, on="cluster")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "cluster", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _cluster_pairs_gemm(
    assigned: DataFrame,
    threshold: float,
    *,
    score_decimals: Optional[int],
) -> DataFrame:
    """Per-cluster all-pairs cosine ≥ threshold via one normalized
    chunked GEMM per cluster group (the ``embedding_dup_pairs_lsh``
    verify kernel, keyed by cluster instead of LSH bucket). Input
    columns: __id, __vec, cluster. Output: d1 < d2, cluster, cosine.

    Thresholding happens on the ROUNDED value when ``score_decimals``
    is set — identical contract to the expr path (and the gate
    oracle); memory per task is O(chunk × |cluster|), never
    |cluster|²."""
    import numpy as np
    import pandas as pd

    def score_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        cl = int(pdf["cluster"].iloc[0])
        mat = unit_rows(decode_vectors(pdf["__vec"]))
        out_d1, out_d2, out_cos = [], [], []
        chunk = 1024
        for lo in range(0, len(ids), chunk):
            sims = mat[lo : lo + chunk] @ mat.T
            if score_decimals is not None:
                sims = np.round(sims, score_decimals)
            r, c = np.nonzero(sims >= threshold)
            keep = ids[r + lo] < ids[c]
            r, c = r[keep], c[keep]
            out_d1.append(ids[r + lo])
            out_d2.append(ids[c])
            out_cos.append(sims[r, c])
        if not out_d1:
            return pd.DataFrame({"d1": [], "d2": [], "cluster": [], "cosine": []})
        return pd.DataFrame(
            {
                "d1": np.concatenate(out_d1),
                "d2": np.concatenate(out_d2),
                "cluster": cl,
                "cosine": np.concatenate(out_cos),
            }
        )

    id_ddl = assigned.schema["__id"].dataType.simpleString()
    return (
        assigned.select(
            "__id", F.col("__vec").cast("array<double>").alias("__vec"), "cluster"
        )
        .groupBy("cluster")
        .applyInPandas(
            score_cluster,
            schema=f"d1 {id_ddl}, d2 {id_ddl}, cluster int, cosine double",
        )
    )


def semantic_dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Corpus minus near-duplicates: drop every row that has a LOWER-id
    near-dup neighbor in its cluster (``pairs`` as produced by
    :func:`semantic_dedup_pairs` — d1 < d2, so the drop set is the
    distinct d2 values; survivors = anti-join).

    The rule is "no lower-id neighbor", NOT "no surviving lower-id
    neighbor": in a chain a–b, b–c (a–c not similar), both b and c drop
    even though c's only neighbor b was itself dropped — one anti-join,
    no iteration, and for chain graphs it coincides with
    connected-component min-id survival. The greedy variant that
    re-admits c needs a fixpoint; if that is the semantics you want,
    compose ``operators.dedup.duplicate_groups`` + ``dedup_survivors``
    on these pairs instead. The drop set is NOT force-broadcast —
    on a dup-heavy corpus it is O(corpus); AQE picks the strategy
    (same reasoning as ``dedup_survivors``, r2).
    """
    drops = pairs.select(F.col("d2").alias(id_col)).distinct()
    # NULL-id rows are excluded, not "survivors": they can never appear
    # in the pair graph, so the anti-join would re-admit them as
    # phantom survivors (same contract as dedup_survivors)
    return df.filter(F.col(id_col).isNotNull()).join(
        drops, on=id_col, how="left_anti"
    )


def cluster_top_terms(
    assigned: DataFrame,
    docs: DataFrame,
    *,
    n_terms: int = 5,
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Label clusters with their most frequent terms — the human-readable
    summary step after any clustering run ("what IS cluster 3?"), and
    the cheap sanity check that a clustering is semantic at all.

    Cross-modal composition: the assignment came from EMBEDDINGS, the
    labels come from TEXT — joined on the shared id. Plan: one id-keyed
    join (AQE broadcasts the assignment side when small), a narrow token
    explode, one partial-agg shuffle on (cluster, term), and a window
    partitioned by cluster (k partitions — each holds its own vocabulary,
    never the corpus). Ties break to the lexicographically first term so
    the output is deterministic and oracle-able.

    NULL-id docs (either side) cannot be matched to an assignment and
    are absent from the term counts — the inner join IS the contract
    (r13 join census).

    Output: cluster, rank (1..n_terms), term, n_occ.
    """
    from weaviate_txtai_spark.functions.text import tokens

    joined = docs.select(
        F.col(doc_id_col).alias("__did"), F.col(text_col).alias("__text")
    ).join(
        assigned.select(F.col(id_col).alias("__did"), cluster_col), "__did"
    )
    counts = (
        joined.select(cluster_col, F.explode(tokens("__text")).alias("term"))
        .groupBy(cluster_col, "term")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return rank_top(
        counts, n_terms, key="n_occ", id_col="term", descending=True, by=cluster_col
    ).select(cluster_col, "rank", "term", "n_occ")
