"""Distributed PCA over an embedding column.

Why an engine needs it: dimension reduction is the standard pre-step for
cheap clustering (SemDeDup clusters reduced vectors), OPQ-style ANN
compression, and embedding whitening. The distributed part is ONLY the
covariance accumulation — eigendecomposition of a dim×dim matrix is
driver-side numpy by design (dim ≤ a few thousand; the matrix is tiny
next to the data).

Covariance at scale — the treeAggregate pattern, DataFrame-native:
each Arrow batch computes its LOCAL Gram matrix XᵀX (one BLAS call),
its column sum, and its count, emitting ONE flattened row per batch.
Those partials posexplode to (pos, val) and one partial-agg shuffle of
partitions × dim² tiny rows sums them; the driver assembles
cov = E[xxᵀ] − μμᵀ from dim² + dim + 1 doubles. The corpus is read
once, nothing corpus-sized shuffles, and the plan is identical at any
N — the same shape as the k-means update (operators/kmeans.py).

Determinism: the covariance sums differ in the last float bits across
partitionings (addition order), so eigenvectors wobble at ~1e-12. The
sign convention (largest-|loading| component positive) pins the sign;
gates round covariance entries to 6 dp, and PCA outputs are checked by
invariants (orthonormality, variance ordering, reconstruction) rather
than value hashes — eigendecomposition is not SQL-expressible, the same
honest rows-only treatment as the sketch operators.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from weaviate_txtai_spark.operators.topk import decode_vectors


def _moments(df: DataFrame, vector_col: str, dim: int):
    """One pass: returns (n, sum_vec (dim,), gram (dim, dim)) as numpy.
    Each Arrow batch emits one partial row; partials sum via a single
    partial-agg shuffle of bounded size."""
    import numpy as np

    out_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
            StructField("g", ArrayType(DoubleType())),  # row-major dim*dim
        ]
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = decode_vectors(pdf[vector_col])
            if mat.ndim != 2 or mat.shape[1] != dim:
                raise ValueError(
                    f"pca: expected {dim}-dim vectors, got shape {mat.shape}"
                )
            yield pd.DataFrame(
                {
                    "n": [mat.shape[0]],
                    "s": [mat.sum(axis=0).tolist()],
                    "g": [(mat.T @ mat).ravel().tolist()],
                }
            )

    part = df.select(F.col(vector_col)).mapInPandas(partials, schema=out_schema)
    # flatten to (pos, val) and sum — partitions × (dim² + dim) tiny rows
    summed = (
        part.select(
            "n", F.posexplode(F.concat(F.col("s"), F.col("g"))).alias("pos", "val")
        )
        .groupBy("pos")
        .agg(F.sum("val").alias("v"), F.sum("n").alias("cnt"))
        .collect()
    )
    if not summed:
        raise ValueError("pca: empty input")
    # every partial emits every pos, so each pos's cnt sums the same
    # per-partial n values — any single pos carries the true row count
    by_pos = {r["pos"]: r["v"] for r in summed}
    n = next(r["cnt"] for r in summed if r["pos"] == 0)
    s = np.array([by_pos[i] for i in range(dim)])
    g = np.array([by_pos[dim + i] for i in range(dim * dim)]).reshape(dim, dim)
    return int(n), s, g


@dataclass
class PCAModel:
    mean: list[float]
    components: list[list[float]]  # k rows × dim, orthonormal
    explained_variance: list[float]  # descending

    @property
    def k(self) -> int:
        return len(self.components)


def pca_fit(
    df: DataFrame, k: int, *, vector_col: str = "embedding"
) -> PCAModel:
    """Fit top-k principal components. One distributed pass (see module
    docstring) + a driver-side ``eigh`` on the dim×dim covariance.

    Sign convention: each component's largest-|loading| entry is made
    positive (ties: the earliest position wins), so the model is
    reproducible across runs/partitionings up to float noise."""
    import numpy as np

    first = df.select(vector_col).first()
    if first is None or first[0] is None:
        raise ValueError("pca_fit: empty input or NULL vector")
    dim = len(first[0])
    if not (1 <= k <= dim):
        raise ValueError(f"pca_fit: k={k} outside [1, dim={dim}]")
    n, s, g = _moments(df, vector_col, dim)
    if n < 2:
        raise ValueError(f"pca_fit: need ≥2 rows, got {n}")
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps, var = [], []
    for idx in order:
        v = evecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
        var.append(float(max(evals[idx], 0.0)))
    return PCAModel(mean=[float(x) for x in mu], components=comps,
                    explained_variance=var)


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (b > 0) — the semantics
    BOTH engines share (Spark `div`, DuckDB `//`); Python's `//`
    floors, so negative numerators need the explicit form."""
    return -((-a) // b) if a < 0 else a // b


def _rha(x: float) -> int:
    """Round half AWAY from zero to an int — Spark F.round / DuckDB
    round() semantics; Python/numpy round() is half-even."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


@dataclass
class PCAExactModel:
    """Fixed-point power-iteration components (scale 1e6 ints) + the
    exact integer norm denominators and fixed-point mean."""

    mu_fp: list[int]  # dim, scale 1e6
    components_fp: list[list[int]]  # k × dim, scale 1e6 (v div 1000)
    dens: list[int]  # Σu² per component (exact ints)

    @property
    def k(self) -> int:
        return len(self.components_fp)


def pca_power_fit_exact(
    df: DataFrame,
    k: int,
    *,
    n_iter: int = 12,
    vector_col: str = "embedding",
) -> PCAExactModel:
    """ORACLE-GRADE PCA fit: fixed-point power iteration with deflation
    (the pagerank_exact / hits_exact discipline applied to
    eigenvectors). The distributed half is the same one-pass moment
    accumulation as ``pca_fit``; the dim×dim iteration is driver-side
    PURE-INTEGER arithmetic, so a SQL replay (unrolled MATERIALIZED
    CTEs) reproduces the trajectory to the bit — which per-step float
    rounding provably cannot (NOTES.md, the doc_centrality lesson).

    Algorithm per component (all ints; T = ``n_iter`` fixed steps —
    the TRAJECTORY is the spec, not convergence: on near-isotropic
    synthetic embeddings the eigengap is ~1%, so no engine could
    converge anyway; production code wanting true eigenvectors uses
    ``pca_fit``):

        c = round(cov · 1e6)                  (dim² longs)
        v ← 1e9·1;  repeat T: w = c·v;  v = w div max(max|w| div 1e9, 1)
        sign-pin: largest-|v| coordinate positive (ties: lowest index)
        u' = v div 10⁴;  λ = (u'ᵀ c u') div Σu'²   (Rayleigh, ints)
        c ← c − (λ·u'u'ᵀ) div Σu'²             (deflation)
        u = v div 10³;  den = Σu²              (projection component)

    Every intermediate is bounded within int64 (worst-case bounds in
    comments), so DuckDB's checked BIGINT arithmetic never overflows
    and its HUGEINT sums cast back losslessly."""
    first = df.select(vector_col).first()
    if first is None or first[0] is None:
        raise ValueError("pca_power_fit_exact: empty input or NULL vector")
    dim = len(first[0])
    if not (1 <= k <= dim):
        raise ValueError(f"pca_power_fit_exact: k={k} outside [1, dim={dim}]")
    if n_iter < 1:
        raise ValueError("pca_power_fit_exact: n_iter must be >= 1")
    import numpy as np

    n, s, g = _moments(df, vector_col, dim)
    if n < 2:
        raise ValueError(f"pca_power_fit_exact: need ≥2 rows, got {n}")
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    # python ints from here on: exact, overflow-free (DuckDB's HUGEINT
    # sums are likewise exact; per-term products stay within int64)
    c = [[_rha(cov[i][j] * 1e6) for j in range(dim)] for i in range(dim)]
    mu_fp = [_rha(m * 1e6) for m in mu]

    comps_fp: list[list[int]] = []
    dens: list[int] = []
    for _ in range(k):
        v = [10**9] * dim
        for _ in range(n_iter):
            # |c| ≤ ~1e5 after deflations, |v| ≤ 1e9 → term ≤ 1e14 ✓
            w = [sum(c[i][j] * v[j] for j in range(dim)) for i in range(dim)]
            q = max(max(abs(x) for x in w) // 10**9, 1)
            v = [_tdiv(x, q) for x in w]
        piv = max(range(dim), key=lambda i: (abs(v[i]), -i))
        if v[piv] < 0:
            v = [-x for x in v]
        up = [_tdiv(x, 10**4) for x in v]  # ≤1e5: keeps λ/deflation in-bound
        den_p = max(sum(x * x for x in up), 1)  # ≤ dim·1e10
        cw = [sum(c[i][j] * up[j] for j in range(dim)) for i in range(dim)]
        lam = _tdiv(sum(up[i] * cw[i] for i in range(dim)), den_p)
        c = [
            [
                c[i][j] - _tdiv(lam * up[i] * up[j], den_p)
                for j in range(dim)
            ]
            for i in range(dim)
        ]
        u = [_tdiv(x, 10**3) for x in v]  # ≤1e6: projection scale
        den = sum(x * x for x in u)
        if den == 0:
            raise ValueError(
                "pca_power_fit_exact: degenerate (zero) component — "
                "covariance has no signal at this scale"
            )
        comps_fp.append(u)
        dens.append(den)
    return PCAExactModel(mu_fp=mu_fp, components_fp=comps_fp, dens=dens)


def pca_power_project_exact(
    df: DataFrame,
    model: PCAExactModel,
    *,
    vector_col: str = "embedding",
    id_cols: Optional[list[str]] = None,
    round_decimals: int = 6,
) -> DataFrame:
    """Map-only integer projection under the exact model: the input is
    quantized once (round(x·1e6), the same half-away rounding both
    engines apply), centered by the fixed-point mean, and dotted with
    each integer component — the SUM IS INTEGER, so it is independent
    of addition order (the float-dot alternative wobbles in the last
    bit under DuckDB's unordered aggregation). Only the FINAL rescale
    (÷ 1e6·√den) is float: one IEEE-identical op chain per value.

    Output: ``id_cols…, p1..pk`` flat doubles (scalar-only schema —
    the orders_snapshot_diff gate-boundary lesson)."""
    import math

    keep = id_cols if id_cols is not None else ["vec_id"]
    xfp = F.transform(
        F.col(vector_col).cast("array<double>"),
        lambda e: F.round(e * F.lit(1e6), 0).cast("long"),
    )
    mu_lit = F.array(*[F.lit(m) for m in model.mu_fp])
    centered = F.zip_with(xfp, mu_lit, lambda a, b: a - b)
    cols = [F.col(c) for c in keep]
    for ci, (u, den) in enumerate(zip(model.components_fp, model.dens)):
        u_lit = F.array(*[F.lit(x) for x in u])
        pfp = F.aggregate(
            F.zip_with(centered, u_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        cols.append(
            F.round(
                pfp.cast("double") / F.lit(1e6 * math.sqrt(den)),
                round_decimals,
            ).alias(f"p{ci + 1}")
        )
    return df.select(*cols)


def pca_transform(
    df: DataFrame,
    model: PCAModel,
    *,
    vector_col: str = "embedding",
    output_col: str = "pca",
    round_decimals: Optional[int] = None,
) -> DataFrame:
    """Map-only projection: (x − μ) · Wᵀ as k in-order dot-product folds
    over component literals — zero exchanges, same plan shape as the
    k-means assignment (plan-asserted in tests/test_pca.py)."""
    vec = F.col(vector_col).cast("array<double>")
    mu = F.array(*[F.lit(v) for v in model.mean])
    centered = F.zip_with(vec, mu, lambda a, b: a - b)
    outs = []
    for comp in model.components:
        w = F.array(*[F.lit(v) for v in comp])
        d = F.aggregate(
            F.zip_with(centered, w, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        outs.append(F.round(d, round_decimals) if round_decimals is not None else d)
    return df.withColumn(output_col, F.array(*outs))
