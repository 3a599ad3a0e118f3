"""Optimized Product Quantization: a learned orthogonal rotation in
front of PQ (Ge, He, Ke, Sun, "Optimized Product Quantization", CVPR
2013 — public knowledge; FAISS's OPQ pre-transform). PQ quantizes each
contiguous sub-vector independently, so correlated/unevenly-scaled
dimensions waste codebook budget; OPQ alternates (a) PQ training in the
rotated space with (b) the orthogonal-Procrustes update of the rotation
R, monotonically lowering quantization error. Because R is orthogonal,
L2 distances are preserved — ADC in rotated space approximates exactly
the original-space distance, and any exact re-rank still runs on the
original floats.

Spark shape per OPQ iteration (all driver model state is bounded:
R is dim×dim — 32 KB at dim=64 — plus the k×dim codebooks):
- rotate + PQ-train: the existing fused ``train_pq`` over a map-only
  rotated column (one Arrow matmul per batch).
- Procrustes update: ONE pass accumulating the dim×dim cross-Gram
  G = Σ xᵀ·x̂ (per-batch BLAS partials, same pattern as ``pca.pca_fit``),
  then a driver-side SVD of G: R ← U·Vᵀ.

Determinism caveat (same as CooccurrenceEncoder): U·Vᵀ is invariant to
paired singular-vector sign flips, but DEGENERATE singular values can
rotate freely across BLAS builds — fit artifacts should be saved and
shipped, not refit per session. ``opq_iters=0`` is the exactness mode:
R stays identity and the model IS plain PQ (gate-pinned equal).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weaviate_txtai_spark.operators.pq import PQModel, train_pq
from weaviate_txtai_spark.operators.topk import decode_vectors


@dataclass
class OPQModel:
    """Orthogonal rotation + product quantizer over the rotated space."""

    rotation: list[list[float]]  # dim×dim, row-major: y = R^T x (x·R)
    pq: PQModel

    @property
    def dim(self) -> int:
        return self.pq.dim


def _rotate_df(
    df: DataFrame, rotation, *, vector_col: str, out_col: str
) -> DataFrame:
    """Map-only Arrow matmul: out = x · R (one BLAS call per batch)."""
    import numpy as np
    import pandas as pd

    R = np.asarray(rotation, dtype=np.float64)
    in_cols = [f.name for f in df.schema.fields]
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()), False)]
    )

    def rot(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = decode_vectors(pdf[vector_col])
            y = mat @ R
            pdf = pdf[in_cols].copy()
            pdf[out_col] = [row.tolist() for row in y]
            yield pdf

    return df.mapInPandas(rot, schema=out_schema)


def train_opq(
    df: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    opq_iters: int = 3,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dist_round_decimals: Optional[int] = None,
) -> OPQModel:
    """Alternate PQ training and the Procrustes rotation update (see
    module docstring). ``opq_iters=0`` returns identity rotation + a
    plain ``train_pq`` model — the exactness twin."""
    import numpy as np

    head = df.select(vector_col).head()
    if head is None:
        raise ValueError("train_opq: empty input")
    dim = len(head[0])
    if dim % m != 0:
        raise ValueError(f"train_opq: dim {dim} not divisible by m={m}")

    R = np.eye(dim)
    base = df.select(
        F.col(id_col), F.col(vector_col).cast("array<double>").alias("__x")
    )
    pq = None
    for it in range(max(opq_iters, 0) + 1):
        rotated = _rotate_df(base, R.tolist(), vector_col="__x",
                             out_col="__y")
        pq = train_pq(
            rotated,
            m=m,
            k=k,
            iters=pq_iters,
            id_col=id_col,
            vector_col="__y",
            dist_round_decimals=dist_round_decimals,
            quantize_decimals=None,
        )
        if it == max(opq_iters, 0):
            break  # final PQ trained under the final rotation

        # Procrustes update: G = Σ x · x̂ᵀ over the corpus, x̂ the PQ
        # reconstruction IN ROTATED SPACE; R ← U·Vᵀ of SVD(G). One
        # Arrow pass, dim×dim partials per batch.
        cb = np.asarray(
            [[c for _, c in pq.codebooks[s]] for s in range(m)],
            dtype=np.float64,
        )  # (m, k, d)
        c_sq = (cb * cb).sum(axis=2)
        d = dim // m
        import pandas as pd

        def gram(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                X = decode_vectors(pdf["__x"])
                Y = X @ R
                Yhat = np.empty_like(Y)
                for s in range(m):
                    sub = Y[:, s * d : (s + 1) * d]
                    scores = c_sq[s][None, :] - 2.0 * (sub @ cb[s].T)
                    codes = np.argmin(scores, axis=1)
                    Yhat[:, s * d : (s + 1) * d] = cb[s][codes]
                G = X.T @ Yhat  # (dim, dim)
                rows = [
                    (i, G[i].tolist()) for i in range(dim)
                ]
                yield pd.DataFrame(rows, columns=["i", "g"])

        agg = (
            base.select("__x")
            .mapInPandas(gram, schema="i int, g array<double>")
            .groupBy("i")
            .agg(
                F.array(
                    *[
                        F.sum(F.element_at("g", j + 1))
                        for j in range(dim)
                    ]
                ).alias("g")
            )
            .collect()
        )  # dim rows of dim doubles — bounded driver state
        G = np.zeros((dim, dim))
        for r in agg:
            G[r["i"]] = r["g"]
        U, _, Vt = np.linalg.svd(G)
        R = U @ Vt
    return OPQModel(rotation=R.tolist(), pq=pq)


def opq_encode(
    df: DataFrame,
    model: OPQModel,
    *,
    vector_col: str = "embedding",
    code_col: str = "pq_code",
    packed: bool = False,
    dist_round_decimals: Optional[int] = None,
) -> DataFrame:
    """Rotate then PQ-encode (both map-only Arrow passes)."""
    from weaviate_txtai_spark.operators.pq import pq_encode

    rotated = _rotate_df(
        df.withColumn("__x", F.col(vector_col).cast("array<double>")),
        model.rotation,
        vector_col="__x",
        out_col="__y",
    )
    return pq_encode(
        rotated,
        model.pq,
        vector_col="__y",
        code_col=code_col,
        packed=packed,
        dist_round_decimals=dist_round_decimals,
    ).drop("__x", "__y")


def opq_topk(
    codes: DataFrame,
    model: OPQModel,
    query: Sequence[float],
    n: int,
    *,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    strategy: str = "gemm",
) -> DataFrame:
    """ADC top-n under the rotation: the query is rotated driver-side
    (dim² flops) and searched with the plain PQ machinery — orthogonal
    R preserves L2, so the ADC estimate targets the ORIGINAL distance."""
    import numpy as np

    from weaviate_txtai_spark.operators.pq import adc_topk

    q = np.asarray([float(v) for v in query], dtype=np.float64)
    qrot = (q @ np.asarray(model.rotation, dtype=np.float64)).tolist()
    return adc_topk(
        codes, model.pq, qrot, n, id_col=id_col, code_col=code_col,
        strategy=strategy,
    )


def reconstruction_error(
    df: DataFrame,
    model: OPQModel,
    *,
    vector_col: str = "embedding",
) -> float:
    """Mean squared quantization error ||x·R − x̂||² over the corpus —
    the quantity OPQ minimizes; one Arrow pass, scalar out."""
    import numpy as np
    import pandas as pd

    R = np.asarray(model.rotation, dtype=np.float64)
    m, d = model.pq.m, model.pq.sub_dim
    cb = np.asarray(
        [[c for _, c in model.pq.codebooks[s]] for s in range(m)],
        dtype=np.float64,
    )
    c_sq = (cb * cb).sum(axis=2)

    def err(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = decode_vectors(pdf["__x"])
            Y = X @ R
            tot = 0.0
            for s in range(m):
                sub = Y[:, s * d : (s + 1) * d]
                scores = c_sq[s][None, :] - 2.0 * (sub @ cb[s].T)
                codes = np.argmin(scores, axis=1)
                tot += ((sub - cb[s][codes]) ** 2).sum()
            yield pd.DataFrame({"e": [tot], "n": [len(X)]})

    agg = (
        df.select(F.col(vector_col).cast("array<double>").alias("__x"))
        .mapInPandas(err, schema="e double, n long")
        .agg(F.sum("e").alias("e"), F.sum("n").alias("n"))
        .head()
    )
    return float(agg["e"]) / max(int(agg["n"]), 1)


@dataclass
class IVFOPQIndex:
    """OPQ pre-transform composed with IVF-PQ — the FAISS
    ``OPQm,IVFn,PQm`` factory string (public). The rotation is learned
    once on the corpus (flat-PQ proxy objective — rotation quality is
    insensitive to the proxy's k, so a small k_rot keeps training
    cheap), the corpus is rotated in one map-only Arrow pass, and the
    whole IVF-PQ machinery (cells, residual codes, ADC kernels,
    save/load, filtered search) runs unchanged in rotated space.
    Because R is orthogonal, rotated-space L2 IS original-space L2, so
    probing, ADC estimates, and the exact re-rank all target the
    original distances (re-ranked ``dist`` values can differ from an
    original-space computation only in float rounding, ~1e-12
    relative). ``opq_iters=0`` keeps R = identity and the index IS a
    plain IVFPQIndex — the exactness twin (pytest-pinned)."""

    rotation: list[list[float]]
    index: object  # IVFPQIndex

    @classmethod
    def build(
        cls,
        df: DataFrame,
        *,
        nlist: int = 16,
        m: int = 8,
        k_pq: int = 256,
        opq_iters: int = 2,
        pq_iters: int = 2,
        k_rot: Optional[int] = None,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        seed: int = 42,
        dist_round_decimals: Optional[int] = None,
        keep_cols: Sequence[str] = (),
    ) -> "IVFOPQIndex":
        from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

        model = train_opq(
            df,
            m=m,
            k=k_rot if k_rot is not None else min(k_pq, 16),
            opq_iters=opq_iters,
            pq_iters=1,
            id_col=id_col,
            vector_col=vector_col,
            dist_round_decimals=dist_round_decimals,
        )
        rotated = _rotate_df(
            df.withColumn(
                "__x", F.col(vector_col).cast("array<double>")
            ),
            model.rotation,
            vector_col="__x",
            out_col="__rot",
        ).drop("__x")
        idx = IVFPQIndex.build(
            rotated,
            nlist=nlist,
            m=m,
            k_pq=k_pq,
            pq_iters=pq_iters,
            id_col=id_col,
            vector_col="__rot",
            seed=seed,
            dist_round_decimals=dist_round_decimals,
            keep_cols=keep_cols,
        )
        return cls(rotation=model.rotation, index=idx)

    def _rotate_queries(self, queries):
        import numpy as np

        R = np.asarray(self.rotation, dtype=np.float64)
        return [
            (qid, (np.asarray(qv, dtype=np.float64) @ R).tolist())
            for qid, qv in queries
        ]

    def search(self, queries, n: int, **kwargs) -> DataFrame:
        """Driver-batch search: queries rotate driver-side (Q·dim²
        flops), then the plain IVF-PQ path runs in rotated space."""
        return self.index.search(self._rotate_queries(queries), n, **kwargs)

    def search_df(self, query_df: DataFrame, n: int, *,
                  query_vector_col: str = "query_vector",
                  **kwargs) -> DataFrame:
        """DataFrame-query search: one extra map-only Arrow rotation
        pass on the query side; everything downstream is the existing
        cogrouped ADC + re-rank plan."""
        rot = _rotate_df(
            query_df.withColumn(
                "__x", F.col(query_vector_col).cast("array<double>")
            ),
            self.rotation,
            vector_col="__x",
            out_col="__qrot",
        ).drop("__x", query_vector_col)
        return self.index.search_df(
            rot.withColumnRenamed("__qrot", query_vector_col),
            n,
            query_vector_col=query_vector_col,
            **kwargs,
        )

    def save(self, path: str) -> None:
        import json
        import os

        self.index.save(path)
        with open(os.path.join(path, "opq_rotation.json"), "w") as f:
            json.dump({"rotation": self.rotation}, f)

    @classmethod
    def load(cls, spark, path: str) -> "IVFOPQIndex":
        import json
        import os

        from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

        with open(os.path.join(path, "opq_rotation.json")) as f:
            rotation = json.load(f)["rotation"]
        return cls(rotation=rotation, index=IVFPQIndex.load(spark, path))
