"""Product quantization: m-subspace vector codes + ADC search.

The memory half of IVF-PQ (Jégou, Douze, Schmid, "Product Quantization
for Nearest Neighbor Search", TPAMI 2011 — public knowledge): split a
dim-d vector into m contiguous sub-vectors, k-means each subspace to k
centroids (k ≤ 256 → one byte per subspace), store only the m codes.
At 100 TB this is THE difference between an index that fits in cluster
memory and one that doesn't: a 64-dim float32 vector is 256 B, its
m=8/k=256 PQ code is 8 B — 32×. Search uses asymmetric distance
computation (ADC): one k×m lookup table per query (computed against
the FULL query vector, so only the database side is quantized), then
every candidate's distance is m table lookups + m adds — no float
vector ever read.

Spark shapes (scale notes):
- **Training** is one fused Arrow pass per Lloyd iteration: every
  subspace's assignments and per-(subspace, code) partial sums are
  computed inside the batch, so job count is O(iters) not O(m·iters);
  driver state is m×k×(d/m) = k×d floats (same bounded contract as
  IVFIndex centroids). Deterministic: lowest-id seeding + optional
  distance rounding, so the whole model is a pure function of the
  corpus.
- **Encoding** is map-only: per subspace an argmin over k codebook
  literals (the ``assign_clusters`` expr/gemm machinery, applied to
  ``F.slice`` of the vector) — no shuffle, no join, codes land as one
  packed BIGINT (k^m ≤ 2^53 — the double-exact integer range;
  pq_unpack recovers digits through double pow, enforced at encode)
  or an array<int>.
- **ADC search** is an Arrow gather kernel by default: per batch the
  distance is m numpy gathers + adds over the code matrix, accumulated
  in subspace order — the identical float64 operation sequence to, and
  in practice indistinguishable from, the expr path (a
  ``zip_with``/``aggregate`` fold over m ``element_at`` lookups, which
  Spark evaluates INTERPRETED per row — ~10× slower on the O(corpus)
  scan stage, kept as the oracle/exactness path). The corpus never
  shuffles before its per-partition top-k reduction (same plan shape
  as ``knn_topk``).

Reference provenance: the reference exposes only exact HNSW search via
the Weaviate server (`/root/reference/weaviate_txtai/ann/weaviate.py`);
PQ is part of the beyond-reference scale surface (SURVEY §2.4), the
database-side companion to the int8 SQ storage mode (`index.py`
``weaviate.quantize``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from weaviate_txtai_spark.operators.kmeans import assign_clusters
from weaviate_txtai_spark.operators.topk import (
    decode_vectors,
    keep_nan,
    rank_top,
    topk_indices,
)


@dataclass
class PQModel:
    """Trained product quantizer: ``codebooks[s]`` is the subspace-s
    codebook as [(code, sub_vector), ...] with codes dense 0..k-1."""

    m: int
    k: int
    dim: int
    codebooks: list[list[tuple[int, list[float]]]]

    @property
    def sub_dim(self) -> int:
        return self.dim // self.m

    def lut(self, query: Sequence[float], *, round_decimals: Optional[int] = 6
            ) -> list[list[float]]:
        """ADC lookup table for one query: lut[s][c] = squared L2
        between the query's subspace-s slice and codebook entry c.
        Computed against the FULL (unquantized) query — the asymmetric
        part of ADC."""
        q = [float(v) for v in query]
        if len(q) != self.dim:
            raise ValueError(f"PQModel.lut: query dim {len(q)} != {self.dim}")
        d = self.sub_dim
        out = []
        for s in range(self.m):
            qs = q[s * d : (s + 1) * d]
            row = []
            for _, c in self.codebooks[s]:
                v = sum((a - b) * (a - b) for a, b in zip(qs, c))
                row.append(round(v, round_decimals) if round_decimals is not None else v)
            out.append(row)
        return out


def train_pq(
    df: DataFrame,
    *,
    m: int = 8,
    k: int = 256,
    iters: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dist_round_decimals: Optional[int] = None,
    quantize_decimals: Optional[int] = None,
) -> PQModel:
    """Train per-subspace codebooks with deterministic Lloyd's.

    ``iters=0`` is the exactness mode: codebooks are exactly the k
    lowest-id vectors' sub-slices (no update step) — fully reproducible
    in oracle SQL without replaying a k-means trajectory. Production
    uses ``iters≥1`` for real quantization error; the trajectory stays
    deterministic (lowest-id seeding, lowest-code ties, optional
    quantization — the ``lloyd`` contract) so the model is a pure
    function of the corpus.

    Training is FUSED across subspaces: one Arrow pass per iteration
    computes every subspace's assignments and per-(subspace, code)
    partial sums inside the batch (m·k·sub_dim accumulator rows per
    partition), so the job count is O(iters), not O(m·iters) — m
    separate ``lloyd`` runs cost ~m× the whole corpus in scheduler
    overhead alone (measured: 26 s → ~4 s at sf0.1, m=8). Distances use
    the same |c|²−2x·c GEMM expansion as ``assign_clusters``'s gemm
    strategy; set ``dist_round_decimals`` when exact parity with the
    expr path matters (same caveat as assign_clusters).
    """
    import numpy as np

    head = df.select(vector_col).head()
    if head is None:
        raise ValueError("train_pq: empty input")
    dim = len(head[0])
    if dim % m != 0:
        raise ValueError(f"train_pq: dim {dim} not divisible by m={m}")
    if k > 2**16:
        raise ValueError("train_pq: k > 65536 defeats the point of PQ")
    d = dim // m

    # seeds for every subspace from the k lowest-id rows — one collect
    seed_rows = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vector_col).cast("array<double>").alias("__v"),
        )
        .orderBy(F.asc("vec_id"))
        .limit(k)
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"train_pq: k={k} but only {len(seed_rows)} rows")
    codebooks = [
        [
            (i, [float(v) for v in r["__v"]][s * d : (s + 1) * d])
            for i, r in enumerate(seed_rows)
        ]
        for s in range(m)
    ]
    if iters == 0:
        return PQModel(m=m, k=k, dim=dim, codebooks=codebooks)

    import pandas as pd

    vecs = df.select(F.col(vector_col).cast("array<double>").alias("__v"))
    for _ in range(iters):
        # (m, k, d) codebook tensor for the fused batch kernel
        cb = np.asarray(
            [[c for _, c in codebooks[s]] for s in range(m)],
            dtype=np.float64,
        )
        c_sq = (cb * cb).sum(axis=2)  # (m, k)

        def stats(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = decode_vectors(pdf["__v"])
                n = mat.shape[0]
                sums = np.zeros((m, k, d))
                cnts = np.zeros((m, k), dtype=np.int64)
                for s in range(m):
                    sub = mat[:, s * d : (s + 1) * d]  # (n, d)
                    scores = c_sq[s][None, :] - 2.0 * (sub @ cb[s].T)
                    if dist_round_decimals is not None:
                        x_sq = (sub * sub).sum(axis=1, keepdims=True)
                        scores = np.round(scores + x_sq, dist_round_decimals)
                    code = np.argmin(scores, axis=1)  # first min = low code
                    np.add.at(sums[s], code, sub)
                    cnts[s] += np.bincount(code, minlength=k)
                rows = [
                    (s, c, p, sums[s, c, p], int(cnts[s, c]))
                    for s in range(m)
                    for c in range(k)
                    for p in range(d)
                    if cnts[s, c] > 0
                ]
                yield pd.DataFrame(
                    rows, columns=["s", "c", "p", "psum", "pcnt"]
                )

        agg = (
            vecs.mapInPandas(
                stats, schema="s int, c int, p int, psum double, pcnt long"
            )
            .groupBy("s", "c", "p")
            .agg(F.sum("psum").alias("sm"), F.sum("pcnt").alias("ct"))
            .collect()
        )  # ≤ m·k·d rows — bounded driver state, like lloyd's collect
        acc: dict = {}
        for r in agg:
            acc.setdefault((r["s"], r["c"]), [0.0] * (d + 1))
            acc[(r["s"], r["c"])][r["p"]] = r["sm"]
            # every position row of one (s, c) carries the same total
            # count (summed over partitions); keep it once
            acc[(r["s"], r["c"])][d] = r["ct"]
        new_books = []
        for s in range(m):
            book = []
            for code, prev in codebooks[s]:
                if (s, code) in acc:
                    vals = acc[(s, code)]
                    cnt = vals[d]
                    c = [v / cnt for v in vals[:d]]
                    if quantize_decimals is not None:
                        c = [round(v, quantize_decimals) for v in c]
                    book.append((code, c))
                else:  # empty cluster keeps its previous centroid
                    book.append((code, prev))
            new_books.append(book)
        codebooks = new_books
    return PQModel(m=m, k=k, dim=dim, codebooks=codebooks)


def pq_encode(
    df: DataFrame,
    model: PQModel,
    *,
    vector_col: str = "embedding",
    code_col: str = "pq_code",
    dist_round_decimals: Optional[int] = None,
    packed: bool = True,
    strategy: str = "auto",
) -> DataFrame:
    """Add the PQ code: per subspace, the nearest codebook entry
    (squared L2, ties to the lowest code — ``assign_clusters``
    semantics on the sliced column; map-only, no shuffle).

    ``packed=True`` emits one BIGINT ``sum_s code_s · k^s`` (requires
    k^m ≤ 2^53, the double-exact integer range pq_unpack can round-trip
    — fine for every sane parameterization and exactly what
    a columnar store scans fastest); ``packed=False`` emits
    ``array<int>`` of length m (what ``adc_topk`` consumes directly).

    ``strategy='auto'`` (default) uses the FUSED kernel: one Arrow pass
    computes all m subspace argmins per batch — the per-subspace
    ``assign_clusters`` chain builds m stacked expression trees whose
    analysis/codegen alone dominates at small data and whose
    interpreted distance folds dominate at large (measured: 5.0 s →
    0.6 s at sf0.1, m=8). 'expr'/'gemm' keep the chained
    assign_clusters path (parity pinned in tests, requires
    ``dist_round_decimals`` — same caveat as assign_clusters).
    """
    d = model.sub_dim
    if packed and model.k ** model.m > 2**53:
        # 2^53, not 2^62: pq_unpack recovers digits with double pow —
        # beyond the double-exact integer range the round-trip corrupts
        raise ValueError(
            f"pq_encode: k={model.k}^m={model.m} overflows the packed-"
            "long exact range; use packed=False"
        )
    if strategy == "auto":
        return _pq_encode_fused(
            df,
            model,
            vector_col=vector_col,
            code_col=code_col,
            dist_round_decimals=dist_round_decimals,
            packed=packed,
        )
    out = df
    code_cols = []
    for s in range(model.m):
        cname = f"__pq{s}"
        out = assign_clusters(
            out.withColumn(
                "__sub", F.slice(F.col(vector_col).cast("array<double>"),
                                 s * d + 1, d)
            ),
            model.codebooks[s],
            vector_col="__sub",
            cluster_col=cname,
            dist_round_decimals=dist_round_decimals,
            strategy=strategy,
        ).drop("__sub")
        code_cols.append(cname)
    if packed:
        expr = F.lit(0).cast("long")
        mult = 1
        for s, cname in enumerate(code_cols):
            expr = expr + F.col(cname).cast("long") * F.lit(mult)
            mult *= model.k
        out = out.withColumn(code_col, expr)
    else:
        out = out.withColumn(
            code_col, F.array(*[F.col(c) for c in code_cols])
        )
    return out.drop(*code_cols)


def _pq_encode_fused(
    df: DataFrame,
    model: PQModel,
    *,
    vector_col: str,
    code_col: str,
    dist_round_decimals: Optional[int],
    packed: bool,
) -> DataFrame:
    """One-Arrow-pass encode across all subspaces (see pq_encode).
    Same distances and ties as assign_clusters' gemm strategy."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    m, k, d = model.m, model.k, model.sub_dim
    cb = np.asarray(
        [[c for _, c in model.codebooks[s]] for s in range(m)],
        dtype=np.float64,
    )
    c_sq = (cb * cb).sum(axis=2)
    mults = np.asarray([k ** s for s in range(m)], dtype=np.int64)
    in_cols = [f.name for f in df.schema.fields]
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField(
                code_col,
                LongType() if packed else ArrayType(IntegerType()),
                False,
            )
        ]
    )

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = decode_vectors(pdf[vector_col])
            if mat.ndim != 2 or mat.shape[1] != model.dim:
                raise ValueError(
                    f"pq_encode: NULL or non-{model.dim}-dim vector in "
                    f"'{vector_col}'"
                )
            n = mat.shape[0]
            codes = np.zeros((n, m), dtype=np.int64)
            for s in range(m):
                sub = mat[:, s * d : (s + 1) * d]
                scores = c_sq[s][None, :] - 2.0 * (sub @ cb[s].T)
                if dist_round_decimals is not None:
                    x_sq = (sub * sub).sum(axis=1, keepdims=True)
                    scores = np.round(scores + x_sq, dist_round_decimals)
                codes[:, s] = np.argmin(scores, axis=1)
            pdf = pdf[in_cols].copy()
            if packed:
                pdf[code_col] = (codes * mults[None, :]).sum(axis=1)
            else:
                pdf[code_col] = [c.astype("int32").tolist() for c in codes]
            yield pdf

    return df.mapInPandas(encode, schema=out_schema)


def adc_scores(
    codes: DataFrame,
    model: PQModel,
    query: Sequence[float],
    *,
    code_col: str = "pq_code",
    dist_col: str = "adc_dist",
    lut_round_decimals: Optional[int] = 6,
) -> DataFrame:
    """Approximate squared-L2 distance to ``query`` for every coded row
    via the ADC lookup table: the LUT is an m×k literal, the distance
    an ``aggregate`` of m ``element_at`` lookups over the (unpacked)
    code array. Never touches a float vector column.

    NOTE (plan): Spark evaluates higher-order-function lambdas
    INTERPRETED, outside whole-stage codegen — this expr path is the
    semantic definition and the oracle/exactness twin, but on the
    O(corpus) scan stage it carries a ~10× constant vs the Arrow
    gather kernel (:func:`adc_topk` ``strategy='gemm'``, the default
    there). The kernel accumulates the same rounded LUT entries in the
    same subspace order, so the two paths agree except in one
    measure-zero corner (see the rounding caveat on
    :func:`_adc_scores_gemm`); equality is pytest-pinned on the test
    corpus in test_pq.py.

    ``codes`` must carry ``code_col`` as array<int> (``packed=False``
    encoding); unpack a packed code first with :func:`pq_unpack`.
    """
    lut = model.lut(query, round_decimals=lut_round_decimals)
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    dist = F.aggregate(
        F.zip_with(
            F.lit([i for i in range(model.m)]).cast("array<int>"),
            F.col(code_col),
            lambda s, c: F.element_at(F.element_at(lut_lit, s + 1), c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return codes.withColumn(dist_col, F.round(dist, 6))


def pq_unpack(
    df: DataFrame, model: PQModel, *, code_col: str = "pq_code",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Packed BIGINT → array<int> of per-subspace codes (map-only)."""
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(model.m - 1)),
        lambda s: F.pmod(
            F.floor(F.col(code_col) / F.pow(F.lit(float(model.k)), s.cast("double"))).cast("long"),
            F.lit(model.k),
        ).cast("int"),
    )
    return df.withColumn(out_col, codes)


def _adc_scores_gemm(
    codes: DataFrame,
    model: PQModel,
    query: Sequence[float],
    n: int,
    *,
    id_col: str,
    code_col: str,
    lut_round_decimals: Optional[int] = 6,
) -> DataFrame:
    """Arrow gather-kernel twin of :func:`adc_scores`, pre-reduced:
    emits each input batch's top-n rows only (``topk_indices``), so the
    downstream global top-n sees O(batches·n) rows.

    Parity with the expr path: the kernel gathers the SAME rounded LUT
    entries and accumulates them in the SAME subspace order
    (dist += lut[s][code_s] for s = 0..m-1), i.e. the identical float64
    operation sequence as the ``aggregate`` fold, then a final round-6.

    Rounding caveat (ADVICE r5): the final round uses ``np.round``
    (half-even) while the expr twin's ``F.round`` is BigDecimal HALF_UP
    over the double's shortest decimal repr — the two conventions can
    differ ONLY when an accumulated distance lands exactly on a 10⁻⁶
    midpoint, a measure-zero event for real-valued distances (and no
    vectorized numpy op reproduces BigDecimal-on-shortest-repr
    exactly). Parity is therefore near-certain, not guaranteed;
    test_pq.py pins equality on the test corpus.
    """
    import numpy as np
    import pandas as pd

    lut = np.asarray(
        model.lut(query, round_decimals=lut_round_decimals), dtype=np.float64
    )  # (m, k)
    m = model.m
    id_ddl = codes.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = decode_vectors(pdf[code_col], np.int64)  # (B, m)
            ids = pdf[id_col].to_numpy()
            dist = np.zeros(len(ids), dtype=np.float64)
            for s in range(m):
                dist = dist + lut[s][mat[:, s]]
            dist = np.round(dist, 6)
            order = topk_indices(dist, ids, n, descending=False)
            yield pd.DataFrame({id_col: ids[order], "adc_dist": keep_nan(dist[order])})

    return codes.select(id_col, code_col).mapInPandas(
        kernel, schema=f"{id_col} {id_ddl}, adc_dist double"
    )


def adc_topk(
    codes: DataFrame,
    model: PQModel,
    query: Sequence[float],
    n: int,
    *,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    strategy: str = "gemm",
) -> DataFrame:
    """Top-n rows by ADC distance (ascending; ties to lowest id) — the
    PQ search primitive. orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-n, then one n-row merge —
    the corpus never lands on a single task); the rank window then runs
    over only the n survivors.

    ``strategy='gemm'`` (default) scores via the Arrow gather
    kernel with per-batch top-n pre-reduction; 'expr' keeps the
    interpreted ``aggregate`` fold (the oracle/exactness twin — same
    values bitwise, ~10× slower on the scan stage; see
    :func:`adc_scores`)."""
    if strategy not in ("gemm", "expr"):
        raise ValueError(f"adc_topk: unknown strategy {strategy!r}")
    # NULL-id rows are excluded up front (r13 join census): results are
    # keyed by id, and in adc_topk_rerank an unkeyed shortlist row can
    # never re-join its float vector — it would silently waste a
    # shortlist slot and shrink the final top-n. (Unkeyed ids would
    # also surface as NaN through the Arrow kernel's id gather.)
    codes = codes.filter(F.col(id_col).isNotNull())
    if strategy == "expr":
        scored = adc_scores(codes, model, query, code_col=code_col).select(
            id_col, "adc_dist"
        )
    else:
        scored = _adc_scores_gemm(
            codes, model, query, n, id_col=id_col, code_col=code_col
        )
    return rank_top(scored, n, key="adc_dist", id_col=id_col, descending=False)


def adc_topk_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    model: PQModel,
    query: Sequence[float],
    n: int,
    *,
    shortlist: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vector_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist → exact re-rank: how production PQ search actually
    runs. The coded (m-bytes-per-row) table is scanned for a
    ``shortlist×n`` ADC candidate set; only those rows' float vectors
    are then read (broadcast semi-join on the tiny id set — at scale
    this is the point: the full-precision read is O(shortlist·n), not
    O(corpus)) and re-scored with exact squared L2.

    Shortlist sizing is the recall knob: ADC's rank correlation with
    the exact distance is high but not 1 (quantization noise), so the
    true top-n live in a modest ADC prefix — measured on the isotropic
    testdata (the worst case), shortlist=5 recovers ~0.9 of the exact
    top-10 and re-ranking restores the exact order of whatever the
    shortlist contains. Output: ``id, dist, rank``.
    """
    q = [float(v) for v in query]
    cand = adc_topk(
        codes, model, q, shortlist * n, id_col=id_col, code_col=code_col
    ).select(id_col)
    lit = F.array(*[F.lit(v) for v in q])
    exact = vectors.join(F.broadcast(cand), id_col).select(
        id_col,
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vector_col).cast("array<double>"),
                    lit,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("dist"),
    )
    return rank_top(exact, n, key="dist", id_col=id_col, descending=False)
