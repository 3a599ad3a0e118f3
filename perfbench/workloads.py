"""The three workloads: ``txtai_ops``, ``ann_batch`` and ``curation_batch``.

Each is a closed loop with one client thread: the next call starts when
the previous one returned. Inputs come from ``gen`` and the run's seed;
every output is checked, and a call that raises or returns a wrong
result counts as failed.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

# --------------------------------------------------------------- sizes

TXTAI_DOCS = 300           # Embeddings corpus
TXTAI_VECTORS = 2000       # on-disk VectorIndex, 64-d
ANN_VECTORS = 600          # `embeddings` table: gates and tier calls
ANN_QUERIES = 16           # queries per tier call
CURATION_DOCS = 400        # `documents` table the curation gates read
PROBE_DOCS = 300           # small inputs for layers a workload skips
PROBE_VECTORS = 1000
PROBE_QUERIES = 64         # single-text encodes timed by the probe

ANN_GATES = ["knn_batch", "sim_join_topk", "sim_join_ivf", "pq_knn",
             "ivfpq_knn", "sim_join_ivfpq", "semantic_dedup"]
ANN_TIERS = ["ivf", "ivfpq", "topk_expr", "topk_gemm"]
CURATION_GATES = ["dedup_exact", "dedup_minhash", "dedup_ngram_jaccard",
                  "text_quality", "bm25_topk", "pretraining_manifest",
                  "curation_run"]
TXTAI_READS = ["search", "similar_sql", "aggregate", "batchsearch",
               "index_search_expr", "index_search_gemm"]
TXTAI_WRITES = ["upsert", "delete", "index_append", "index_upsert",
                "index_delete"]
TXTAI_OPS = TXTAI_READS + TXTAI_WRITES
# A write run holds nine Embeddings mutations, one more than the
# checkpoint period of ``Embeddings._truncate_lineage``, with the three
# VectorIndex writes between them.
WRITE_RUN = (["upsert", "delete", "index_append"] + ["upsert"] * 3
             + ["index_upsert"] + ["upsert"] * 4 + ["index_delete"])
# recall floors of the approximate tiers at their production settings
RECALL_FLOOR = {"ivf": 0.5, "ivfpq": 0.5}


class Run:
    """What one workload run measured: every call as a sample, the pass
    times, and the checks."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.samples: list[dict] = []   # kind, name, seconds, ok, span
        self.passes: list[float] = []
        self.extra: dict[str, tuple[float, str, int]] = {}
        self.notes: list[str] = []

    def call(self, kind: str, name: str, layer: str, fn, check=None):
        """Time ``fn()`` in a span; ``check(result)`` decides ``ok``."""
        ok, out = False, None
        with self.ctx.rec.span(name, layer, kind=kind) as sp:
            try:
                out = fn()
                ok = True
            except Exception as e:  # the op failed: count it, keep going
                self.notes.append(f"{name}: {type(e).__name__}: {e}"[:300])
        if ok and check is not None:
            try:
                ok = bool(check(out))
            except Exception as e:  # a check that cannot run is a miss
                self.notes.append(f"{name} check: {type(e).__name__}: {e}"[:300])
                ok = False
            if not ok:
                self.notes.append(f"{name}: wrong result")
        self.samples.append({"kind": kind, "name": name, "layer": layer,
                             "seconds": sp["seconds"], "ok": ok, "span": sp})
        return out, sp

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(not s["ok"] for s in self.samples)


def vectors_table(x: np.ndarray, labels: np.ndarray | None = None) -> pa.Table:
    cols = {"vec_id": pa.array(np.arange(len(x)), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    return pa.table(cols)


# ============================================================ txtai_ops


class TxtaiState:
    """An ``Embeddings`` over a text corpus and an on-disk ``VectorIndex``
    over clustered vectors, each with a numpy mirror of what it should
    hold."""

    def __init__(self, ctx, run: Run, docs: list[dict], vectors: np.ndarray,
                 index_dir: str):
        from weaviate_txtai_spark import Embeddings, VectorIndex

        self.ctx, self.run, self.rng = ctx, run, ctx.rng
        self.docs = docs
        self.emb = Embeddings(ctx.spark)
        self.vix = VectorIndex(ctx.spark, index_dir)
        self.vectors = vectors
        # Embeddings mirror: id -> [docid, text, vector]
        self.m: dict[str, list] = {}
        self.offset = 0
        self.new_ids = 0
        # VectorIndex mirror
        self.vm: dict[int, np.ndarray] = {}
        self.voffset = 0
        self.mutations = 0       # follows Embeddings._mutations
        self.changed_bytes = 0
        self.written_bytes = 0

    # ----------------------------------------------------------- ingest

    def ingest(self) -> float:
        rows = [(f"d{d['doc_id']}", d["text"], None) for d in self.docs]

        def index():
            self.emb.index(rows)
            return self.emb.count()

        _, sp = self.run.call("write", "index", "embeddings", index,
                              check=lambda n: n == len(rows))
        for i, (uid, text, _) in enumerate(rows):
            self.m[uid] = [i, text, checks.hashing_encode(text)]
        self.offset = len(rows)
        self.mutations = 1
        self.run.call("write", "index_create", "index",
                      lambda: self.vix.index(self.vectors),
                      check=lambda _: self.vix.offset == len(self.vectors))
        self.vm = {i: v for i, v in enumerate(self.vectors)}
        self.voffset = len(self.vectors)
        return sp["seconds"]

    # ------------------------------------------------------------ reads

    def _truth(self, q: np.ndarray, where=None) -> dict:
        ids = [u for u, r in self.m.items() if where is None or where(r)]
        if not ids:
            return {}
        mat = np.stack([self.m[u][2] for u in ids]).astype(np.float32)
        s = np.round(checks.cosine(mat, q), 6)
        return dict(zip(ids, s.tolist()))

    def _docid(self, uid):
        return self.m[uid][0]

    def _query(self) -> str:
        return gen.query_texts(self.rng, 1)[0]

    def op_search(self):
        q = self._query()
        truth = self._truth(checks.hashing_encode(q))
        self.run.call("read", "search", "embeddings",
                      lambda: self.emb.search(q, 10),
                      check=lambda got: checks.ranked_ok(
                          got, truth, 10, min(10, len(truth)), key=self._docid))

    def op_similar_sql(self):
        q = self._query()
        thr = float(self.rng.choice([0.0, 0.1, 0.2]))
        min_len = int(self.rng.integers(50, 300))
        sql = (f"select id, length, score from txtai where similar('{q}') "
               f"and score >= {thr} and length >= {min_len} limit 10")
        truth = self._truth(checks.hashing_encode(q),
                            where=lambda r: len(r[1]) >= min_len)
        truth = {u: s for u, s in truth.items() if s >= thr}

        def check(got):
            if any(r["length"] != len(self.m[r["id"]][1]) for r in got):
                return False
            return checks.ranked_ok([(r["id"], r["score"]) for r in got],
                                    truth, 10, min(10, len(truth)))

        self.run.call("read", "similar_sql", "embeddings",
                      lambda: self.emb.search(sql), check=check)

    def op_aggregate(self):
        sql = ("select count(*) as n, min(length) as mn, max(length) as mx, "
               "sum(length) as total from txtai")
        lens = [len(r[1]) for r in self.m.values()]
        want = {"n": len(lens), "mn": min(lens), "mx": max(lens),
                "total": sum(lens)}
        self.run.call("read", "aggregate", "embeddings",
                      lambda: self.emb.search(sql),
                      check=lambda got: len(got) == 1 and got[0] == want)

    def op_batchsearch(self):
        qs = gen.query_texts(self.rng, 4)
        truths = [self._truth(checks.hashing_encode(q)) for q in qs]
        self.run.call(
            "read", "batchsearch", "embeddings",
            lambda: self.emb.batchsearch(qs, 5),
            check=lambda got: len(got) == len(qs) and all(
                checks.ranked_ok(g, t, 5, min(5, len(t)), key=self._docid)
                for g, t in zip(got, truths)))

    def _vquery(self, n: int) -> np.ndarray:
        keys = np.array(sorted(self.vm))
        base = np.stack([self.vm[k] for k in
                         self.rng.choice(keys, size=n)]).astype(np.float64)
        q = base + 0.3 * self.rng.standard_normal(base.shape) / 8.0
        return q / np.linalg.norm(q, axis=1, keepdims=True)

    def _vsearch(self, name: str, n: int):
        qs = self._vquery(n)
        keys = np.array(sorted(self.vm))
        mat = np.stack([self.vm[k] for k in keys])
        truths = [dict(zip(keys.tolist(), checks.cosine(mat, q).tolist()))
                  for q in qs]
        k = 10
        self.run.call(
            "read", name, "index",
            lambda: self.vix.search(qs.tolist(), k),
            check=lambda got: len(got) == n and all(
                checks.ranked_ok(g, t, k, min(k, len(t)), key=int, tol=1e-5)
                for g, t in zip(got, truths)))

    def op_index_search_expr(self):
        self._vsearch("index_search_expr", 4)

    def op_index_search_gemm(self):
        self._vsearch("index_search_gemm", 32)

    # ----------------------------------------------------------- writes

    def _embeddings_write(self, name, fn, check):
        depth = self.mutations % 8 + 1   # position in the checkpoint period
        _, sp = self.run.call("write", name, "embeddings", fn, check=check)
        sp["depth"] = depth
        self.mutations += 1

    def op_upsert(self):
        existing = sorted(self.m)
        pick = [str(u) for u in self.rng.choice(existing, size=2, replace=False)]
        self.new_ids += 1
        uids = pick + [f"n{self.new_ids}"]
        texts = [d["text"] for d in gen.documents(self.rng, len(uids))]
        rows = [(u, t, None) for u, t in zip(uids, texts)]
        for i, (u, t) in enumerate(zip(uids, texts)):
            self.m[u] = [self.offset + i, t, checks.hashing_encode(t)]
        self.offset += len(rows)
        self._embeddings_write("upsert", lambda: self.emb.upsert(rows),
                               check=lambda _: self.emb.offset == self.offset)

    def op_delete(self):
        existing = sorted(self.m)
        pick = [str(u) for u in self.rng.choice(existing, size=2, replace=False)]
        ids = pick + ["absent"]
        for u in pick:
            del self.m[u]
        self._embeddings_write("delete", lambda: self.emb.delete(ids),
                               check=lambda got: sorted(got) == sorted(pick))

    def _index_write(self, name, fn, changed_vectors: int):
        before = _files(self.vix.path)
        self.run.call("write", name, "index", fn,
                      check=lambda _: self.vix.offset == self.voffset)
        after = _files(self.vix.path)
        self.written_bytes += sum(sz for p, (sz, mt) in after.items()
                                  if before.get(p) != (sz, mt))
        self.changed_bytes += changed_vectors * self.vectors.shape[1] * 4

    def op_index_append(self):
        x, _ = gen.clustered_vectors(self.rng, 16)
        for i, v in enumerate(x):
            self.vm[self.voffset + i] = v
        self.voffset += len(x)
        self._index_write("index_append", lambda: self.vix.append(x.tolist()),
                          len(x))

    def op_index_upsert(self):
        keys = sorted(self.vm)
        ids = [int(i) for i in self.rng.choice(keys, size=3, replace=False)]
        ids.append(self.voffset)
        x, _ = gen.clustered_vectors(self.rng, len(ids))
        for i, v in zip(ids, x):
            self.vm[i] = v
        self.voffset = max(self.voffset, max(ids) + 1)
        items = [(i, v.tolist()) for i, v in zip(ids, x)]
        self._index_write("index_upsert", lambda: self.vix.upsert(items),
                          len(ids))

    def op_index_delete(self):
        keys = sorted(self.vm)
        ids = [int(i) for i in self.rng.choice(keys, size=4, replace=False)]
        for i in ids:
            del self.vm[i]
        self._index_write("index_delete", lambda: self.vix.delete(ids), len(ids))

    # ----------------------------------------------------------- stream

    def one_pass(self) -> list:
        """One cycle of the operation stream, in a fixed order (the seed
        decides the arguments): each read once, then one write run."""
        return [getattr(self, f"op_{n}") for n in TXTAI_READS + WRITE_RUN]

    def final_check(self):
        """Outside the measured window: both stores hold as many rows as
        their mirrors."""
        self.run.call("check", "final_counts", "check",
                      lambda: (self.emb.count(), self.vix.count()),
                      check=lambda c: c == (len(self.m), len(self.vm)))


def _files(root: str) -> dict:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def txtai_ops(ctx) -> Run:
    run = Run(ctx)
    docs = gen.documents(ctx.rng, TXTAI_DOCS)
    vectors, _ = gen.clustered_vectors(ctx.rng, TXTAI_VECTORS)
    st = TxtaiState(ctx, run, docs, vectors, os.path.join(ctx.work, "index"))
    ingest_s = st.ingest()
    run.extra["ingest_rows_per_s"] = (TXTAI_DOCS / ingest_s, "1/s", 1)
    n_ingest = len(run.samples)
    t_end = time.perf_counter() + ctx.seconds
    t_start = time.perf_counter()
    while not run.passes or time.perf_counter() < t_end:
        t = time.perf_counter()
        for op in st.one_pass():
            op()
        run.passes.append(time.perf_counter() - t)
    window = time.perf_counter() - t_start
    ops = run.samples[n_ingest:]
    run.extra["ops_per_s"] = (len(ops) / window, "1/s", len(ops))
    st.final_check()
    run.state = st
    run.measured = ops
    return run


# ============================================================ batch gates


def run_gate(ctx, run: Run, name: str, data_dir: str, oracle) -> None:
    """Build the gate's plan, force it with a ``noop`` write, and check
    the rows (read back from the cached result) against the oracle."""
    from weaviate_txtai_spark.plans.queries import queries

    fn = queries()[name]
    rec = ctx.rec

    def body():
        with rec.span(name, "plans.build"):
            df = fn(ctx.spark, data_dir)
        with rec.span(name, "plans.action"):
            df = df.persist()
            df.write.format("noop").mode("overwrite").save()
        return df

    df, _ = run.call("gate", name, "gate", body)
    sample = run.samples[-1]
    if df is not None:
        try:
            got = checks.normalise(df.columns, df.collect())
            sample["rows"] = len(got[1])
            sample["ok"] = oracle(name, got)
            if not sample["ok"]:
                run.notes.append(f"{name}: differs from its oracle")
        except Exception as e:  # a check that cannot run is a miss
            sample["ok"] = False
            run.notes.append(f"{name} check: {type(e).__name__}: {e}"[:300])
        df.unpersist(blocking=True)
    sample["cached_bytes_after"] = rec.cached_bytes()
    ctx.spark.catalog.clearCache()


def count_gap(ctx, name: str, data_dir: str) -> float:
    """Seconds of the same gate forced with ``count()`` (which lets
    Catalyst prune columns), for the count-vs-noop gap."""
    from weaviate_txtai_spark.plans.queries import queries

    with ctx.rec.span(name, "plans.count"):
        queries()[name](ctx.spark, data_dir).count()
    ctx.spark.catalog.clearCache()
    return ctx.rec.spans[-1]["seconds"] if ctx.rec.keep_spans else 0.0


class GateOracle:
    """DuckDB oracle results for the gates, computed once per run (the
    inputs do not change between passes)."""

    def __init__(self, ctx, data_dir: str, tables: list[str],
                 special: dict | None = None):
        from weaviate_txtai_spark.plans.queries import oracle_sql

        self.sql = oracle_sql()
        self.db = checks.Oracle(data_dir, tables, os.path.join(ctx.work, "duck"))
        self.special = special or {}
        self.cache: dict = {}

    def __call__(self, name: str, got) -> bool:
        if name in self.special:
            return self.special[name](got, self.db.columns(self.sql[name]))
        if name not in self.cache:
            self.cache[name] = self.db.run(self.sql[name])
        want = self.cache[name]
        return want is not None and checks.same_result(got, want)

    def close(self):
        self.db.close()


def batch_loop(ctx, run: Run, one_pass) -> None:
    t_end = time.perf_counter() + ctx.seconds
    while not run.passes or time.perf_counter() < t_end:
        t = time.perf_counter()
        one_pass()
        run.passes.append(time.perf_counter() - t)


# ============================================================ ann_batch


class Tiers:
    """IVF, IVF-PQ and exact top-k calls on the tier corpus, checked
    against a numpy brute force: recall@10 for the approximate tiers,
    the exact ranking for the top-k kernels."""

    def __init__(self, ctx, run: Run, x: np.ndarray, path: str, n_queries: int):
        self.ctx, self.run, self.x = ctx, run, x
        self.df = ctx.spark.read.parquet(path)
        rng = ctx.rng
        base = x[rng.choice(len(x), size=n_queries)].astype(np.float64)
        q = base + 0.5 * rng.standard_normal(base.shape) / 8.0
        self.q = q / np.linalg.norm(q, axis=1, keepdims=True)
        ids = np.arange(len(x))
        self.cos = [checks.cosine(x, v) for v in self.q]
        self.exact = [checks.topk(c, ids, 10) for c in self.cos]
        self.recall: dict[str, float] = {}

    def _qdf(self, n: int):
        return self.ctx.spark.createDataFrame(
            [(i, [float(v) for v in q]) for i, q in enumerate(self.q[:n])],
            "query_id long, query_vector array<float>")

    def _recall(self, name, rows):
        got = [[] for _ in self.q]
        for qid, vid in rows:
            got[int(qid)].append(int(vid))
        r = checks.recall_at(got, self.exact)
        self.recall[name] = r
        return r >= RECALL_FLOOR[name]

    def ivf(self):
        from weaviate_txtai_spark.operators.ann import IVFIndex

        rec = self.ctx.rec

        def body():
            with rec.span("ivf", "ann.train"):
                idx = IVFIndex.build(self.df, nlist=32)
            with rec.span("ivf", "ann.search"):
                rows = idx.search(self._qdf(len(self.q)), 10, nprobe=4).select(
                    "query_id", "vec_id").collect()
            return rows

        self.run.call("tier", "ivf", "tier", body,
                      check=lambda rows: self._recall("ivf", rows))

    def ivfpq(self):
        from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

        rec = self.ctx.rec
        queries = [(i, [float(v) for v in q]) for i, q in enumerate(self.q)]

        def body():
            with rec.span("ivfpq", "ivfpq.train"):
                idx = IVFPQIndex.build(self.df, nlist=16, m=8, k_pq=32,
                                       pq_iters=2)
            with rec.span("ivfpq", "ivfpq.search"):
                rows = idx.search(queries, 10, nprobe=4, shortlist=10).select(
                    "query_id", "vec_id").collect()
            return rows

        self.run.call("tier", "ivfpq", "tier", body,
                      check=lambda rows: self._recall("ivfpq", rows))

    def _exact_ok(self, rows, n):
        got = [[] for _ in range(n)]
        for r in sorted(rows, key=lambda r: (r[0], r[3])):
            got[int(r[0])].append((int(r[1]), float(r[2])))
        return all(
            checks.ranked_ok(g, dict(enumerate(self.cos[i].tolist())), 10, 10,
                             key=int, tol=1e-5)
            for i, g in enumerate(got))

    def topk_expr(self):
        from weaviate_txtai_spark.operators.topk import knn_topk

        n = 8
        self.run.call(
            "tier", "topk_expr", "topk.expr",
            lambda: knn_topk(self.df, self._qdf(n), 10, vector_col="embedding",
                             id_col="vec_id").select(
                "query_id", "vec_id", "score", "rank").collect(),
            check=lambda rows: self._exact_ok(rows, n))

    def topk_gemm(self):
        from weaviate_txtai_spark.operators.topk import knn_topk_gemm

        n = len(self.q)
        queries = [(i, [float(v) for v in q]) for i, q in enumerate(self.q)]
        self.run.call(
            "tier", "topk_gemm", "topk.gemm",
            lambda: knn_topk_gemm(self.df, queries, 10, vector_col="embedding",
                                  id_col="vec_id").select(
                "query_id", "vec_id", "score", "rank").collect(),
            check=lambda rows: self._exact_ok(rows, n))

    def all(self):
        self.ivf()
        self.ivfpq()
        self.topk_expr()
        self.topk_gemm()


def ann_batch(ctx) -> Run:
    run = Run(ctx)
    x, labels = gen.clustered_vectors(ctx.rng, ANN_VECTORS)
    data = os.path.join(ctx.work, "ann")
    os.makedirs(data, exist_ok=True)
    pq.write_table(vectors_table(x, labels), f"{data}/embeddings.parquet")
    oracle = GateOracle(ctx, data, ["embeddings"])

    def one_pass():
        for g in ANN_GATES:
            run_gate(ctx, run, g, data, oracle)

    try:
        batch_loop(ctx, run, one_pass)
        if ctx.trace:
            run.count_gaps = {g: count_gap(ctx, g, data) for g in ANN_GATES}
    finally:
        oracle.close()
    run.measured = run.samples
    run.ann_corpus = (x, f"{data}/embeddings.parquet")
    return run


# ============================================================ curation


def _curation_report_ok(got, columns) -> bool:
    """``curation_run``'s DuckDB oracle (a recursive-CTE replay of six
    stages) does not finish within minutes even on 300 documents, so the
    report is checked by its schema and funnel invariants instead."""
    cols, rows = got
    if cols != sorted(columns) or not rows:
        return False
    ix = {c: i for i, c in enumerate(cols)}
    srcs = [r[ix["source"]] for r in rows]
    want = sorted({f"src{i}" for i in range(0, gen.N_SOURCES, 2)})
    if sorted(srcs) != want:
        return False
    per_src = CURATION_DOCS // gen.N_SOURCES
    for r in rows:
        v = {c: r[i] for c, i in ix.items()}
        n_src = per_src + (int(v["source"][3:]) < CURATION_DOCS % gen.N_SOURCES)
        if not (v["n_docs"] == n_src
                and 0 < v["n_survivors"] <= v["n_docs"]
                and 0 <= v["n_clean"] <= v["n_survivors"]
                and 0 <= v["n_sampled"] <= v["n_clean"]
                and 0 <= v["sampled_tokens"] <= v["clean_tokens"]
                and v["sampled_tokens"] <= v["alloc"] + 1e-9
                and v["alloc"] <= v["cap"] + 1e-9
                and (v["n_sampled"] > 0 or v["n_packs"] == 0)):
            return False
    return True


def curation_batch(ctx) -> Run:
    run = Run(ctx)
    docs = gen.documents(ctx.rng, CURATION_DOCS)
    data = os.path.join(ctx.work, "curation")
    os.makedirs(data, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs), f"{data}/documents.parquet")
    run.shape = gen.corpus_shape(docs)
    oracle = GateOracle(ctx, data, ["documents"],
                        special={"curation_run": _curation_report_ok})

    def one_pass():
        for g in CURATION_GATES:
            run_gate(ctx, run, g, data, oracle)

    try:
        batch_loop(ctx, run, one_pass)
        if ctx.trace:
            run.count_gaps = {g: count_gap(ctx, g, data)
                              for g in CURATION_GATES}
    finally:
        oracle.close()
    run.measured = run.samples
    run.data_dir = data
    return run


WORKLOADS = {"txtai_ops": txtai_ops, "ann_batch": ann_batch,
             "curation_batch": curation_batch}


# ============================================================ layer probe


def probe(ctx, run: Run) -> None:
    """Direct calls into single layers, made by a traced run after its
    workload: the encoder, the dense-id pass and the vector tiers always
    (the tiers on the ``ann_batch`` corpus, at production settings, with
    recall@10 against numpy), and the Embeddings / VectorIndex ops or one
    gate when the workload itself made no such call. Samples land in
    ``run.probe``."""
    from weaviate_txtai_spark.functions.encoders import HashingEncoder
    from weaviate_txtai_spark.operators.ids import with_dense_ids

    probe_run = Run(ctx)
    rng = ctx.rng
    docs = gen.documents(rng, PROBE_DOCS)
    layers = {s["layer"] for s in run.samples}
    enc = HashingEncoder()
    texts = [d["text"] for d in docs]
    qtexts = gen.query_texts(rng, PROBE_QUERIES)
    probe_run.call("probe", "encode", "encoders.encode",
                   lambda: [enc.encode(t) for t in qtexts],
                   check=lambda out: all(
                       np.allclose(o, checks.hashing_encode(t))
                       for o, t in zip(out, qtexts)))
    tdf = ctx.spark.createDataFrame([(t,) for t in texts], "text string")
    probe_run.call("probe", "encode_df", "encoders.encode_df",
                   lambda: enc.encode_df(tdf).write.format("noop")
                   .mode("overwrite").save())
    probe_run.encode_df_rows = len(texts)
    probe_run.call("probe", "with_dense_ids", "ids",
                   lambda: sorted(r[0] for r in
                                  with_dense_ids(tdf, start=5)[0]
                                  .select("__dense_id").collect()),
                   check=lambda ids: ids == list(range(5, 5 + len(texts))))
    if "embeddings" not in layers:
        vecs, _ = gen.clustered_vectors(rng, PROBE_VECTORS)
        st = TxtaiState(ctx, probe_run, docs, vecs,
                        os.path.join(ctx.work, "probe_index"))
        st.ingest()
        for name in TXTAI_OPS:
            getattr(st, f"op_{name}")()
        probe_run.state = st
    corpus = getattr(run, "ann_corpus", None)
    if corpus is None:
        x, labels = gen.clustered_vectors(rng, ANN_VECTORS)
        path = os.path.join(ctx.work, "probe_vectors.parquet")
        pq.write_table(vectors_table(x, labels), path)
        corpus = (x, path)
    tiers = Tiers(ctx, probe_run, corpus[0], corpus[1], ANN_QUERIES)
    tiers.all()
    run.extra["recall_at_10"] = (
        sum(tiers.recall.values()) / max(1, len(tiers.recall)), "ratio",
        len(tiers.recall) * ANN_QUERIES)
    if "gate" not in layers:
        data = os.path.join(ctx.work, "probe_docs")
        os.makedirs(data, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(docs), f"{data}/documents.parquet")
        oracle = GateOracle(ctx, data, ["documents"])
        try:
            run_gate(ctx, probe_run, "dedup_exact", data, oracle)
        finally:
            oracle.close()
        probe_run.count_gaps = {"dedup_exact": count_gap(ctx, "dedup_exact",
                                                         data)}
    run.probe = probe_run


