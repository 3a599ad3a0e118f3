"""txtai-level ``Embeddings`` facade: the user-facing API of the reference.

The reference backend serves txtai's ``Embeddings`` object, whose surface
the tests and notebook exercise end-to-end (reference
tests/ann/test_weaviate.py:135-170,209-218,254-317 and
examples/01_simple.ipynb cells 7-29):

- ``index([(id, data, tags), ...])``  — encode + store, dense docids
- ``upsert([...])``                   — replace by id / append new
- ``delete([id, ...])``               — by user id
- ``search(text, limit)``             — kNN, returns [(id, score)]
- ``search("select ... where similar('x') ...")`` — txtai SQL dialect
- ``similarity(query, texts)``        — ad-hoc brute force, no index
- ``count()``

Spark-first design decisions:

- **id ↔ docid mapping** lives as plain columns (``id: string``,
  ``docid: long``) in one DataFrame — the join the reference does
  through two systems (txtai SQLite + Weaviate) collapses into column
  projection (SURVEY §1.1).
- docids are **dense** from the running offset, matching the reference's
  counter (reference weaviate_txtai/ann/weaviate.py:67,143,149), and
  assigned by the parallel two-pass scheme in ``operators/ids`` — no
  global-order window (single-task), and never raw
  ``monotonically_increasing_id`` — it's non-dense by design.
- mutations are **set-oriented**: delete/upsert are anti-join + union,
  one shuffle for any number of ids, instead of the reference's N+1
  HTTP round-trips (weaviate.py:167-173, TODO at :170-171).
- ``similar('…')`` inside SQL text is rewritten into a score-column
  attachment on the ``txtai`` view; every other SQL feature (metadata
  predicates, aggregates, ORDER BY score, LIMIT) is plain Spark SQL.

The encoder is pluggable; the default ``HashingEncoder`` is
deterministic (token hash → signed buckets), so tests need no model
downloads and relevance assertions are reproducible.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from weaviate_txtai_spark.functions.encoders import HashingEncoder
from weaviate_txtai_spark.functions.vector import cosine_sim
from weaviate_txtai_spark.operators.topk import rank_top

_SIMILAR_RE = re.compile(r"similar\s*\(\s*'([^']*)'\s*\)", re.IGNORECASE)


def rewrite_similar_sql(sql: str) -> tuple[str, str | None]:
    """Split txtai's ``similar('…')`` predicate out of a SQL string.

    Returns (rewritten_sql, similar_text). The predicate itself becomes
    TRUE — in txtai it *drives scoring*, it does not filter; score
    thresholds arrive as separate ``score >= x`` conjuncts
    (reference examples/01_simple.ipynb cell 25).
    """
    found: list[str] = []

    def repl(m: re.Match) -> str:
        found.append(m.group(1))
        return "TRUE"

    rewritten = _SIMILAR_RE.sub(repl, sql)
    if len(found) > 1:
        raise ValueError("only one similar('…') clause is supported")
    return rewritten, (found[0] if found else None)


class Embeddings:
    """In-memory/cached txtai-style embeddings index over Spark.

    ``documents`` items are ``(id, data, tags)`` like txtai: ``data`` is
    the text, or a dict of ``{"text": ..., **metadata}``; tags are
    ignored (parity: the reference never uses them).
    """

    def __init__(
        self,
        spark: SparkSession,
        encoder: HashingEncoder | None = None,
        config: dict | None = None,
    ):
        from weaviate_txtai_spark.ship import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.encoder = encoder or HashingEncoder()
        # txtai-style config dict (examples/01_simple.ipynb cell 21:
        # content/objects flags). Columnar storage stores content either
        # way (SURVEY T6); the flag only changes the search RESULT SHAPE:
        # content=True returns row dicts with text, like txtai.
        self.config = dict(config or {})
        self.content = bool(self.config.get("content"))
        # ANN backend: "exact" (default — brute force, what txtai's
        # numpy backend does at this scale), "ivf" (cluster-pruned
        # search through operators.ann.IVFIndex — the role Weaviate's
        # server-side HNSW plays for the reference), or "ivfpq"
        # (cells + product-quantized residual codes through
        # operators.ivfpq.IVFPQIndex — the memory-bound tier: the
        # search scan reads m bytes/vector and the float corpus only
        # for the shortlist re-rank). Knobs under config["ivf"]: nlist
        # (default corpus//128, ≥4), nprobe (default 4; nprobe ==
        # nlist is exact); under config["ivfpq"]: nlist, m, k, iters,
        # nprobe, shortlist.
        self.backend = str(self.config.get("backend", "exact"))
        if self.backend not in ("exact", "ivf", "ivfpq"):
            raise ValueError(f"Embeddings: unknown backend {self.backend!r}")
        self._ann = None          # cached IVFIndex
        self._ann_mutations = -1  # mutation counter it was built at
        self._df: DataFrame | None = None
        self._meta_cols: list[str] = []
        # reference parity: running offset so docids never collide across
        # appends (weaviate.py:67,149; asserted tests/ann/test_weaviate.py:141)
        self.offset = 0
        self._mutations = 0

    # ------------------------------------------------------------ ingest

    def _to_rows(self, documents: Iterable) -> list[dict[str, Any]]:
        rows = []
        for item in documents:
            uid, data = item[0], item[1]
            if isinstance(data, dict):
                row = dict(data)
                text = row.pop("text", "")
            else:
                row, text = {}, str(data)
            # T5 parity: derived metadata computed at ingest
            # (examples/01_simple.ipynb cell 24 stores length=len(text))
            row.setdefault("length", len(text))
            rows.append({"id": str(uid), "text": text, **row})
        return rows

    def _encode_df(self, rows: list[dict[str, Any]], start: int) -> DataFrame:
        # txtai allows per-document metadata variance; unify the key set
        # (missing fields -> NULL) so one schema covers the batch
        keys: list[str] = []
        for r in rows:
            for k in r:
                if k not in keys:
                    keys.append(k)
        rows = [{k: r.get(k) for k in keys} for r in rows]
        # Keep full schema INFERENCE (it types list/dict metadata as
        # proper array/map columns — an explicit all-string schema would
        # silently store Python repr strings); only fields that are None
        # in EVERY row (which break inference) are pulled out and added
        # back as typed nulls.
        all_null = [
            k for k in keys if all(r.get(k) is None for r in rows)
        ]
        infer_rows = (
            [{k: v for k, v in r.items() if k not in all_null} for r in rows]
            if all_null
            else rows
        )
        df = self.spark.createDataFrame([Row(**r) for r in infer_rows])
        for k in all_null:
            df = df.withColumn(k, F.lit(None).cast("string"))
        # dense docids via the parallel two-pass scheme (operators/ids) —
        # no global-order window, so ingest stays parallel at any batch
        # size (SURVEY §7 hard-parts list).
        from weaviate_txtai_spark.operators.ids import with_dense_ids

        df, _ = with_dense_ids(df, start=start, id_col="docid")
        return self.encoder.encode_df(df, text_col="text")

    def index(self, documents: Iterable) -> None:
        """Drop any existing data and ingest (reference `index` ==
        drop-and-recreate, weaviate.py:112-135)."""
        rows = self._to_rows(documents)
        self.offset = 0
        # release the previous corpus cache like upsert/delete do — a
        # reindex loop otherwise accumulates orphaned cached frames in
        # executor storage until eviction pressure hits everything else
        if self._df is not None:
            self._df.unpersist()
        self._df = self._encode_df(rows, 0).cache()
        self._mutations += 1  # invalidates the cached ANN index
        self.offset = len(rows)
        self._meta_cols = [
            c for c in self._df.columns if c not in ("id", "docid", "vector")
        ]

    def upsert(self, documents: Iterable) -> None:
        """Replace rows whose id matches; append the rest. One anti-join +
        union — the set-oriented form of txtai's delete-then-append loop
        (reference tests/ann/test_weaviate.py:254-317)."""
        if self._df is None:
            return self.index(documents)
        rows = self._to_rows(documents)
        fresh = self._encode_df(rows, self.offset)
        self.offset += len(rows)
        kept = self._df.join(fresh.select("id"), "id", "left_anti")
        # conform the batch to the indexed schema: metadata columns the
        # new documents don't carry become NULL (novel columns would need
        # a reindex — same rule as any declared-schema store, SURVEY §1.2)
        for c in kept.columns:
            if c not in fresh.columns:
                fresh = fresh.withColumn(c, F.lit(None))
        old = self._df
        self._df = kept.unionByName(
            fresh.select(kept.columns), allowMissingColumns=False
        ).cache()
        old.unpersist()
        self._truncate_lineage()

    def delete(self, ids: Sequence) -> list:
        """Anti-join delete by user id — one shuffle for any number of
        ids (vs the reference's two HTTP round-trips per id). Returns
        the ids actually deleted (txtai's Embeddings.delete contract:
        absent ids are ignored, present ones are reported back)."""
        if self._df is None:
            return []
        ids_df = self.spark.createDataFrame(
            [(str(i),) for i in ids], schema="id string"
        )
        deleted = [
            r["id"]
            for r in self._df.join(ids_df, "id", "left_semi")
            .select("id")
            .collect()
        ]
        old = self._df
        self._df = old.join(ids_df, "id", "left_anti").cache()
        old.unpersist()
        self._truncate_lineage()
        return deleted

    def _truncate_lineage(self) -> None:
        """Every N mutations, cut the plan lineage with an eager
        localCheckpoint. Each upsert/delete stacks an anti-join + union
        on the previous plan; after hundreds of mutations the lineage
        alone costs analysis time and a failure would recompute the
        whole chain. Checkpointing materializes the current state and
        restarts the chain from it — the micro-scale analog of
        compaction in a Delta/Iceberg table."""
        self._mutations += 1
        if self._mutations % 8 == 0 and self._df is not None:
            cp = self._df.localCheckpoint(eager=True)
            # the pre-checkpoint cache entry is orphaned once cp takes
            # over (reads come from the checkpointed blocks) — release
            # it instead of leaking one entry per 8 mutations
            self._df.unpersist()
            self._df = cp

    # ------------------------------------------------------------- query

    def count(self) -> int:
        return 0 if self._df is None else self._df.count()

    def exists(self) -> bool:
        """txtai parity: True once an index has been built or loaded."""
        return self._df is not None

    def transform(self, document) -> list[float]:
        """txtai parity: encode one document (tuple or raw text) to its
        vector."""
        text = document[1] if isinstance(document, (tuple, list)) else document
        if isinstance(text, dict):
            text = text.get("text", "")
        return [float(x) for x in self.encoder.encode(str(text))]

    def batchtransform(self, documents) -> list[list[float]]:
        """txtai parity: encode a batch of documents to vectors."""
        return [self.transform(d) for d in documents]

    def _scored(self, text: str) -> DataFrame:
        qv = F.lit([float(x) for x in self.encoder.encode(text)])
        return self._df.withColumn(
            "score", F.round(cosine_sim(F.col("vector"), qv), 6)
        )

    # -------------------------------------------------------- ANN backend

    def _ann_index(self):
        """Build (or reuse) the IVF index over the current frame.
        Staleness is tracked by the monotonic ``_mutations`` counter
        (bumped by index/upsert/delete), NOT by ``id(self._df)``:
        after a mutation the old frame is unpersisted and GC'd, so
        CPython can hand the NEW frame the SAME id() and a search
        would silently serve the stale pre-mutation index (ADVICE
        r4)."""
        from weaviate_txtai_spark.operators.ann import IVFIndex

        if self._ann is not None and self._ann_mutations == self._mutations:
            return self._ann
        cfg = dict(self.config.get("ivf") or {})
        n = self._df.count()
        nlist = int(cfg.get("nlist", max(4, n // 128)))
        nlist = max(1, min(nlist, n))
        self._ann = IVFIndex.build(
            self._df, nlist=nlist, id_col="docid", vector_col="vector"
        )
        self._ann_mutations = self._mutations
        return self._ann

    def _ivfpq_index(self):
        """Build (or reuse) the IVF-PQ index — same mutation-counter
        staleness contract as ``_ann_index``. Codebook k and nlist are
        clamped to the corpus so tiny indexes stay trainable."""
        from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

        if self._ann is not None and self._ann_mutations == self._mutations:
            return self._ann
        cfg = dict(self.config.get("ivfpq") or {})
        n = self._df.count()
        # the ivfpq score contract is the unit-vector identity
        # cos = 1 − d²/2; a pluggable encoder that does NOT L2-normalize
        # would silently get wrong scores (exact/ivf backends rank true
        # cosine and stay correct) — enforce the invariant once per
        # build with one corpus aggregate
        worst = (
            self._df.select(
                F.abs(
                    F.aggregate(
                        "vector",
                        F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x,
                    )
                    - F.lit(1.0)
                ).alias("__e")
            )
            .agg(F.max("__e"))
            .collect()[0][0]
        )
        if worst is not None and worst > 1e-3:
            raise ValueError(
                "ivfpq backend requires L2-normalized vectors (the "
                "score contract is the unit-vector identity "
                "cos = 1 - d²/2); the configured encoder produced a "
                f"vector with |norm² - 1| = {worst:.3g} — normalize in "
                "the encoder or use backend='exact'/'ivf'"
            )
        nlist = max(1, min(int(cfg.get("nlist", max(4, n // 256))), n))
        m = int(cfg.get("m", 8))
        k = max(2, min(int(cfg.get("k", 16)), n))
        self._ann = IVFPQIndex.build(
            self._df,
            nlist=nlist,
            m=m,
            k_pq=k,
            pq_iters=int(cfg.get("iters", 1)),
            id_col="docid",
            vector_col="vector",
        )
        self._ann_mutations = self._mutations
        return self._ann

    def _ivfpq_search(self, qrows: list[tuple[int, list[float]]], limit: int):
        """IVF-PQ search for search/batchsearch: ADC shortlist + exact
        L2 re-rank, then the L2→cosine identity for unit vectors
        (encoders L2-normalize, so cos = 1 − d²/2 EXACTLY) converts the
        re-ranked distance into the facade's score contract."""
        idx = self._ivfpq_index()
        cfg = dict(self.config.get("ivfpq") or {})
        # `or`-defaults: an explicit None in the config dict must fall
        # back like a missing key, not crash in int(None)
        hits = idx.search(
            qrows,
            limit + 8,
            nprobe=int(cfg.get("nprobe") or 4),
            shortlist=int(cfg.get("shortlist") or 8),
        ).select(
            F.col("query_id").cast("int").alias("qid"),
            "docid",
            F.round(F.lit(1.0) - F.col("dist") / F.lit(2.0), 6).alias("score"),
        )
        hits = rank_top(hits, limit, key="score", id_col="docid",
                        descending=True, by="qid")
        cols = ["docid", "id", "text"] if self.content else ["docid", "id"]
        return (
            self._df.select(*cols)
            .join(F.broadcast(hits), "docid")
            .orderBy("qid", "rank")
        )

    def _ann_search(self, qrows: list[tuple[int, list[float]]], limit: int):
        """Shared ANN search for search/batchsearch: probe, score, join
        the hits back to their stored rows (broadcast: Q×limit ids)."""
        if self.backend == "ivfpq":
            return self._ivfpq_search(qrows, limit)
        idx = self._ann_index()
        nprobe = int(dict(self.config.get("ivf") or {}).get("nprobe", 4))
        qdf = self.spark.createDataFrame(qrows, "qid int, qv array<float>")
        # fetch a small slack then re-rank on the ROUNDED score with the
        # docid tie-break — the exact path's ordering contract. IVF ranks
        # raw doubles, so a pair tied at 6 dp could otherwise resolve to
        # a different (valid but non-canonical) member at the cut line.
        hits = idx.search(
            qdf, limit + 8, nprobe=nprobe,
            query_id_col="qid", query_vector_col="qv",
        ).select("qid", "docid", F.round("score", 6).alias("score"))
        hits = rank_top(hits, limit, key="score", id_col="docid",
                        descending=True, by="qid")
        cols = ["docid", "id", "text"] if self.content else ["docid", "id"]
        return (
            self._df.select(*cols)
            .join(F.broadcast(hits), "docid")
            .orderBy("qid", "rank")
        )

    def search(self, query: str, limit: int = 3) -> list:
        """Text query → [(id, score)] top-limit by cosine; SQL query
        (starts with 'select') → list of row dicts, txtai-style."""
        if self._df is None:
            return []
        # word-boundary match: "selecting the best trail" is a TEXT query;
        # bare startswith("select") would route it to spark.sql and crash
        if re.match(r"^\s*select\b", query, re.IGNORECASE):
            # SQL search stays exact regardless of backend: its WHERE
            # clauses filter the scored view, and a probe set chosen
            # before the filter would silently under-fill the limit
            return self._search_sql(query, limit)
        if self.backend in ("ivf", "ivfpq"):
            rows = self._ann_search(
                [(0, [float(x) for x in self.encoder.encode(query)])], limit
            ).collect()
            if self.content:
                return [
                    {"id": r["id"], "text": r["text"], "score": r["score"]}
                    for r in rows
                ]
            return [(r["id"], r["score"]) for r in rows]
        top = (
            self._scored(query)
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(limit)
        )
        if self.content:
            # content mode returns row dicts with the stored text, txtai
            # style: search(...)[0]["text"] (notebook cell 22)
            out = top.select("id", "text", "score").collect()
            return [r.asDict() for r in out]
        out = top.select("id", "score").collect()
        return [(r["id"], r["score"]) for r in out]

    def _search_sql(self, query: str, limit: int) -> list[dict]:
        rewritten, similar_text = rewrite_similar_sql(query)
        base = (
            self._scored(similar_text) if similar_text is not None else self._df
        )
        base.createOrReplaceTempView("txtai")
        # txtai ranks by score implicitly whenever similar() drives the
        # query; an explicit ORDER BY wins (cell 29 uses `order by score
        # asc`). Injected before any trailing LIMIT so the SQL stays
        # valid. NOT injected into aggregate queries (GROUP BY / no
        # per-row score in scope) — ordering an aggregate by the
        # non-grouped score column would be an analysis error.
        if (
            similar_text is not None
            and not re.search(r"\border\s+by\b", rewritten, re.IGNORECASE)
            and not re.search(r"\bgroup\s+by\b", rewritten, re.IGNORECASE)
        ):
            m = re.search(r"\blimit\s+\d+\s*$", rewritten, re.IGNORECASE)
            if m:
                rewritten = (
                    rewritten[: m.start()]
                    + " ORDER BY score DESC "
                    + rewritten[m.start() :]
                )
            else:
                rewritten += " ORDER BY score DESC"
        df = self.spark.sql(rewritten)
        if not re.search(r"\blimit\b", rewritten, re.IGNORECASE):
            df = df.limit(limit)
        return [r.asDict() for r in df.collect()]

    # ------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        """Persist index data + offset.

        The reference's ANN-level save is a deliberate no-op ("storage
        is external", weaviate.py:208-224) and its tests assert that a
        reloaded handle re-attaches to the still-existing data
        (tests/ann/test_weaviate.py:187-206). Columnar Spark gives both
        semantics at once: the parquet write IS the external store, and
        ``load`` re-attaches to it."""
        if self._df is None:
            raise RuntimeError("nothing indexed")
        self._df.write.mode("overwrite").parquet(os.path.join(path, "data"))
        with open(os.path.join(path, "embeddings_meta.json"), "w") as f:
            json.dump(
                {
                    "offset": self.offset,
                    "encoder_dim": self.encoder.dim,
                    # persist the config too: content=True changes the
                    # RESULT SHAPE of search; silently dropping it on
                    # reload would break callers indexing r["text"]
                    "config": self.config,
                },
                f,
            )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        encoder: HashingEncoder | None = None,
    ) -> "Embeddings":
        with open(os.path.join(path, "embeddings_meta.json")) as f:
            meta = json.load(f)
        self = cls(
            spark,
            encoder or HashingEncoder(meta["encoder_dim"]),
            config=meta.get("config") or None,
        )
        self._df = spark.read.parquet(os.path.join(path, "data")).cache()
        self._mutations += 1  # fresh frame: any cached ANN is stale
        self.offset = meta["offset"]
        self._meta_cols = [
            c for c in self._df.columns if c not in ("id", "docid", "vector")
        ]
        return self

    def batchsearch(self, queries: Sequence[str], limit: int = 3) -> list:
        """txtai ``batchsearch``: N text queries in ONE Spark job — the
        batch-first design the reference cannot express (it drops all
        but queries[0], weaviate.py:177). Query vectors broadcast onto a
        single scan of the index; per-query top-k via a window ranked
        inside each query partition. Returns a list of ``search``-shaped
        result lists, in query order."""
        if self._df is None or not queries:
            return [[] for _ in queries]
        qrows = [
            (i, [float(x) for x in self.encoder.encode(q)])
            for i, q in enumerate(queries)
        ]
        if self.backend in ("ivf", "ivfpq"):
            out: list[list] = [[] for _ in queries]
            for r in self._ann_search(qrows, limit).collect():
                if self.content:
                    out[r["qid"]].append(
                        {"id": r["id"], "text": r["text"], "score": r["score"]}
                    )
                else:
                    out[r["qid"]].append((r["id"], r["score"]))
            return out
        qdf = self.spark.createDataFrame(qrows, "qid int, qv array<float>")
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        top = (
            self._df.crossJoin(F.broadcast(qdf))
            .withColumn("score", F.round(cosine_sim("vector", "qv"), 6))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= limit)
        )
        cols = ["qid", "id", "text", "score"] if self.content else ["qid", "id", "score"]
        rows = top.select(*cols).orderBy("qid", "__rn").collect()
        out: list[list] = [[] for _ in queries]
        for r in rows:
            if self.content:
                d = r.asDict()
                d.pop("qid")
                out[r["qid"]].append(d)
            else:
                out[r["qid"]].append((r["id"], r["score"]))
        return out

    def batchsimilarity(
        self, queries: Sequence[str], texts: Sequence[str]
    ) -> list:
        """txtai ``batchsimilarity``: score every query against every
        ad-hoc text in one crossJoin job; returns per-query
        [(index, score)] sorted desc."""
        if not queries:
            return []
        data = self.spark.createDataFrame(
            list(enumerate(texts)), schema="idx int, text string"
        )
        scored = self.encoder.encode_df(data, text_col="text")
        qrows = [
            (i, [float(x) for x in self.encoder.encode(q)])
            for i, q in enumerate(queries)
        ]
        qdf = self.spark.createDataFrame(qrows, "qid int, qv array<float>")
        rows = (
            scored.crossJoin(F.broadcast(qdf))
            .withColumn("score", F.round(cosine_sim("vector", "qv"), 6))
            .select("qid", "idx", "score")
            .orderBy("qid", F.desc("score"), F.asc("idx"))
            .collect()
        )
        out: list[list] = [[] for _ in queries]
        for r in rows:
            out[r["qid"]].append((r["idx"], r["score"]))
        return out

    def similarity(self, query: str, texts: Sequence[str]) -> list:
        """Ad-hoc brute-force scoring, no stored index (reference Q9,
        examples/01_simple.ipynb cell 7): [(index, score)] sorted desc —
        the same cosine code path as search, over a throwaway frame."""
        data = self.spark.createDataFrame(
            list(enumerate(texts)), schema="idx int, text string"
        )
        scored = self.encoder.encode_df(data, text_col="text")
        qv = F.lit([float(x) for x in self.encoder.encode(query)])
        out = (
            scored.withColumn("score", F.round(cosine_sim("vector", qv), 6))
            .orderBy(F.desc("score"), F.asc("idx"))
            .select("idx", "score")
            .collect()
        )
        return [(r["idx"], r["score"]) for r in out]
