"""Deduplication operators for training-data curation (north-star M3).

The reference has no dedup at all; these are the standard large-corpus
family, each chosen for its shuffle profile at 100 TB:

- exact: hash-groupBy on a fingerprint — one shuffle on a short key.
- n-gram Jaccard (exact): shingle inverted index + self-join — the
  *specification* for near-dup; quadratic in the worst case, used as the
  oracle and as the verify stage after LSH candidate generation.
- MinHash + LSH: per-doc signature (map-only, native exprs), band buckets,
  candidates only within equal (band, hash) buckets → the join touches
  near-dup candidates instead of all pairs. This is the scale path:
  shuffle volume is O(docs × bands), not O(docs²).
- SimHash: 64-bit weighted-bit signature via Arrow-batched pandas UDF;
  hamming-radius buckets (4 rotations of 16-bit blocks) for candidates.
- embedding cosine: exact threshold join (oracle-able) + random-hyperplane
  bucketing as the scale path.

Every operator returns DataFrames with deterministic orderings/keys so
results are oracle-hashable.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from weaviate_txtai_spark.cache import scoped_persist
from weaviate_txtai_spark.functions.text import fingerprint, shingles, tokens
from weaviate_txtai_spark.functions.vector import cosine_sim
from weaviate_txtai_spark.operators.topk import decode_vectors, unit_rows
from weaviate_txtai_spark.sources.tables import spread


# ------------------------------------------------------------------ exact

def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-dup summary on the normalized fingerprint."""
    fp = docs.select(fingerprint(text_col).alias("fp"))
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_exact_dups"),
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id document per fingerprint group. NULL ids are
    excluded first: NULLS-FIRST ordering would otherwise crown a
    NULL-id document the canonical survivor and drop its real-id
    duplicates."""
    w = Window.partitionBy("__fp").orderBy(F.asc(id_col))
    return (
        docs.filter(F.col(id_col).isNotNull())
        .withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# -------------------------------------------------- exact n-gram Jaccard

def _shingle_table(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    # NULL ids excluded: grouped as a value they would merge every
    # unkeyed document's shingles into one pseudo-document whose union
    # signature near-dups half the corpus
    return spread(docs.filter(F.col(id_col).isNotNull())).select(
        F.col(id_col).alias("__id"), F.explode(shingles(text_col, n)).alias("__sh")
    )


def jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with n-gram-shingle Jaccard >= threshold (exact).

    Plan: explode distinct shingles -> self-equi-join on shingle (only
    docs sharing a shingle ever meet — the inverted-index trick, no
    crossJoin) -> count common -> Jaccard from |A|,|B|,|A∩B|.
    Output: d1, d2 (d1 < d2), jaccard rounded to 6dp.

    Three plan-level optimizations (~4× at sf0.1):
    - shingles are hashed to int64 immediately (xxhash64), so the
      self-join shuffles/compares 8-byte keys, not ~20-byte strings;
      collision probability across D distinct shingles is ~D²/2⁶⁵ —
      at a billion distinct shingles still ~3%: per-pair effect is a
      ±1 common-count, far inside the threshold margin for near-dups.
    - the shingle table feeds three plan branches (join a, join b,
      sizes); it is persisted so tokenize+shingle+hash runs once, not
      three times.
    - size-band pruning: shingles are DISTINCT per doc, so jaccard(A,B)
      = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|); a pair can reach the
      threshold only when t·max ≤ min. Each side carries its shingle
      count (broadcast join — one row per doc) and the self-join drops
      size-incompatible pairs BEFORE the pairwise count-aggregate,
      which is where the quadratic blowup lives.

    ``max_doc_freq`` (opt-in; default None = exact semantics, which the
    oracle pins): drop shingles appearing in more than this many docs
    BEFORE the pair join. At corpus scale a stopword shingle ("of the
    and") appears in millions of docs and alone contributes O(df²)
    candidate pairs — the known hot-key failure (SCALING.md). Capping df
    removes exactly those keys; Jaccard is then computed consistently
    over the capped shingle universe (sizes AND commons both exclude
    capped shingles). Near-dups still share plenty of rarer shingles —
    that's the documented quality trade, so the cap is off unless asked
    for.
    """
    if max_doc_freq is None:
        # exact mode (the oracle-pinned default): shingles are DISTINCT
        # per doc (functions.text.shingles = array_distinct), so each
        # doc's size is just the array length BEFORE the explode — the
        # __sz column rides along map-only. The previous shape computed
        # sizes as a groupBy and re-attached them with a forced
        # broadcast join: a per-DOC table, corpus-sized at 100 TB (past
        # the 8 GB broadcast cap), and an avoidable aggregate+join
        # locally (r13 opt; guide §2.4 — remove the shuffle outright).
        #
        # The persist sits BEFORE the explode, on the compact
        # (id, size, array) form: exploding directly from the raw
        # expression lets InferFiltersFromGenerate push a
        # `size(<full shingle expr>)>0` filter below the spread
        # exchange — the heavy array evaluated per row on the ONE
        # pre-repartition input partition (measured 2.2× slower; the
        # r12 mapInPandas-input-edge lesson, Generate edition). From
        # the cached array column the inferred filter is a cheap
        # column reference, and the two self-join consumers re-run
        # only the explode+hash, not tokenize+shingle.
        # EAGER: the two self-join sides re-run explode+hash from this
        # cache as concurrent stages of one action — on a lazy fill they
        # raced the tokenize+shingle pass (the r13 fan-out regression;
        # r14 opt). StorageLevel (r14 audit): docs-sized rows carrying
        # the distinct-shingle ARRAY — roughly corpus-scale bytes;
        # MEMORY_AND_DISK_DESER deliberately (spill bounds the worst
        # case at a disk round-trip; recompute = tokenize+shingle per
        # self-join side).
        from pyspark import StorageLevel

        base = scoped_persist(
            spread(docs.filter(F.col(id_col).isNotNull()))
            .select(
                F.col(id_col).alias("__id"), shingles(text_col, n).alias("__a")
            )
            .select("__id", F.size("__a").alias("__sz"), F.col("__a")),
            StorageLevel.MEMORY_AND_DISK_DESER,
            eager=True,
        )
        shz = base.select(
            "__id", "__sz", F.explode("__a").alias("__sh")
        ).select("__id", "__sz", F.xxhash64("__sh").alias("__sh"))
    else:
        sh = _shingle_table(docs, text_col, id_col, n).select(
            "__id", F.xxhash64("__sh").alias("__sh")
        )
        # persist BEFORE the df-cap: the cap's frequency aggregate and
        # the capped table's own materialization would otherwise each
        # re-run the tokenize+shingle+hash pipeline — the dominant
        # map-side cost
        sh = scoped_persist(sh, eager=True)  # 2 consumers fan out (r14)
        df_counts = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
        sh = scoped_persist(
            sh.join(df_counts.filter(F.col("__df") <= int(max_doc_freq)), "__sh")
            .select("__id", "__sh"),
            eager=True,  # sizes agg + the pair join fan out (r14)
        )
        # capped mode: Jaccard is defined over the CAPPED shingle
        # universe, so sizes must be counted post-cap — an array-length
        # shortcut would be wrong here. No forced broadcast: per-doc
        # table, corpus-sized at scale; AQE broadcasts while small
        sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
        shz = sh.join(sizes, "__id")
    a = shz.alias("a")
    b = shz.alias("b")
    t = F.lit(threshold)
    common = (
        a.join(
            b,
            (F.col("a.__sh") == F.col("b.__sh"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.col("a.__sz") >= t * F.col("b.__sz"))
            & (F.col("b.__sz") >= t * F.col("a.__sz")),
        )
        .groupBy(F.col("a.__id").alias("d1"), F.col("b.__id").alias("d2"))
        .agg(
            F.count(F.lit(1)).alias("__common"),
            F.first(F.col("a.__sz")).alias("__sz1"),
            F.first(F.col("b.__sz")).alias("__sz2"),
        )
    )
    jac = F.col("__common") / (F.col("__sz1") + F.col("__sz2") - F.col("__common"))
    return (
        common.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


# ----------------------------------------------------------- MinHash LSH

def minhash_signature(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perms: int = 64,
) -> DataFrame:
    """Per-doc MinHash signature as array<long>, native exprs only.

    Permutation i = xxhash64(shingle, seed=i); signature[i] = min over
    the doc's RAW shingle strings. NOTE: NOT interchangeable with
    ``minhash_signatures_with_sets`` (which permutes the pre-hashed
    int64 shingles and carries the set columns) — never feed a table
    built here into the LSH/incremental family; store
    ``minhash_signatures_with_sets`` output instead.

    Shape: explode shingles once, hash each (shingle, perm) exactly once,
    then groupBy(doc) with num_perms min() aggregates. The min is computed
    map-side (partial aggregation), so the shuffle carries num_perms longs
    per doc per partition — NOT the shingles. The naive alternative
    (num_perms array_min(transform(...)) projections) rebuilds the shingle
    strings once per permutation and runs ~30x slower.
    """
    sh_tbl = _shingle_table(docs, text_col, id_col, n)
    aggs = [
        F.min(F.xxhash64("__sh", F.lit(p))).alias(f"__m{p}")
        for p in range(num_perms)
    ]
    return (
        sh_tbl.groupBy("__id")
        .agg(*aggs)
        .select(
            "__id", F.array(*[F.col(f"__m{p}") for p in range(num_perms)]).alias("__sig")
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_perms: int = 64,
    bands: int = 16,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    With 16 bands × 4 rows, a 0.8-Jaccard pair misses all bands with
    p ≈ (1-0.8^4)^16 ≈ 2e-5; candidates are then *verified* against the
    exact shingle Jaccard, so precision is exact and output ==
    ``jaccard_pairs`` up to LSH recall. Shuffle: O(docs × bands) bucket
    rows + the verify join on candidates only.

    ``signatures``: a precomputed ``minhash_signatures_with_sets`` table
    (the caller manages its persistence) — pass it when the same batch's
    signatures feed several consumers (the streaming near-dedup sink
    computes them once for in-batch pairs, the store join, AND the store
    write); ``docs`` is ignored then.
    """
    rows = num_perms // bands
    # ONE pass over the shingles (minhash_signatures_with_sets): a single
    # groupBy(doc) computes the num_perms signature mins AND the doc's
    # hashed-shingle set together. All map-side partial aggregates, so
    # the only wide shuffle carries (num_perms longs + the set) per doc —
    # the set is exactly what the verify stage needs anyway — and the
    # corpus-sized shingle table is never persisted (at 100 TB caching it
    # would be hostile; the per-doc table is docs-sized and caches
    # cheaply).
    # EAGER: the banding self-join's two sides and the verify join all
    # fan out over this table as concurrent stages of one action — on a
    # lazy fill they raced the one shingle pass (r14 opt). StorageLevel
    # (r14 audit): docs-sized rows carrying num_perms longs + the
    # hashed-shingle SET (corpus-scale bytes in the set column);
    # MEMORY_AND_DISK_DESER deliberately — all three consumers need the
    # rows, recompute = the full shingle pass per consumer.
    from pyspark import StorageLevel

    per_doc = signatures if signatures is not None else scoped_persist(
        minhash_signatures_with_sets(
            docs, text_col=text_col, id_col=id_col, n=n, num_perms=num_perms
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
        eager=True,
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(
                    *[F.col(f"__m{b * rows + r}") for r in range(rows)]
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    buckets = per_doc.select(
        "__id", F.explode(band_structs).alias("bb")
    ).select("__id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    x = buckets.alias("x")
    y = buckets.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(F.col("x.__id").alias("d1"), F.col("y.__id").alias("d2"))
        .distinct()
    )
    # verify ONLY the candidates against exact Jaccard (precision = 1.0),
    # at PAIR granularity: attach both docs' shingle sets (already sitting
    # in the cached per-doc table) to each candidate pair and intersect in
    # a single codegen'd array_intersect. Joins are on d1/d2 doc ids, so
    # shuffle volume is O(candidate pairs + docs) rows — never a
    # shingle-row-granularity join. AQE picks broadcast for whichever side
    # is small at runtime; at 100 TB both joins degrade gracefully to
    # shuffle joins, still linear.
    doc_sets = per_doc.select("__id", "__set")
    paired = candidates.join(
        doc_sets.select(F.col("__id").alias("d1"), F.col("__set").alias("__s1")),
        "d1",
    ).join(
        doc_sets.select(F.col("__id").alias("d2"), F.col("__set").alias("__s2")),
        "d2",
    )
    inter = F.size(F.array_intersect("__s1", "__s2"))
    jac = inter / (F.size("__s1") + F.size("__s2") - inter)
    return (
        paired.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def minhash_signatures_with_sets(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perms: int = 64,
) -> DataFrame:
    """Per-doc MinHash signature columns (__m0..__m{P-1}) plus the hashed
    shingle set (__set) — the reusable artifact for incremental dedup.
    Pure function of the text: write it parquet alongside the corpus
    once (`df.write.parquet(...)`) and a daily batch never re-reads the
    corpus text, only this table (~(P+S) longs per doc)."""
    sh = _shingle_table(docs, text_col, id_col, n).select(
        "__id", F.xxhash64("__sh").alias("__sh")
    )
    return signatures_from_hashed_shingles(sh, num_perms=num_perms)


def signatures_from_hashed_shingles(
    sh: DataFrame, *, num_perms: int = 64
) -> DataFrame:
    """Per-doc (``__set``, ``__m0..__m{P-1}``) from an
    (``__id``, ``__sh`` int64) shingle table — the ONE construction the
    LSH banding and the pair-granularity verify depend on
    (``__m{p} = min(xxhash64(__sh, p))``). Shared by the text path
    (:func:`minhash_signatures_with_sets`) and the byte-payload path
    (``multimodal.binary.binary_dup_pairs``) so the two can never
    drift apart (r13 review)."""
    return sh.groupBy("__id").agg(
        F.collect_set("__sh").alias("__set"),
        *[
            F.min(F.xxhash64("__sh", F.lit(p))).alias(f"__m{p}")
            for p in range(num_perms)
        ],
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_perms: int = 64,
    bands: int = 16,
    corpus_signatures: DataFrame | None = None,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an existing corpus — the
    daily-ingest production shape: old×old pairs are never generated,
    so a day's batch dedups against 100 TB of history at the cost of
    the batch, not the history.

    Mechanics: both sides get the same banded signatures; the bucket
    join is bipartite (new side × corpus side only). Pass
    ``corpus_signatures`` (a stored ``minhash_signatures_with_sets``
    table) and the corpus TEXT is never read at all — the recurring
    cost is signatures for the new batch + a bucket join whose left
    side is batch-sized. Verification is the same pair-granularity
    array_intersect as ``minhash_lsh_pairs`` — precision exact, recall
    = banding recall. Output: new_id, corpus_id, jaccard.
    """
    rows = num_perms // bands

    def per_doc(docs: DataFrame) -> DataFrame:
        return minhash_signatures_with_sets(
            docs, text_col=text_col, id_col=id_col, n=n, num_perms=num_perms
        )

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(
                    *[F.col(f"__m{b * rows + r}") for r in range(rows)]
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )

    def buckets(per: DataFrame) -> DataFrame:
        return per.select("__id", F.explode(band_structs).alias("bb")).select(
            "__id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
        )

    # either side accepts a precomputed signature table (caller manages
    # its persistence); text is only read for sides without one
    new_pd = (
        new_signatures
        if new_signatures is not None
        else scoped_persist(per_doc(new_docs), eager=True)  # r14
    )
    old_pd = (
        corpus_signatures
        if corpus_signatures is not None
        else scoped_persist(per_doc(corpus), eager=True)  # r14
    )
    cand = (
        buckets(new_pd)
        .alias("x")
        .join(
            buckets(old_pd).alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            # a batch replayed after its append (or an overlapping id
            # space) would otherwise self-pair every doc at jaccard 1.0
            # and a drop-if-matched consumer would delete the whole batch
            & (F.col("x.__id") != F.col("y.__id")),
        )
        .select(
            F.col("x.__id").alias("new_id"), F.col("y.__id").alias("corpus_id")
        )
        .distinct()
    )
    paired = cand.join(
        new_pd.select(F.col("__id").alias("new_id"), F.col("__set").alias("__s1")),
        "new_id",
    ).join(
        old_pd.select(
            F.col("__id").alias("corpus_id"), F.col("__set").alias("__s2")
        ),
        "corpus_id",
    )
    inter = F.size(F.array_intersect("__s1", "__s2"))
    jac = inter / (F.size("__s1") + F.size("__s2") - inter)
    return (
        paired.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def duplicate_groups(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over the dup-pair graph. Returns (doc_id,
    group_id=min doc_id in component) for every doc appearing in a
    pair.

    Delegates to ``graph.connected_components`` — alternating
    large-star/small-star, O(log² n) rounds on any graph, with the
    single-task local finish once the pair set is small. The previous
    one-hop label propagation paid one distributed round per unit of
    component DIAMETER plus a changed-count job per round; the shared
    kernel converges in O(log²) rounds and, for the typical dup-pair
    graph (well under the local-finish threshold), in ONE pass. Raises
    ``RuntimeError`` past ``max_iter`` rather than returning
    unconverged labels, which would make downstream
    ``dedup_survivors`` silently keep multiple "representatives" of
    one group."""
    from weaviate_txtai_spark.operators.graph import connected_components

    return connected_components(
        pairs, src="d1", dst="d2", max_iter=max_iter
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("group_id"))


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """The dedup end-product: the corpus with duplicates DROPPED, keeping
    the min-id member of every duplicate group.

    Composition, not new machinery: ``duplicate_groups`` (connected
    components over near-dup pairs) gives (doc, group); every doc whose
    label differs from its own id is a non-representative duplicate and
    is anti-joined out. Docs in no pair never enter the component table
    and survive by construction — the anti-join touches only the pair
    graph (tiny vs the corpus), so the corpus shuffles zero times here.
    """
    groups = duplicate_groups(pairs)
    drop = groups.filter(F.col("group_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    # NO forced broadcast: at corpus scale the drop set can be a large
    # fraction of the corpus (dup-heavy crawls run >50%); AQE broadcasts
    # it when it is actually small, else this is one hash anti-join.
    # NULL-id docs are excluded, not "survivors": they can never appear
    # in the (guarded) pair graph, so the anti-join would re-admit them
    # as phantom survivors
    return docs.filter(F.col(id_col).isNotNull()).join(
        drop, id_col, "left_anti"
    )


def dedup_survivors_by(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    quality_col: str,
    id_col: str = "doc_id",
    keep: str = "max",
) -> DataFrame:
    """Dedup end-product with a QUALITY survivor policy: per duplicate
    group keep the member with the best ``quality_col`` (``keep='max'``
    — longest text, highest quality score; ``'min'`` — e.g. lowest
    perplexity), ties to the lowest id. Production pipelines keep the
    best member, not the arbitrary min-id one — min-id is a fine
    canonical REPRESENTATIVE (``dedup_survivors``) but a poor KEEP rule
    when members differ (truncated vs full copies of the same page).

    Plan: the group table (paired docs only — tiny vs the corpus) joins
    the corpus once to fetch quality (AQE broadcasts the group side),
    best-per-group is two aggregates OVER THE GROUP TABLE (max quality,
    then min id among the maximal — two steps instead of one
    ``max_by(struct)`` so no negation/overflow games for the id
    tie-break), and the corpus is touched only by the final anti-join.
    NULL quality never wins in either direction (aggregates skip
    NULLs); an all-NULL group falls back to min-id survival via the
    null-safe equality below.
    """
    if keep not in ("max", "min"):
        raise ValueError(f"dedup_survivors_by: keep must be max|min, got {keep!r}")
    groups = duplicate_groups(pairs)
    # persisted: mq feeds three branches (bq, best, drop) and Spark
    # shares no common subplans — unpersisted, the corpus-side quality
    # join would re-execute once per branch (release via cache_scope)
    mq = scoped_persist(
        groups.join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(quality_col).alias("__q")
            ),
            on="doc_id",
        )
    )
    agg = F.max("__q") if keep == "max" else F.min("__q")
    bq = mq.groupBy("group_id").agg(agg.alias("__bq"))
    best = (
        mq.join(bq, "group_id")
        .filter(F.col("__q").eqNullSafe(F.col("__bq")))
        .groupBy("group_id")
        .agg(F.min("doc_id").alias("__best_id"))
    )
    drop = (
        mq.join(best, "group_id")
        .filter(F.col("doc_id") != F.col("__best_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    # same phantom-survivor exclusion as dedup_survivors above
    return docs.filter(F.col(id_col).isNotNull()).join(
        drop, id_col, "left_anti"
    )


# ---------------------------------------------------------------- SimHash

def simhash_signatures(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash over per-token hashes (Arrow-batched pandas path —
    ``bits`` per-bit counters don't fit native exprs sensibly).

    ``token_hash``: ``'xxhash64'`` (default, 64-bit, fastest) or
    ``'md5'`` — the first ``bits/4`` hex chars of md5, a hash DuckDB can
    reproduce exactly (``('0x' || substr(md5(t), 1, 8))::BIGINT``), which
    makes the whole pipeline oracle-checkable end-to-end (VERDICT r1
    item 3). Use ``bits=32`` with md5 so the value stays in exact-int
    territory on both engines.
    """
    import numpy as np

    if token_hash == "xxhash64":
        th = lambda t: F.xxhash64(t)  # noqa: E731
    elif token_hash == "md5":
        if bits > 60:
            # 16 hex chars reach 2^64-1: conv() values >= 2^63 overflow
            # the signed-long cast (NULL or ANSI error → UDF crash).
            # 15 hex chars (60 bits) is the widest exact-long md5 prefix.
            raise ValueError(
                "token_hash='md5' supports bits <= 60 (signed-long range); "
                "use bits=32 for the oracle-parity mode or xxhash64 for 64"
            )
        th = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t), 1, bits // 4), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")

    tok = spread(docs).select(
        F.col(id_col).alias("__id"),
        F.transform(tokens(text_col), th).alias("__th"),
    )
    nbits = int(bits)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _id, hashes in zip(pdf["__id"], pdf["__th"]):
                # xxhash64 yields signed int64s; go through int64 then
                # .view(uint64) for well-defined wrapping — a direct
                # negative-int → uint64 asarray raises OverflowError on
                # NumPy >= 2.0 (deprecated since 1.24).
                h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
                if h.size == 0:
                    out.append((_id, 0))
                    continue
                bitmat = (
                    (h[:, None] >> np.arange(nbits, dtype=np.uint64)) & 1
                ).astype(np.int64)
                vote = bitmat.sum(axis=0) * 2 - h.size  # +1/-1 votes per bit
                sig = np.uint64(0)
                for j in range(nbits):
                    if vote[j] > 0:
                        sig |= np.uint64(1) << np.uint64(j)
                out.append((_id, np.int64(sig.astype(np.int64))))
            yield pd.DataFrame(out, columns=["doc_id", "simhash"])

    return tok.mapInPandas(compute, schema="doc_id long, simhash long")


def simhash_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Scale path: pigeonhole blocking on ``max_hamming + 1`` disjoint bit
    blocks — two signatures within hamming h differ in at most h blocks,
    so they MUST agree on at least one of h+1 blocks; the join only
    meets docs sharing a block value. The block count scales with
    max_hamming (a fixed 4-block split is complete only for h <= 3 and
    silently loses pairs beyond that). Output: d1, d2, hamming.
    """
    sig = simhash_signatures(
        docs, text_col=text_col, id_col=id_col, bits=bits, token_hash=token_hash
    )
    nblocks = int(max_hamming) + 1
    if nblocks > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more blocks than bits={bits}")
    base = bits // nblocks
    # distribute the remainder so every bit belongs to exactly one block
    widths = [base + (1 if q < bits % nblocks else 0) for q in range(nblocks)]
    offsets = [sum(widths[:q]) for q in range(nblocks)]
    quarters = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftright("simhash", offsets[q])
                .bitwiseAND(F.lit((1 << widths[q]) - 1))
                .alias("qh"),
            )
            for q in range(nblocks)
        ]
    )
    blocked = sig.select(
        F.col("doc_id"), "simhash", F.explode(quarters).alias("qq")
    ).select(
        "doc_id", "simhash", F.col("qq.q").alias("q"), F.col("qq.qh").alias("qh")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qh") == F.col("b.qh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------------- embedding cosine

def embedding_dup_pairs(
    emb: DataFrame,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
) -> DataFrame:
    """Exact cosine near-dup pairs (the specification; oracle-able).

    Self-join is a crossJoin at heart — fine to sf0.1; the scale path is
    ``embedding_dup_pairs_lsh``."""
    a = emb.select(F.col(id_col).alias("d1"), F.col(vector_col).alias("__v1"))
    b = emb.select(F.col(id_col).alias("d2"), F.col(vector_col).alias("__v2"))
    return (
        a.crossJoin(b)
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("cosine", F.round(cosine_sim("__v1", "__v2"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("d1", "d2", "cosine")
    )


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    num_planes: int = 4,
    num_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Scale path: random-hyperplane LSH buckets, exact-cosine verify.

    Each table hashes a vector to a num_planes-bit sign signature; only
    same-bucket pairs are scored. Defaults sized for tau=0.45: p(bit
    agree) = 1 - arccos(0.45)/pi ~ 0.648, p(table hit) = 0.648^4 ~ 0.18,
    recall over 16 tables ~ 0.95. At a true near-dup threshold (cosine
    >= 0.95) 8 planes x 4 tables gives > 0.99 recall with far fewer
    candidates. Recall < 1 by construction (record the parameters!);
    precision exact.

    Bucket signatures come from ONE Arrow-batched numpy GEMM per
    partition: (batch × dim) @ (dim × tables·planes) → sign bits →
    bucket int per table. The expression-tree alternative (tables ×
    planes literal-array dot products per row) is interpreted, not
    codegen'd, and runs ~100× slower.

    Verification is bucket-local: vectors ride along with their bucket
    keys (num_tables× data amplification — the same shuffle MLlib's
    approxSimilarityJoin pays), and each (table, bucket) group scores
    its own members with one normalized GEMM inside applyInPandas,
    emitting only pairs ≥ threshold. The distinct() then runs over
    surviving pairs (tiny), never over the raw candidate set — the
    previous plan shuffled every candidate pair through two array
    joins, which at low thresholds degenerates to worse than brute
    force. Hot buckets are scored in row-chunks so one skewed bucket
    costs O(chunk × bucket) memory, not O(bucket²).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    head = emb.select(vector_col).head()
    if head is None:  # empty input: no pairs, don't crash planning
        return emb.sparkSession.createDataFrame(
            [], "d1 long, d2 long, cosine double"
        )
    dim = len(head[0])
    proj = rng.standard_normal((dim, num_tables * num_planes))
    weights = np.asarray([1 << p for p in range(num_planes)], dtype=np.int64)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL ids dropped inside the Arrow batch (one vectorized
            # mask, ~free) rather than as a plan-level Filter node,
            # which measured +22% on this gate: an unkeyed vector has
            # no identity to pair and would emit NULL-id candidate
            # pairs inside its bucket group (same contract as
            # _shingle_table)
            if pdf["__id"].isna().any():
                pdf = pdf[pdf["__id"].notna()]
            if pdf.empty:
                continue
            mat = decode_vectors(pdf["__v"])
            bits = (mat @ proj) > 0
            bits = bits.reshape(len(pdf), num_tables, num_planes)
            buckets = (bits * weights).sum(axis=2)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "__id": np.repeat(pdf["__id"].to_numpy(), num_tables),
                    "t": np.tile(np.arange(num_tables, dtype=np.int32), n),
                    "bk": buckets.reshape(-1),
                    "__v": [v for v in pdf["__v"] for _ in range(num_tables)],
                }
            )

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        mat = unit_rows(decode_vectors(pdf["__v"]))
        out_d1, out_d2, out_cos = [], [], []
        chunk = 1024
        for lo in range(0, len(ids), chunk):
            sims = mat[lo : lo + chunk] @ mat.T
            # threshold on the 6dp-ROUNDED value, matching the exact
            # spec (embedding_dup_pairs) and its oracle — filtering the
            # raw cosine would drop pairs that round up to the boundary
            # and break planes=0 exactness-mode parity
            r, c = np.nonzero(np.round(sims, 6) >= threshold)
            keep = ids[r + lo] < ids[c]
            r, c = r[keep], c[keep]
            out_d1.append(ids[r + lo])
            out_d2.append(ids[c])
            out_cos.append(sims[r, c])
        if not out_d1:
            return pd.DataFrame({"d1": [], "d2": [], "cosine": []})
        return pd.DataFrame(
            {
                "d1": np.concatenate(out_d1),
                "d2": np.concatenate(out_d2),
                "cosine": np.round(np.concatenate(out_cos), 6),
            }
        )

    # __v stays array<double>: a float32 Arrow hop would truncate
    # double-typed embeddings in flight and move verify-stage cosines off
    # the exact path's 6dp values
    blocked = spread(
        # NULL-id exclusion lives INSIDE bucketize (see there): a
        # plan-level Filter here measured +22% on the sf0.1 gate
        emb.select(
            F.col(id_col).alias("__id"),
            F.col(vector_col).cast("array<double>").alias("__v"),
        )
    ).mapInPandas(bucketize, schema="__id long, t int, bk long, __v array<double>")
    return (
        blocked.groupBy("t", "bk")
        .applyInPandas(score_bucket, schema="d1 long, d2 long, cosine double")
        .distinct()
    )
