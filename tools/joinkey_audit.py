"""JOIN-key census (VERDICT r12 task 2): enumerate every DataFrame
``.join(...)`` / ``.crossJoin(...)`` call in the package and classify
the NULL-key contract of each enclosing function.

Equijoins (and any comparison condition) silently DROP NULL keys —
``NULL = NULL`` is NULL, so a NULL-key row on either side never
matches. For an INNER or SEMI join that is a silent row-loss contract:
usually right (SQL semantics; DuckDB oracles agree), but wrong when
the join ENRICHES rows that a prior groupBy kept as a NULL group, or
when the caller expects every input row back. This census makes the
contract explicit per function, like the r12 groupBy/partitionBy
census (tools/nullkey_audit.py).

How-classes (structural, from the call itself):

  drop       - inner / semi / cross-with-condition: NULL keys vanish
  outer      - left/right/full outer: the preserved side keeps its
               NULL-key rows (with NULL match columns) - no row loss
  anti       - left_anti: NULL probe keys are KEPT unconditionally;
               censused and fixed in r12 (NOTES left_anti census)
  attach     - no `on` argument / crossJoin: scalar or domain-table
               cartesian attach, no keys to drop

Function-classes for `drop` sites (manual review, like nullkey_audit):

  a       guarded       - in-function isNotNull filter / loud raise
  b-der   derived       - keys created non-nullable (hash, row_number,
                          explode index, literal, bucket id, ...)
  b-up    upstream      - keys flow through a helper that guards
  b-gate  fixture gate  - plans/* gate bound to the driver tables;
                          Spark and DuckDB share NULL-join semantics
                          so oracle parity holds regardless
  d       documented    - NULL-key drop IS the documented contract
                          (FK orphans, dedup pair universe, ...)
  fix     real defect   - fixed + regression-tested this round

Usage: python tools/joinkey_audit.py [--md] [--unclassified]
"""
import ast
import glob
import sys

# (fix): real defect fixed + regression-tested in r13 — NULL-id corpus
# rows consumed ANN shortlist slots, then silently vanished at the
# exact-rerank equi-join (final top-n returned fewer than n true rows)
FIXED_R13 = {
    "adc_topk": "NULL-id codes excluded before shortlist (pq.py)",
    "hamming_topk": "NULL-id codes excluded before shortlist (topk.py)",
    "IVFIndex.build": "NULL-id rows excluded from the index",
    "IVFIndex.append": "same exclusion on append",
    "IVFIndex.append_to_saved": "same exclusion on physical append",
    "IVFPQIndex.append": "same exclusion (keeps layouts symmetric)",
    "IVFPQIndex.append_to_saved": "same exclusion on physical append",
}
# (b-der): every join key in the function is produced by a
# non-nullable expression (row_number/hash/posexplode/monotonic id/
# kmeans cell assignment/literal step index) on the path to the join
# — reviewed r13
DERIVED = {
    "simhash_pairs",            # q block id + simhash both derived
    "funnel_ab",                # step_idx is a literal step index
    "with_dense_ids",           # __pid from monotonically_increasing_id
    "IVFPQIndex._with_residual",  # cell from kmeans assignment
    "_with_residual",
    "_ann_search",              # engine-owned dense docid (operators/ids)
    "_ivfpq_search",
    "_prefix_sums",             # __pid from spark_partition_id
}
# (b-up): the named helper guards / derives the keys
UPSTREAM = {
    "jaccard_pairs": "_shingle_table",
    "prefix_filtered_pairs": "_shingle_table + token ids",
    "minhash_lsh_pairs": "_shingle_table guards __id; band/bh derived",
    "minhash_lsh_pairs_incremental": "_shingle_table; band/bh derived",
    "dedup_survivors": "duplicate_groups + isNotNull (r12 fix)",
    "dedup_survivors_by": "duplicate_groups + isNotNull (r12 fix)",
    "semantic_dedup_survivors": "dup pairs + isNotNull (r12 fix)",
    "semantic_dedup_pairs": "assign_clusters: invalid/NULL vectors get "
                            "no cluster -> non-candidates by design",
    "frequent_pairs": "basketize", "association_rules": "basketize",
    "frequent_itemsets": "basketize", "pmi_pairs": "basketize",
    "item_similarity": "basketize", "also_bought_topk": "basketize",
    "bm25_from_index": "build_text_index",
    "phrase_match": "build_postings",
    "phrase_doc_counts": "build_postings",
    "multi_phrase_match": "build_postings",
    "maxsim_topk": "maxsim_scores guards",
    "decontamination_report": "ngram kernels guard ids",
    "repeated_passages": "window_doc_pairs",
    "winnow_pairs": "winnow_fingerprints guards ids; fp derived hash",
    "twonn_intrinsic_dim": "knn_graph", "knn_label_loo_accuracy": "knn_graph",
    "adc_topk_rerank": "adc_topk excludes NULL ids (r13 fix)",
    "hamming_topk_rerank": "hamming_topk excludes NULL ids (r13 fix)",
    "IVFPQIndex.search": "codes/assigned NULL-id-free post r13 build fix"
                         " + query ids guarded in-function",
    "IVFIndex.search": "assigned NULL-id-free post r13 build fix"
                       " + query ids guarded in-function",
    "weekday_profile": "daily_counts guards ts+group",
    "volume_anomalies": "daily_counts guards ts+group",
    "_spearman_listwise_moments": "caller's dropna filter at entry",
    "stream_near_dedup": "_shingle_table guards __id; final left_semi "
                         "drops NULL-id docs = dedup_survivors contract",
    "handle": "see stream_near_dedup (its foreachBatch closure)",
}
# (b-cmp): graph operators — a NULL edge endpoint cannot pass the
# equijoin/semi-join on the node id, i.e. NULL endpoints are not graph
# nodes (same class as the r12 groupBy census's COMPARISON bucket)
COMPARISON = {
    "k_core", "graph_summary", "modularity", "link_scores",
}
# (d): NULL-key drop (or keep) is the operator's documented contract
VALUE_SEMANTICS = {
    "fd_error": "orphan counter separates n_null_fk from orphans",
    "key_uniqueness": "NULL is a profiled key value",
    "referential_orphans": "SQL FK semantics: NULL FK is not an orphan",
    "range_join": "documented 'inner pair-join': NULL ts/key rows can "
                  "never satisfy (l.ts, l.ts+w] — absent from output",
    "interval_join_stream": "inner interval join: a NULL-user event "
                            "is never 'the same user'",
    "pit_join": "caller-chosen `how` IS the NULL contract; NULL "
                "valid_to is handled explicitly (open interval)",
    "salted_join": "semantics-preserving twin of .join(keys, how)",
    "fs_weights_blocked": "NULL block key = unblockable record, "
                          "standard linkage blocking semantics",
    "fs_pattern_counts_blocked": "same blocking semantics",
    "fs_topk_blocked": "same blocking semantics",
    "pattern_pairs": "same blocking semantics",
    "cluster_top_terms": "a NULL-id doc cannot be matched to its "
                         "cluster assignment — absent from term "
                         "counts (documented in docstring)",
}


def _const_str(x):
    return x.value if isinstance(x, ast.Constant) and isinstance(
        x.value, str) else None


def _on_repr(x):
    if x is None:
        return "<none>"
    s = _const_str(x)
    if s is not None:
        return s
    if isinstance(x, (ast.List, ast.Tuple)):
        parts = [_const_str(e) or "<expr>" for e in x.elts]
        return ",".join(parts)
    if isinstance(x, ast.Name):
        return f"${x.id}"
    return "<cond>"


def _funcs(tree):
    """Yield (qualified_name, FunctionDef), methods as Class.method."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, ast.FunctionDef):
                    yield f"{node.name}.{sub.name}", sub


def sites_in(tree, src):
    """Yield (func_name, func_src, [(kind, how, on_repr, lineno)])."""
    for qname, node in _funcs(tree):
        fsrc = ast.get_source_segment(src, node) or ""
        out = []
        for sub in ast.walk(node):
            if not (isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Attribute)):
                continue
            at = sub.func.attr
            if at == "crossJoin":
                out.append(("attach", "cross", "<none>", sub.lineno))
                continue
            if at != "join":
                continue
            # exclude str.join: constant receiver, or a single arg
            # that is a comprehension/constant (separator.join(gen))
            if isinstance(sub.func.value, ast.Constant):
                continue
            # exclude os.path.join(...) / posixpath.join(...)
            recv = sub.func.value
            if (isinstance(recv, ast.Attribute) and recv.attr == "path"
                    ) or (isinstance(recv, ast.Name)
                          and recv.id in ("os", "posixpath", "ntpath",
                                          "path")):
                continue
            args, kws = sub.args, {k.arg: k.value for k in sub.keywords}
            if len(args) == 1 and not kws and isinstance(
                    args[0], (ast.GeneratorExp, ast.ListComp,
                              ast.Constant)):
                continue
            on = kws.get("on", args[1] if len(args) > 1 else None)
            how_node = kws.get("how", args[2] if len(args) > 2 else None)
            how = _const_str(how_node) if how_node is not None else (
                None if how_node is None else "<expr>")
            if how_node is not None and how is None:
                how = f"${getattr(how_node, 'id', '<expr>')}"
            if on is None:
                out.append(("attach", how or "cross", "<none>",
                            sub.lineno))
                continue
            h = how or "inner"
            if h in ("left_anti", "anti"):
                kind = "anti"
            elif h in ("left", "left_outer", "right", "right_outer",
                       "full", "outer", "full_outer"):
                kind = "outer"
            elif h in ("inner", "left_semi", "semi", "cross"):
                kind = "drop"
            else:
                kind = f"how?{h}"
            out.append((kind, h, _on_repr(on), sub.lineno))
        if out:
            yield qname, fsrc, out


def classify(path, name, has_guard):
    short = name.split(".")[-1]
    for n in (name, short):
        if n in FIXED_R13:
            return "fix->a"
        if n in VALUE_SEMANTICS:
            return "d"
        if n in UPSTREAM:
            return f"b-up({UPSTREAM[n]})"
        if n in DERIVED:
            return "b-der"
        if n in COMPARISON:
            return "b-cmp"
    if has_guard:
        return "a"
    if "/plans/" in path or path.endswith("__spark_entry__.py"):
        return "b-gate"
    return "UNCLASSIFIED"


def main():
    md = "--md" in sys.argv
    only_uncls = "--unclassified" in sys.argv
    rows = []
    for path in sorted(
            glob.glob("weaviate_txtai_spark/**/*.py", recursive=True)):
        src = open(path).read()
        for name, fsrc, sites in sites_in(ast.parse(src), src):
            drop_sites = [s for s in sites if s[0] == "drop"]
            guard = "isNotNull" in fsrc or "raise_error" in fsrc
            cls = (classify(path, name, guard) if drop_sites
                   else "-")
            rows.append((path, name, sites, cls))
    if md:
        print("| file | function | drop | outer | anti | attach "
              "| class | keys |")
        print("|---|---|---|---|---|---|---|---|")
    counts, site_counts = {}, {}
    for path, fn, sites, cls in rows:
        kinds = {}
        keys = set()
        for kind, how, on, _ in sites:
            kinds[kind] = kinds.get(kind, 0) + 1
            site_counts[kind] = site_counts.get(kind, 0) + 1
            if kind == "drop":
                keys.add(on)
        counts[cls.split("(")[0]] = counts.get(cls.split("(")[0], 0) + 1
        if only_uncls and cls != "UNCLASSIFIED":
            continue
        if md:
            print(f"| {path.replace('weaviate_txtai_spark/', '')} "
                  f"| {fn} | {kinds.get('drop', 0)} "
                  f"| {kinds.get('outer', 0)} | {kinds.get('anti', 0)} "
                  f"| {kinds.get('attach', 0)} | {cls} "
                  f"| {', '.join(sorted(keys))} |")
        else:
            print(f"{cls:12s} {path}:{fn} kinds={kinds} "
                  f"keys={sorted(keys)}")
    print(f"\nTOTAL functions with joins: {len(rows)}  "
          f"fn-class: {sorted(counts.items())}  "
          f"sites: {sorted(site_counts.items())}", file=sys.stderr)


if __name__ == "__main__":
    main()
