"""Turn workload runs into the printed report and the final JSON line."""

from __future__ import annotations

import json
import os

from measure import (median, percentile, read_event_log, self_seconds,
                     subtree, union_seconds)
from workloads import (ANN_GATES, ANN_TIERS, PROBE_QUERIES, TXTAI_OPS,
                       TXTAI_READS, TXTAI_WRITES)

# The JSON's end-to-end metrics: the ones every workload has and that
# repeat within the bounds on a shared 4-CPU box (per-call percentiles
# swing by more than a quarter between runs there, so they are printed
# but not bounded).
E2E = ["setup_s", "pass_s"]
# per-call counts by op or gate name; the curation gates' counts are in
# the trace file and the printed report
OP_NAMES = TXTAI_OPS + ANN_GATES + ANN_TIERS
EMB_OPS = ["index", "search", "similar_sql", "aggregate", "batchsearch",
           "upsert", "delete"]
INDEX_OPS = {"append": "index_append", "upsert": "index_upsert",
             "delete": "index_delete", "search_expr": "index_search_expr",
             "search_gemm": "index_search_gemm"}
TIER_LAYERS = {"ann.train_s": "ann.train", "ann.search_s": "ann.search",
               "ivfpq.train_s": "ivfpq.train", "ivfpq.search_s": "ivfpq.search",
               "topk.expr_s": "topk.expr", "topk.gemm_s": "topk.gemm"}
DEPTHS = range(1, 9)


def end_to_end(run) -> dict:
    secs = [s["seconds"] for s in run.measured]
    return {
        "setup_s": (median(run.setups), "s", len(run.setups)),
        "pass_s": (median(run.passes), "s", len(run.passes)),
        "op_p50_s": (median(secs), "s", len(secs)),
        "op_p90_s": (percentile(secs, 90), "s", len(secs)),
    }


def workload_metrics(name: str, run) -> dict:
    """The workload's own end-to-end figures, beyond the four every
    workload reports."""
    out = {"failed_share": (run.failed / max(1, run.attempted), "ratio",
                            run.attempted)}
    if name == "txtai_ops":
        for cat, names in (("read", TXTAI_READS), ("write", TXTAI_WRITES)):
            xs = [s["seconds"] for s in run.measured if s["name"] in names]
            out[f"{cat}_p50_s"] = (median(xs), "s", len(xs))
            out[f"{cat}_p90_s"] = (percentile(xs, 90), "s", len(xs))
    out.update(run.extra)
    return out


# ---------------------------------------------------------------- layers


def _totals(spans, root) -> dict:
    sub = subtree(spans, root)
    return {k: sum(s.get(k, 0) for s in sub) for k in ("jobs", "stages", "tasks")}


def per_layer(run, events: dict | None) -> dict:
    """Every per-layer metric. Layers the workload does not call are
    taken from the run's layer probe."""
    spans = run.ctx.rec.spans
    probe = getattr(run, "probe", None)
    pool = run.samples + (probe.samples if probe else [])
    n_pass = max(1, len(run.passes))
    m: dict[str, tuple] = {}

    measured = run.measured
    tot = {"jobs": 0, "stages": 0, "tasks": 0}
    for s in measured:
        for k, v in _totals(spans, s["span"]).items():
            tot[k] += v
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (tot[k] / n_pass, "count")

    def calls(name, layer=None):
        own = [s for s in run.samples if s["name"] == name
               and (layer is None or s["layer"] == layer)]
        if own or probe is None:
            return own
        return [s for s in probe.samples if s["name"] == name
                and (layer is None or s["layer"] == layer)]

    for op in OP_NAMES:
        cs = calls(op)
        t = [_totals(spans, s["span"]) for s in cs]
        m[f"spark.jobs.{op}"] = (median([x["jobs"] for x in t]), "count")
        m[f"spark.tasks.{op}"] = (median([x["tasks"] for x in t]), "count")

    gates = [s for s in pool if s["layer"] == "gate"]
    own_gates = [s for s in run.samples if s["layer"] == "gate"]
    if own_gates:
        gates = own_gates
    n_gate_pass = n_pass if own_gates else 1
    for part in ("build", "action"):
        ps = [c for g in gates for c in subtree(spans, g["span"])
              if c["layer"] == f"plans.{part}"]
        m[f"plans.{part}_s"] = (sum(c["seconds"] for c in ps) / n_gate_pass, "s")
        m[f"plans.{part}_jobs"] = (sum(c.get("jobs", 0) for c in ps)
                                   / n_gate_pass, "count")
    gaps = getattr(run, "count_gaps", None) or getattr(probe, "count_gaps", {})
    gap = 0.0
    for g, count_s in gaps.items():
        noop = median([s["seconds"] for s in gates if s["name"] == g])
        gap += noop - count_s
    m["plans.count_gap_s"] = (gap, "s")
    m["cache.cached_bytes_after"] = (max(
        [s.get("cached_bytes_after", s["span"].get("cached_bytes_after", 0))
         for s in measured] or [0]), "bytes")

    for op in EMB_OPS:
        m[f"embeddings.{op}_s"] = (median(
            [s["seconds"] for s in calls(op, "embeddings")]), "s")
    writes = [s for s in pool if s["span"].get("depth")]
    own_writes = [s for s in run.samples if s["span"].get("depth")]
    writes = own_writes or writes
    for d in DEPTHS:
        m[f"embeddings.tasks_at_depth_{d}"] = (median(
            [s["span"].get("tasks", 0) for s in writes
             if s["span"]["depth"] == d]), "count")

    src = probe if probe is not None else run
    enc = [s for s in src.samples if s["name"] == "encode"]
    encdf = [s for s in src.samples if s["name"] == "encode_df"]
    ids = [s for s in src.samples if s["name"] == "with_dense_ids"]
    m["encoders.encode_s"] = (median([s["seconds"] / PROBE_QUERIES
                                      for s in enc]), "s")
    m["encoders.encode_df_rows_per_s"] = (
        median([getattr(src, "encode_df_rows", 0) / s["seconds"]
                for s in encdf]), "1/s")
    m["ids.with_dense_ids_s"] = (median([s["seconds"] for s in ids]), "s")

    for short, op in INDEX_OPS.items():
        m[f"index.{short}_s"] = (median(
            [s["seconds"] for s in calls(op, "index")]), "s")
    st = getattr(run, "state", None) or getattr(probe, "state", None)
    m["index.bytes_written_per_changed_byte"] = (
        st.written_bytes / st.changed_bytes if st and st.changed_bytes else 0.0,
        "ratio")
    m["index.data_files"] = (len(st.vix._data_files()) if st else 0, "count")

    for metric, layer in TIER_LAYERS.items():
        m[metric] = (median([s["seconds"] for s in spans
                             if s["layer"] == layer]), "s")

    m.update(_event_metrics(run, events or {"groups": {}}, n_pass))
    return m


def _event_metrics(run, events: dict, n_pass: int) -> dict:
    spans = run.ctx.rec.spans
    groups = events["groups"]
    agg = {"executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "python_bytes_sent": 0}
    gap = 0.0
    for s in run.measured:
        sub = subtree(spans, s["span"])
        intervals = []
        for c in sub:
            g = groups.get(c["group"])
            if g is None:
                continue
            for k in agg:
                agg[k] += g[k]
            intervals += g["intervals"]
        covered = union_seconds(
            (max(a, s["span"]["start"]), min(b, s["span"]["end"]))
            for a, b in intervals if b > s["span"]["start"]
            and a < s["span"]["end"])
        gap += s["seconds"] - covered
    return {
        "executor.cpu_s": (agg["executor_cpu_s"] / n_pass, "s"),
        "executor.gc_s": (agg["gc_s"] / n_pass, "s"),
        "shuffle.read_bytes": (agg["shuffle_read_bytes"] / n_pass, "bytes"),
        "shuffle.write_bytes": (agg["shuffle_write_bytes"] / n_pass, "bytes"),
        "python.bytes_sent": (agg["python_bytes_sent"] / n_pass, "bytes"),
        "driver.gap_s": (gap / n_pass, "s"),
    }


def per_call_counts(run) -> dict:
    """jobs/stages/tasks of every call, by op or gate name, in call
    order; ``repeat`` says whether every call of a name launched the same
    job count."""
    spans = run.ctx.rec.spans
    out: dict[str, dict] = {}
    for s in run.samples:
        t = _totals(spans, s["span"])
        d = out.setdefault(s["name"], {"jobs": [], "stages": [], "tasks": []})
        for k in t:
            d[k].append(t[k])
    for d in out.values():
        d["repeat"] = len(set(d["jobs"])) == 1
    return out


# ---------------------------------------------------------------- output


def _line(workload, name, value, unit, n=None):
    n_s = f"  n={n}" if n is not None else ""
    print(f"{workload:15s} {name:40s} {value:>16.6g} {unit:6s}{n_s}")


def summary(name: str, run) -> dict:
    """What an untraced run reports, in a form that can be stored."""
    return {"e2e": end_to_end(run), "workload": workload_metrics(name, run),
            "attempted": run.attempted, "failed": run.failed,
            "passes": len(run.passes), "notes": run.notes[:20]}


def emit(results, args, work) -> dict:
    """Print every metric by name; return the final JSON object.

    ``results`` holds (workload, untraced summary or None, traced run or
    None) triples."""
    attempted = failed = 0
    metrics: dict[str, dict] = {}
    multi = len(results) > 1
    for name, plain, traced in results:
        key = (lambda k: f"{name}.{k}") if multi else (lambda k: k)
        if plain is not None:
            src = "this run" if traced is None else "the untraced run"
            print(f"# {name} ({src}): {plain['attempted']} calls checked, "
                  f"{plain['failed']} failed; {plain['passes']} passes")
            for note in plain["notes"]:
                print(f"#   {note}")
            for k, (v, unit, n) in {**plain["e2e"],
                                    **plain["workload"]}.items():
                _line(name, k, v, unit, n)
        if traced is None:
            attempted += plain["attempted"]
            failed += plain["failed"]
            for k in E2E:
                v, unit, _ = plain["e2e"][k]
                metrics[key(k)] = {"value": v, "unit": unit}
            continue
        attempted += traced.attempted + traced.probe.attempted
        failed += traced.failed + traced.probe.failed
        print(f"# {name} (traced): {traced.attempted} calls and "
              f"{traced.probe.attempted} layer-probe calls checked, "
              f"{traced.failed + traced.probe.failed} failed")
        for note in (traced.notes + traced.probe.notes)[:20]:
            print(f"#   {note}")
        te2e = end_to_end(traced)
        for k, (v, unit, n) in {**te2e, **workload_metrics(name, traced)}.items():
            _line(name, f"traced.{k}", v, unit, n)
        overhead = {}
        if plain is None:
            print(f"# {name}: no untraced run of this seed and code, so no "
                  f"tracing overhead")
        else:
            print(f"# {name}: tracing overhead = traced - untraced")
            for k in te2e:
                overhead[k] = te2e[k][0] - plain["e2e"][k][0]
                _line(name, f"overhead.{k}", overhead[k], "s")
        log = os.path.join(work, "events", traced.app_id)
        events = read_event_log(log) if os.path.exists(log) else None
        layers = per_layer(traced, events)
        for k, (v, unit) in layers.items():
            _line(name, k, v, unit)
            metrics[key(k)] = {"value": v, "unit": unit}
        counts = per_call_counts(traced)
        print(f"# {name}: job counts repeat across calls of: "
              f"{sorted(n for n, c in counts.items() if c['repeat'])}; "
              f"vary: {sorted(n for n, c in counts.items() if not c['repeat'])}")
        selfs = self_seconds(traced.ctx.rec.spans)
        for layer, sec in sorted(selfs.items()):
            _line(name, f"self_s.{layer}", sec, "s")
        trace_path = os.path.join(os.path.dirname(work),
                                  f"trace-{name}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({
                "workload": name, "seed": args.seed,
                "overhead_s": overhead,
                "per_call_counts": counts,
                "self_seconds": selfs,
                "count_gaps_s": getattr(traced, "count_gaps", {}),
                "accumulables": events["accumulables"] if events else [],
                "spans": traced.ctx.rec.spans,
            }, f, default=str)
        print(f"# {name}: spans and per-call counts in {trace_path}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
