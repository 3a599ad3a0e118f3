"""Measuring the library from outside: a fresh Spark job group around
every call, per-call job/stage/task counts from ``statusTracker()``,
benchmark-side spans, and the Spark event log of a traced run."""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Recorder:
    """Times calls and, when tracing, keeps a span per call.

    Every span gets its own job group, so each Spark job is attributed to
    the innermost span that launched it. A span is a dict with ``name``,
    ``layer``, ``parent``, ``start``/``end`` (epoch seconds),
    ``seconds``, and, when counting, ``jobs``/``stages``/``tasks``."""

    def __init__(self, spark, *, count: bool, keep_spans: bool):
        self.sc = spark.sparkContext
        self.count = count
        self.keep_spans = keep_spans
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"],
                                f"{span['layer']}:{span['name']}")

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = {"id": self._n, "parent": parent["id"] if parent else None,
              "name": name, "layer": layer, "group": f"perfbench-{self._n}",
              **attrs}
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["seconds"] = time.perf_counter() - t0
            sp["end"] = sp["start"] + sp["seconds"]
            self._stack.pop()
            self._set_group(parent)
            if self.count:
                self._count(sp)
            if self.keep_spans:
                self.spans.append(sp)

    def _count(self, sp: dict) -> None:
        """Jobs, stages run and tasks run under this span's own group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        stages: set[int] = set()
        jobs = st.getJobIdsForGroup(sp["group"])
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran, tasks = 0, 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks + info.numFailedTasks:
                ran += 1
                tasks += info.numCompletedTasks + info.numFailedTasks
        sp.update(jobs=len(jobs), stages=ran, tasks=tasks,
                  cached_bytes_after=self.cached_bytes())

    def cached_bytes(self) -> int:
        """Storage (memory + disk) held by cached RDDs right now."""
        return sum(int(i.memSize()) + int(i.diskSize())
                   for i in self.sc._jsc.sc().getRDDStorageInfo())


def subtree(spans: list[dict], root: dict) -> list[dict]:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def union_seconds(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the union of its
    children's intervals, summed by layer."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_seconds(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["seconds"] - covered
    return out


_PY_SENT = "data sent to Python workers"   # SQL metric, bytes


def read_event_log(path: str) -> dict:
    """Per job group: job intervals and summed task metrics from one
    application's Spark event log (uncompressed JSON lines)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    acc_names: set[str] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {"group": g,
                                      "start": ev["Submission Time"] / 1e3}
                for s in ev.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                agg = groups.setdefault(g, _zero())
                agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                agg["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                              + rd.get("Local Bytes Read", 0))
                wr = m.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = a.get("Name", "")
                    acc_names.add(name)
                    if name == _PY_SENT:
                        agg["python_bytes_sent"] += int(a.get("Update", 0))
    for j in jobs.values():
        agg = groups.setdefault(j["group"], _zero())
        if "end" in j:
            agg["intervals"].append((j["start"], j["end"]))
    return {"groups": groups, "accumulables": sorted(acc_names)}


def _zero() -> dict:
    return {"executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "python_bytes_sent": 0, "intervals": []}
