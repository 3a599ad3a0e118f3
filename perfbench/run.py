"""Benchmark for weaviate_txtai_spark: the txtai contract ops, the ANN
batch tiers and the curation pipeline on local Spark.

Run from the repository root::

    python3 perfbench/run.py --workload txtai_ops --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

``--workload all`` runs the three workloads one after another in one
process. Inputs are generated from ``--seed``; the library only sees the
generated inputs. Every output is checked (DuckDB oracles for the batch
gates, numpy brute force for the txtai reads and the vector tiers).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
print every metric by name with its unit and sample count. A traced run
first measures the workload untraced, then again with the Spark event log,
spans and per-call job counts on, and states the difference as the
tracing overhead. The spans and per-call counts are written to
``.perfbench_work/trace-<workload>-<seed>.json``.

All files the run writes stay under ``.perfbench_work/`` in the current
directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUPS = 3  # set-up is repeated and its median reported


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["txtai_ops", "ann_batch", "curation_batch", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare(work: str) -> None:
    """Keep every temporary file of this process and its children inside
    ``work``. Must run before pyspark is imported."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events", "duck"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (launcher and driver): temp files here, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def cpus() -> int:
    """Spark task slots: the CPUs this process may use, at most 4, so
    figures from bigger machines stay comparable with 4-CPU ones."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session(work: str, event_log: bool):
    from pyspark.sql import SparkSession

    n = cpus()
    b = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.eventLog.enabled", "true" if event_log else "false"))
    if event_log:
        b = (b.config("spark.eventLog.dir",
                      "file://" + os.path.join(work, "events"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """JVM code paths, a shuffle, and the Python workers of an Arrow UDF."""
    from pyspark.sql import functions as F

    from weaviate_txtai_spark.functions.encoders import HashingEncoder

    df = spark.createDataFrame([(f"warm up row {i}",) for i in range(64)],
                               "text string")
    HashingEncoder().encode_df(df).write.format("noop").mode("overwrite").save()
    keys = spark.range(7).withColumnRenamed("id", "k")
    spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count() \
        .join(keys, "k").collect()


def setup(work: str, event_log: bool, spark=None):
    """Session, ``ship.ensure_shipped`` and warm-up: returns the session
    and its seconds. A previous session is stopped first."""
    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    spark = start_session(work, event_log)
    from weaviate_txtai_spark.ship import ensure_shipped

    ensure_shipped(spark)
    warm_up(spark)
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """Stop Spark and the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # still running: kill it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Ctx:
    """What a workload needs: session, recorder, seed, paths."""

    def __init__(self, spark, rec, work, seed, seconds, trace):
        import numpy as np

        self.spark, self.rec, self.work = spark, rec, work
        self.seconds, self.trace = seconds, trace
        self.rng = np.random.default_rng(seed)


def run_phase(name: str, args, work: str, traced: bool, spark):
    """Set up ``SETUPS`` times, then run one workload; a traced run also
    runs the layer probe. Returns (spark, run)."""
    from measure import Recorder
    from workloads import WORKLOADS, probe

    setups = []
    for _ in range(SETUPS):
        spark, s = setup(work, traced, spark)
        setups.append(s)
    rec = Recorder(spark, count=traced, keep_spans=traced)
    phase_dir = os.path.join(work, f"{name}-{'traced' if traced else 'plain'}")
    os.makedirs(phase_dir, exist_ok=True)
    ctx = Ctx(spark, rec, phase_dir, args.seed, args.seconds, traced)
    with rec.span(name, "workload"):
        run = WORKLOADS[name](ctx)
    run.setups = setups
    if traced:
        probe(ctx, run)
        run.app_id = spark.sparkContext.applicationId
    return spark, run


def code_digest() -> str:
    """Digest of the library and benchmark sources: a stored untraced
    result is reused only by a traced run of the same code."""
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "weaviate_txtai_spark"), HERE):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "weaviate_txtai_spark")):
        print("perfbench: run from the repository root (no weaviate_txtai_spark "
              "package here)", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}")
    stored = os.path.join(base, "untraced")
    prepare(work)
    os.makedirs(stored, exist_ok=True)
    import report

    names = (["txtai_ops", "ann_batch", "curation_batch"]
             if args.workload == "all" else [args.workload])
    digest = code_digest()
    spark = None
    results = []
    try:
        for name in names:
            path = os.path.join(stored, f"{name}-{args.seed}-{digest}.json")
            plain = None
            # A traced run states its overhead against an untraced run of
            # the same seed and code: a stored one, or, with ``all``, one
            # measured now (a single traced run must stay within its time).
            if args.trace and os.path.exists(path):
                with open(path) as f:
                    plain = json.load(f)
            elif not args.trace or args.workload == "all":
                spark, run = run_phase(name, args, work, False, spark)
                plain = report.summary(name, run)
                with open(path, "w") as f:
                    json.dump(plain, f)
            traced = None
            if args.trace:
                spark, traced = run_phase(name, args, work, True, spark)
                spark.stop()   # flushes the event log
                spark = None
            results.append((name, plain, traced))
    finally:
        stop_jvm()
    out = report.emit(results, args, work)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
