"""Test fixtures + a self-contained parallel runner (r14, VERDICT item 4).

The suite grew past the driver's verify budget (1716 tests, 35-43 min
serial: per-test cost is Spark job-scheduling latency on tiny data, not
CPU, so independent test FILES parallelize almost perfectly). There is
no network access to install pytest-xdist, so ``pytest_cmdline_main``
below implements the same idea in-tree: when pytest is invoked on the
WHOLE tests directory (the driver's ``python -m pytest tests/ -x -q``),
the parent process splits the test files into N size-balanced shards
and runs one pytest subprocess per shard, each with its own Spark
session (and its own warehouse dir — see the ``spark`` fixture). Any
targeted invocation (specific files, ``-k``, ``--collect-only``, …)
runs exactly as before, as does any shard subprocess, so test semantics
are unchanged — only the top-level scheduling is new.

Each shard's output streams line by line with a ``[shard i]`` prefix,
so a run cut by a timeout still shows where every shard was.

Opt out with ``SPARK_GRAFT_TEST_SERIAL=1``; size the pool with
``SPARK_GRAFT_TEST_WORKERS`` (default: min(8, cpus//4 but at least 2,
RAM // 5 GB, n_files)).
"""

import glob
import os
import re
import subprocess
import sys
import tempfile
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_SHARD_ENV = "SPARK_GRAFT_TEST_SHARD"


@pytest.fixture(scope="session")
def spark():
    # per-process warehouse dir: parallel shards must not collide on
    # ./spark-warehouse when a test saves a catalog table
    wh = tempfile.mkdtemp(prefix="wts_wh_")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("weaviate_txtai_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", wh)
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---------------------------------------------------------------------------
# parallel full-suite runner
# ---------------------------------------------------------------------------


def _whole_suite(config):
    """True iff pytest's parsed positional args (``config.args``: option
    values such as ``-p no:cacheprovider`` are already consumed) name
    only the tests dir or the repo root."""
    for a in config.args:
        p = os.path.abspath(a.split("::")[0])
        if p not in (_TESTS_DIR, os.path.dirname(_TESTS_DIR)):
            return False
    return True


# flags a shard repeats verbatim; anything else (selection, collection,
# reporting flags that change semantics) means a normal serial run
_PASSTHROUGH = {"-q", "--quiet", "-x", "--exitfirst", "-v",
                "--continue-on-collection-errors"}
# a shard's pytest holds a local[4] SparkSession with a 4g heap
_SHARD_RAM = 5 << 30


def _shard_flags(argv):
    """The flags every shard repeats (with ``-p``'s value), or None when
    argv holds a flag the parallel run cannot honour."""
    out, it = [], iter(argv)
    for a in it:
        if a == "-p":
            out += [a, next(it, "")]
        elif a.startswith("-p") or a in _PASSTHROUGH:
            out.append(a)
        elif a.startswith("-"):
            return None
    return out


def _default_workers(n_files):
    """min(8, cpus//4 (at least 2), RAM // 5 GB, files), at least 1."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    cpus = os.cpu_count() or 8
    return max(1, min(8, max(2, cpus // 4), ram // _SHARD_RAM, n_files))


def _shards(files, n):
    """Size-balanced shards: greedy largest-first onto the lightest
    shard — file size is a good proxy for test-file wall time here."""
    sized = sorted(files, key=lambda f: -os.path.getsize(f))
    shards = [[] for _ in range(n)]
    loads = [0] * n
    for f in sized:
        i = loads.index(min(loads))
        shards[i].append(f)
        loads[i] += os.path.getsize(f)
    return [s for s in shards if s]


def _stream(i, proc, last, lock):
    """Copy shard i's output to stdout line by line as it arrives, each
    line prefixed ``[shard i]``; keep the shard's last non-empty line
    (its pytest summary) in ``last[i]``."""
    for line in proc.stdout:
        if line.strip():
            last[i] = line
        with lock:
            sys.stdout.write(f"[shard {i}] {line}")
            sys.stdout.flush()


def pytest_cmdline_main(config):
    if os.environ.get(_SHARD_ENV) or os.environ.get("SPARK_GRAFT_TEST_SERIAL"):
        return None  # worker shard / explicit serial: run normally
    argv = config.invocation_params.args
    flags = _shard_flags(argv)
    if flags is None or not _whole_suite(config):
        return None
    files = sorted(glob.glob(os.path.join(_TESTS_DIR, "test_*.py")))
    if len(files) < 4:
        return None
    n_workers = int(
        os.environ.get("SPARK_GRAFT_TEST_WORKERS", 0)
    ) or _default_workers(len(files))
    exitfirst = any(a in ("-x", "--exitfirst") for a in argv)

    shards = _shards(files, n_workers)
    t0 = time.time()
    sys.stderr.write(
        f"[conftest] parallel run: {len(files)} files in {len(shards)} "
        f"shards (SPARK_GRAFT_TEST_SERIAL=1 to disable)\n"
    )
    sys.stderr.flush()
    procs, readers = [], []
    last = [""] * len(shards)
    lock = threading.Lock()
    for i, shard in enumerate(shards):
        env = dict(os.environ, **{_SHARD_ENV: str(i)})
        proc = subprocess.Popen(
            [sys.executable, "-m", "pytest", *flags, *shard],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            bufsize=1, cwd=os.path.dirname(_TESTS_DIR), env=env,
        )
        reader = threading.Thread(
            target=_stream, args=(i, proc, last, lock), daemon=True
        )
        reader.start()
        procs.append(proc)
        readers.append(reader)

    rcs = [None] * len(procs)
    try:
        while any(rc is None for rc in rcs):
            time.sleep(0.5)
            for i, p in enumerate(procs):
                if rcs[i] is None:
                    rcs[i] = p.poll()
                    # exit code 1 = test failures; stop the world on -x
                    if rcs[i] is not None and rcs[i] != 0 and exitfirst:
                        for q in procs:
                            if q.poll() is None:
                                q.terminate()
    except KeyboardInterrupt:
        for q in procs:
            if q.poll() is None:
                q.terminate()
        raise
    for r in readers:
        r.join(timeout=10)

    tally = {"passed": 0, "failed": 0, "skipped": 0, "error": 0,
             "errors": 0, "deselected": 0, "xfailed": 0, "xpassed": 0}
    for line in last:
        for num, kind in re.findall(r"(\d+) (\w+)", line):
            if kind in tally:
                tally[kind] += int(num)
    dur = time.time() - t0
    summary = ", ".join(f"{v} {k}" for k, v in tally.items() if v)
    worst = max((rc or 0) for rc in rcs)
    if any(rc is None for rc in rcs):
        worst = worst or 2
    sys.stdout.write(
        f"\n=== parallel total: {summary or 'no summary parsed'} "
        f"in {dur:.1f}s across {len(shards)} shards "
        f"(worst shard rc={worst}) ===\n"
    )
    sys.stdout.flush()
    return worst
