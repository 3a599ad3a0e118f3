"""Output checks: DuckDB oracle comparison for the batch gates, and numpy
brute-force references for the txtai surface and the vector tiers."""

from __future__ import annotations

import hashlib
import math
import threading

import numpy as np

# Scores are rounded to 6 decimals in the library and in the oracles; a
# reference computed in another summation order can land one unit away.
SCORE_TOL = 2e-6


def hashing_encode(text: str, dim: int = 64) -> np.ndarray:
    """Reference feature-hashing encoder: token -> md5 bucket and sign,
    L2-normalised. The library's default encoder is specified this way."""
    v = np.zeros(dim)
    for tok in text.lower().split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        v[h % dim] += 1 if (h >> 63) & 1 else -1
    n = np.linalg.norm(v)
    return v / (n or 1.0)


def cosine(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``matrix`` against ``q`` in float64; zero
    rows score 0."""
    m = matrix.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    denom = np.linalg.norm(m, axis=1) * np.linalg.norm(q)
    dots = m @ q
    return np.divide(dots, denom, out=np.zeros_like(dots), where=denom != 0)


def topk(scores: np.ndarray, keys: np.ndarray, k: int) -> list[int]:
    """Row indices of the top ``k`` by (score DESC, key ASC)."""
    order = np.lexsort((keys, -scores))
    return order[:k].tolist()


def ranked_ok(got: list[tuple], truth: dict, k: int, expected_len: int,
              key=None, tol: float = SCORE_TOL) -> bool:
    """Check one ranked result ``[(id, score), ...]`` against the true
    score of every candidate id.

    Passes when the result has the expected length, names distinct known
    ids, reports each id's true score, and its score sequence equals the
    true top-k sequence; when ``key`` is given, ids of equal reported
    score must also be in ascending ``key`` order (the tie-break)."""
    if len(got) != expected_len:
        return False
    ids = [g[0] for g in got]
    if len(set(ids)) != len(ids) or any(i not in truth for i in ids):
        return False
    best = sorted(truth.values(), reverse=True)[:k]
    for (i, s), b in zip(got, best):
        if abs(s - truth[i]) > tol or abs(s - b) > tol:
            return False
    if key is not None:
        for (i, s), (j, t) in zip(got, got[1:]):
            if s == t and key(i) > key(j):
                return False
    return True


def recall_at(got: list[list[int]], exact: list[list[int]]) -> float:
    hit = sum(len(set(g) & set(e)) for g, e in zip(got, exact))
    return hit / max(1, sum(len(e) for e in exact))


# ------------------------------------------------------------ DuckDB oracle

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple(
        (v is None, round(v, 4) if isinstance(v, float) else 0,
         "" if isinstance(v, float) else repr(v))
        for v in row
    )


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_values_equal, a, b))
    return a == b


def normalise(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form of a result: columns sorted by name, rows
    sorted by every column."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_sort_key)


def same_result(a: tuple[list[str], list[tuple]],
                b: tuple[list[str], list[tuple]]) -> bool:
    """Row count, column names and values (floats to the 6th decimal
    that the gates round to)."""
    (ca, ra), (cb, rb) = a, b
    return ca == cb and len(ra) == len(rb) and all(
        len(x) == len(y) and all(map(_values_equal, x, y))
        for x, y in zip(ra, rb)
    )


class Oracle:
    """A DuckDB connection with the generated tables registered as views,
    bounded in memory and time."""

    def __init__(self, data_dir: str, tables: list[str], tmp_dir: str,
                 memory: str = "1GB", threads: int = 2):
        import duckdb

        self.con = duckdb.connect(config={
            "memory_limit": memory, "threads": str(threads),
            "temp_directory": tmp_dir,
        })
        self.error = duckdb.Error
        for t in tables:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def run(self, sql: str, timeout_s: float = 60.0):
        """Normalised oracle result, or None when it cannot finish."""
        timer = threading.Timer(timeout_s, self.con.interrupt)
        timer.start()
        try:
            rel = self.con.sql(sql)
            return normalise(rel.columns, rel.fetchall())
        except self.error:  # out of memory or interrupted: no reference
            return None
        finally:
            timer.cancel()

    def columns(self, sql: str) -> list[str]:
        """Output column names of ``sql`` without executing it."""
        return list(self.con.sql(sql).columns)

    def close(self) -> None:
        self.con.close()
