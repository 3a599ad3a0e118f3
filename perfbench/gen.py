"""Seeded input generators for the benchmark.

Everything here is a pure function of a ``numpy.random.Generator``, so the
same ``--seed`` always gives the same inputs. The program under test only
ever sees what these functions return.
"""

from __future__ import annotations

import numpy as np

# The sf0.1 documents table draws its tokens uniformly from this
# 30-word vocabulary; near-duplicates there are a copy of another
# document with one extra marker token.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_MARKER = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20


def documents(rng: np.random.Generator, n_docs: int, *,
              near_dup_share: float = 0.05,
              exact_dup_share: float = 0.002) -> list[dict]:
    """Rows shaped like the sf0.1 ``documents`` table
    (doc_id, text, lang, source, n_chars): 10-100 uniform tokens from
    ``VOCAB``, source ``src{doc_id % 20}``, and injected duplicates. As
    in sf0.1, a near-duplicate copies an earlier document and appends the
    marker token; an exact duplicate copies it verbatim."""
    n_tok = rng.integers(10, 101, size=n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), size=k)])
             for k in n_tok]
    kind = rng.random(n_docs)
    for i in range(1, n_docs):
        if kind[i] < exact_dup_share:
            texts[i] = texts[int(rng.integers(0, i))]
        elif kind[i] < exact_dup_share + near_dup_share:
            texts[i] = f"{texts[int(rng.integers(0, i))]} {DUP_MARKER}"
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return [
        {"doc_id": i, "text": t, "lang": LANGS[int(g)],
         "source": f"src{i % N_SOURCES}", "n_chars": len(t)}
        for i, (t, g) in enumerate(zip(texts, langs))
    ]


def clustered_vectors(rng: np.random.Generator, n: int, dim: int = 64, *,
                      n_clusters: int = 32, spread: float = 0.35,
                      n_labels: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 unit vectors around ``n_clusters`` random unit
    centres, and a label per vector (``cluster % n_labels``, so labels
    are balanced like the sf0.1 ``embeddings`` table's 0..9)."""
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    cluster = rng.integers(0, n_clusters, size=n)
    x = centres[cluster] + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), (cluster % n_labels).astype(np.int32)


def query_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Short keyword queries over the document vocabulary."""
    vocab = np.array(VOCAB)
    return [" ".join(vocab[rng.integers(0, len(VOCAB),
                                        size=int(rng.integers(2, 6)))])
            for _ in range(n)]


def corpus_shape(rows: list[dict]) -> dict:
    """The measured shape of a documents corpus, for comparison with
    sf0.1's."""
    n_tok = np.array([len(r["text"].split()) for r in rows])
    chars = np.array([r["n_chars"] for r in rows])
    texts = [r["text"] for r in rows]
    return {
        "docs": len(rows),
        "tokens_min": int(n_tok.min()),
        "tokens_mean": round(float(n_tok.mean()), 1),
        "tokens_max": int(n_tok.max()),
        "chars_mean": round(float(chars.mean()), 1),
        "distinct_texts": len(set(texts)),
        "marker_docs": sum(DUP_MARKER in t.split() for t in texts),
        "sources": len({r["source"] for r in rows}),
        "langs": len({r["lang"] for r in rows}),
    }
