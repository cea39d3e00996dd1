"""Seeded input generators. The library only ever sees what these return.

Every generator takes a ``numpy.random.Generator``; the harness derives one
per input from ``--seed``, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 64
N_CLUSTERS = 16
CLUSTER_SPREAD = 0.35  # per-coordinate noise around a unit-norm centre

ZIPF_TYPES = 50_000
ZIPF_EXPONENT = 1.1
DOC_LEN = (40, 80)  # tokens per document, uniform in [lo, hi)
NEARDUP_JACCARD = (0.6, 0.95)  # planted pairs land uniformly in this range


@dataclass
class Points:
    """Clustered vectors with a ``label`` payload, ready for upsert."""

    ids: np.ndarray  # int64
    vectors: np.ndarray  # float32, shape (n, DIM)
    labels: list[str]

    def rows(self, lo: int = 0, hi: int | None = None) -> list[tuple]:
        hi = len(self.ids) if hi is None else hi
        return [
            (int(self.ids[i]), self.vectors[i].tolist(), {"label": self.labels[i]})
            for i in range(lo, hi)
        ]

    def user_bytes(self, n: int | None = None) -> int:
        """Bytes a user hands over for the first ``n`` points: 8 B id +
        4 B per coordinate + payload key and value bytes."""
        labels = self.labels[:n]
        return len(labels) * (8 + 4 * DIM) + sum(len("label") + len(lab.encode()) for lab in labels)


def centres(rng: np.random.Generator) -> np.ndarray:
    c = rng.normal(size=(N_CLUSTERS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def clustered(rng: np.random.Generator, ctr: np.ndarray, n: int, first_id: int = 0) -> Points:
    """``n`` points around the given centres, with consecutive unique ids."""
    which = rng.integers(0, len(ctr), size=n)
    vecs = (ctr[which] + rng.normal(scale=CLUSTER_SPREAD, size=(n, DIM))).astype(np.float32)
    return Points(
        ids=np.arange(first_id, first_id + n, dtype=np.int64),
        vectors=vecs,
        labels=[f"c{int(w)}" for w in which],
    )


def queries(rng: np.random.Generator, ctr: np.ndarray, n: int) -> list[list[float]]:
    """Query vectors from the same mixture as the data, as Python floats
    that are exactly float32-representable."""
    return [v.tolist() for v in clustered(rng, ctr, n).vectors]


def _word(i: int) -> str:
    """Bijective base-26 name of vocabulary type ``i``: a, b, ..., z, aa, ..."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(97 + r) + s
    return s


def jaccard(a: str, b: str) -> float:
    """Token-set Jaccard under the engine's whitespace tokenizer."""
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


@dataclass
class Corpus:
    docs: list[str]  # doc_id = list index
    neardup_pairs: list[tuple[int, int, float]]  # (source id, copy id, Jaccard)
    exact_copies: list[tuple[int, int]]  # (source id, copy id)

    def vocabulary(self) -> int:
        return len({t for d in self.docs for t in d.split(" ")})


def corpus(rng: np.random.Generator, n_docs: int, n_neardup: int, n_exact: int) -> Corpus:
    """Zipf-distributed documents plus planted near-duplicate and exact
    copies. Copies are appended after the ``n_docs`` base documents, each
    from a distinct base document, so no two planted pairs share a doc."""
    words = [_word(i) for i in range(ZIPF_TYPES)]
    p = 1.0 / np.arange(1, ZIPF_TYPES + 1) ** ZIPF_EXPONENT
    p /= p.sum()
    docs = []
    for _ in range(n_docs):
        toks = rng.choice(ZIPF_TYPES, size=int(rng.integers(*DOC_LEN)), p=p)
        docs.append(" ".join(words[t] for t in toks))
    sources = rng.choice(n_docs, size=n_neardup + n_exact, replace=False)
    pairs = []
    for src in sources[:n_neardup]:
        target = rng.uniform(*NEARDUP_JACCARD)
        toks = docs[src].split(" ")
        copy = " ".join(toks)
        # swap random positions for uniformly drawn (mostly rare) types
        # until the set Jaccard drops to the target
        while jaccard(docs[src], copy) > target:
            toks[int(rng.integers(len(toks)))] = words[int(rng.integers(ZIPF_TYPES))]
            copy = " ".join(toks)
        pairs.append((int(src), len(docs), jaccard(docs[src], copy)))
        docs.append(copy)
    exact = []
    for src in sources[n_neardup:]:
        exact.append((int(src), len(docs)))
        docs.append(docs[src])
    return Corpus(docs, pairs, exact)
