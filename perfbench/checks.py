"""Reference results computed from the generated inputs, never from the
program: numpy brute-force top-k, token-set Jaccard, union-find, and
Python twins of the curate operators' documented formulas."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np

from perfbench.gen import jaccard

SCORE_TOL = 1e-6
STOPWORDS = ("the", "a", "of", "and", "to")  # operators/textanalysis.py contract
MIN_FREQUENCY = 2  # operators/textops.py contract
N_SPECIALS = 4  # vocabulary ids start after the reserved specials


class CheckFailed(AssertionError):
    """An output of the program disagrees with the reference."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def micro6(x: float) -> int:
    return int(math.floor(x * 1e6 + 0.5))


def cosine_scores(vectors: np.ndarray, query: list[float]) -> np.ndarray:
    v = vectors.astype(np.float64)
    q = np.asarray(query, dtype=np.float64)
    return v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def topk(ids: np.ndarray, vectors: np.ndarray, query: list[float], k: int) -> list[tuple[int, float]]:
    """Exact cosine top-k: best score first, ties on the 6-decimal score
    broken by ascending id (the engine's result order)."""
    s = cosine_scores(vectors, query)
    order = np.lexsort((ids, -np.round(s, 6)))[:k]
    return [(int(ids[i]), float(s[i])) for i in order]


def check_exact(got: list[tuple[int, float]], want: list[tuple[int, float]], what: str) -> None:
    expect([i for i, _ in got] == [i for i, _ in want], f"{what}: ids {got} != {want}")
    for (_, a), (_, b) in zip(got, want):
        expect(abs(a - b) <= SCORE_TOL, f"{what}: score {a} != {b}")


def check_approx(
    got: list[tuple[int, float]], ids: np.ndarray, vectors: np.ndarray,
    query: list[float], k: int, what: str,
) -> None:
    """An approximate top-k must still be k distinct real points, best
    first, each carrying its true score."""
    expect(len(got) == k, f"{what}: {len(got)} results, want {k}")
    expect(len({i for i, _ in got}) == k, f"{what}: duplicate ids {got}")
    scores = [s for _, s in got]
    expect(scores == sorted(scores, reverse=True), f"{what}: not best-first {got}")
    true = cosine_scores(vectors[[int(i) for i, _ in got]], query)
    for (i, s), t in zip(got, true):
        expect(abs(s - t) <= SCORE_TOL, f"{what}: id {i} score {s} != {t}")


def recall(got_ids: list[int], want_ids: list[int]) -> float:
    return len(set(got_ids) & set(want_ids)) / len(want_ids)


def check_exact_dedup(kept_ids: set[int], docs: list[str]) -> None:
    first: dict[str, int] = {}
    for i, d in enumerate(docs):
        first.setdefault(hashlib.md5(d.encode()).hexdigest(), i)
    expect(kept_ids == set(first.values()), "exact_dedup: kept ids differ")


def check_pairs(pairs: list[tuple[int, int, int]], docs: list[str]) -> None:
    """Every verified pair is a real pair at Jaccard >= 0.5, reported
    with its exact micro-unit Jaccard."""
    for a, b, jm in pairs:
        expect(a < b, f"minhash pair ({a}, {b}) not ordered")
        j = jaccard(docs[a], docs[b])
        expect(j >= 0.5 and jm == micro6(j), f"minhash pair ({a}, {b}): {jm} vs J={j}")


def components(pairs: list[tuple[int, int, int]]) -> dict[int, int]:
    """Union-find: node -> smallest id in its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def quality(doc: str) -> tuple[int, int, int, int, int]:
    """(n_tokens, n_stopwords, stop_ratio_micro, avg_token_len_micro,
    quality_micro), evaluated in the operator's order of operations."""
    toks = doc.lower().split()
    n, stop = len(toks), sum(t in STOPWORDS for t in toks)
    ratio, avg = stop / n, sum(len(t) for t in toks) / n
    q = min(n / 50.0, 1.0) * 0.5 + ratio * 0.25 + min(avg / 8.0, 1.0) * 0.25
    return n, stop, micro6(ratio), micro6(avg), micro6(q)


def vocab(docs: list[str]) -> list[tuple[str, int, int]]:
    """(token, count, token_id) ordered by (count desc, token asc)."""
    counts = Counter(t for d in docs for t in d.lower().split())
    kept = sorted(((t, c) for t, c in counts.items() if c >= MIN_FREQUENCY), key=lambda tc: (-tc[1], tc[0]))
    return [(t, c, N_SPECIALS + r) for r, (t, c) in enumerate(kept)]
