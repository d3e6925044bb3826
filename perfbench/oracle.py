"""NumPy brute-force oracle for top-k answers.

Similarity is the engine's: ``dot(q / ||q||, v)`` with the stored
vector used raw. Ranking is ``similarity desc`` with ties broken by
document then position (the engine's D-2 order). A returned top-k is
accepted when it has the oracle's ids in the oracle's order and every
similarity agrees to within ``TOL``. Where the oracle itself holds two
similarities closer than ``TOL`` the order among them is not decided by
arithmetic this precise, so inside such a band (and at the k-th place)
any member may stand in for another, provided its similarity is right.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

TOL = 1e-9


@dataclass
class Expected:
    keys: list[tuple[str, int]]  # ranked (doc, position), length min(k, n)
    sims: np.ndarray  # their similarities
    band: dict[tuple[str, int], float]  # every key that may appear -> sim
    tied: bool  # some neighbouring similarities lie within TOL


def similarities(mat: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """(n,) for one query, (n, B) for a (B, d) batch."""
    q = np.atleast_2d(queries)
    sims = mat @ (q / np.linalg.norm(q, axis=1, keepdims=True)).T
    return sims[:, 0] if np.ndim(queries) == 1 else sims


def topk(
    names: np.ndarray, pos: np.ndarray, mat: np.ndarray, q: np.ndarray, k: int
) -> Expected:
    """Exact top-k of ``mat`` rows for query ``q``."""
    return rank(names, pos, similarities(mat, q), k)


def rank(names: np.ndarray, pos: np.ndarray, sims: np.ndarray, k: int) -> Expected:
    """Top-k of precomputed similarities."""
    n = sims.shape[0]
    kk = min(k, n)
    if kk == 0:
        return Expected([], np.zeros(0), {}, False)
    # everything that could rank within the top kk, allowing for TOL
    kth = np.partition(sims, n - kk)[n - kk]
    cand = np.flatnonzero(sims >= kth - TOL)
    order = cand[np.lexsort((pos[cand], names[cand], -sims[cand]))]
    top = order[:kk]
    ranked = sims[order]
    tied = bool(np.any(np.abs(np.diff(ranked)) <= TOL))
    return Expected(
        [(str(names[i]), int(pos[i])) for i in top],
        sims[top],
        {(str(names[i]), int(pos[i])): float(sims[i]) for i in order},
        tied,
    )


def check(got: list[tuple[str, int, float]], want: Expected) -> str | None:
    """None when ``got`` (ranked (doc, position, similarity) rows) is a
    correct answer, else the reason it is not."""
    if len(got) != len(want.keys):
        return f"{len(got)} rows, want {len(want.keys)}"
    keys = [(d, p) for d, p, _ in got]
    if len(set(keys)) != len(keys):
        return "duplicate rows"
    sims = np.array([s for _, _, s in got], dtype=np.float64)
    if len(sims) and not np.all(np.abs(sims - want.sims) <= TOL):
        i = int(np.argmax(np.abs(sims - want.sims)))
        return f"rank {i + 1}: similarity {sims[i]!r}, want {want.sims[i]!r}"
    if keys == want.keys:
        return None
    if not want.tied:
        i = next(i for i, (a, b) in enumerate(zip(keys, want.keys)) if a != b)
        return f"rank {i + 1}: {keys[i]}, want {want.keys[i]}"
    for key, s in zip(keys, sims):
        true = want.band.get(key)
        if true is None or abs(true - s) > TOL:
            return f"{key} is not in the top-k tie band"
    return None


def recall(exact: list[tuple[str, int]], approx: list[tuple[str, int]]) -> float:
    if not exact:
        return 1.0
    return len(set(exact) & set(approx)) / len(exact)
