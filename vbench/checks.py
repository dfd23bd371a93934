"""Independent numpy truths and tie-aware comparisons for the outputs the
benchmark reads back from the engine."""

from __future__ import annotations

import numpy as np

TOL = 1e-6  # results are compared at 6 decimal places


def cosine_distances(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    """1 - cos(corpus_i, q) in float64 for every corpus row."""
    c = corpus.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    return 1.0 - (c @ q) / (np.linalg.norm(c, axis=1) * np.linalg.norm(q))


def topk_matches(ids, dists, truth: np.ndarray, k: int,
                 id_of=None) -> bool:
    """True when ``ids``/``dists`` (the engine's top-k, ascending) is a
    correct exact top-k of ``truth`` (distance per corpus position).

    Tie-aware at 6 dp: every returned distance must equal the truth for
    that id, the list must be ascending, and every id strictly closer
    than the k-th returned distance must be present. ``id_of`` maps an
    engine id to a truth position (identity by default)."""
    if len(ids) != min(k, len(truth)):
        return False
    pos = [id_of(i) if id_of else int(i) for i in ids]
    if any(p is None or p < 0 or p >= len(truth) for p in pos):
        return False
    got = np.asarray(dists, dtype=np.float64)
    if np.any(np.abs(got - truth[pos]) > TOL) or np.any(np.diff(got) < -TOL):
        return False
    must = np.flatnonzero(truth < got[-1] - TOL)
    return set(must.tolist()) <= set(pos)


def recall(found_ids, truth: np.ndarray, k: int) -> float:
    """|found ∩ true top-k| / k; ties at the k-th distance count as hits."""
    kth = np.partition(truth, k - 1)[k - 1]
    ok = set(np.flatnonzero(truth <= kth + TOL).tolist())
    return sum(1 for i in found_ids if int(i) in ok) / k


def quantile_cont(values: np.ndarray, q: float) -> float:
    """PERCENTILE_CONT: linear interpolation at position q*(n-1)."""
    v = np.sort(values)
    pos = q * (len(v) - 1)
    lo = int(np.floor(pos))
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (pos - lo) * (v[hi] - v[lo]))
