"""Seeded vector inputs and the numpy reference answers for k-NN.

Distances are computed the way the engine computes them: float32
components widened to float64, squared differences folded left to right
(``np.cumsum`` accumulates sequentially), then a square root.  The
pivot-index bands are therefore reproduced bit for bit, and a returned
distance may differ from the reference only by the engine's rounding to
six places.
"""

from __future__ import annotations

import numpy as np

#: the reference's search constants (src/search.ts): top-k, the ±0.3 %
#: pivot-distance band and 100 index entries per side per pivot
TOP_K = 10
INDEX_DISTANCE = 0.003
DOCS_PER_SIDE = 100
#: a returned distance is rounded to 6 places by the engine
DIST_TOL = 2e-6


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.sqrt((x * x).sum(axis=1, keepdims=True))


def clustered_corpus(
    rng: np.random.Generator, n: int, dim: int, n_clusters: int,
    spread: float = 0.03,
) -> np.ndarray:
    """n unit vectors drawn around n_clusters random centres on the
    sphere, float32 (the engine stores array<float>)."""
    centres = unit_rows(rng.standard_normal((n_clusters, dim)))
    assign = rng.integers(0, n_clusters, n)
    x = centres[assign] + spread * rng.standard_normal((n, dim))
    return unit_rows(x).astype(np.float32)


def perturbed_queries(
    rng: np.random.Generator, corpus: np.ndarray, n: int, noise: float = 0.01
) -> list[list[float]]:
    """Unit float64 queries near seeded corpus points."""
    picks = rng.choice(len(corpus), size=n, replace=False)
    q = corpus[picks].astype(np.float64)
    q = unit_rows(q + noise * rng.standard_normal(q.shape))
    return [[float(v) for v in row] for row in q]


def fold_dist(mat64: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Euclidean distance of every row to q, summed left to right."""
    d = mat64 - q
    return np.sqrt(np.cumsum(d * d, axis=1)[:, -1])


def py_dist(a: list[float], b: list[float]) -> float:
    """Driver-side distance exactly as the engine's probe computes the
    query-to-pivot distance (a Python loop and ``** 0.5``)."""
    s = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        s += d * d
    return s**0.5


class KnnReference:
    """Exact, pivot-range and pivot-neighbourhood answers for a corpus
    given as ids + float32 vectors, with the pivot index it implies."""

    def __init__(self, ids: np.ndarray, vecs32: np.ndarray,
                 pivots: list[list[float]]) -> None:
        self.ids = np.asarray(ids, dtype=np.int64)
        self.mat = vecs32.astype(np.float64)
        self.pivots = pivots
        self.idx = [fold_dist(self.mat, np.asarray(p)) for p in pivots]

    def exact(self, q: list[float]) -> tuple[np.ndarray, np.ndarray]:
        """Every (id, distance): the exact strategy's candidate set."""
        return self.ids, fold_dist(self.mat, np.asarray(q))

    def range_candidates(self, q: list[float]) -> np.ndarray:
        """Row positions inside any pivot's open band d_i(1 ± 0.003)."""
        mask = np.zeros(len(self.ids), dtype=bool)
        for p, col in zip(self.pivots, self.idx):
            d = py_dist(p, q)
            lo, hi = d - d * INDEX_DISTANCE, d + d * INDEX_DISTANCE
            mask |= (col > lo) & (col < hi)
        return np.nonzero(mask)[0]

    def similarity_candidates(self, q: list[float]) -> np.ndarray:
        """Row positions among the 100 index entries just below and just
        above each pivot's query distance (ties broken by id)."""
        pos: set[int] = set()
        for p, col in zip(self.pivots, self.idx):
            d = py_dist(p, q)
            below = np.nonzero(col < d)[0]
            below = below[np.lexsort((self.ids[below], -col[below]))]
            above = np.nonzero(col > d)[0]
            above = above[np.lexsort((self.ids[above], col[above]))]
            pos.update(below[:DOCS_PER_SIDE].tolist())
            pos.update(above[:DOCS_PER_SIDE].tolist())
        return np.array(sorted(pos), dtype=np.int64)

    def answer(self, q: list[float], positions: np.ndarray | None = None):
        """(candidate ids, their exact distances, top-k ids)."""
        ids, dist = self.exact(q)
        if positions is not None:
            ids, dist = ids[positions], dist[positions]
        order = np.lexsort((ids, dist))[:TOP_K]
        return ids, dist, ids[order]


def check_topk(rows, cand_ids: np.ndarray, cand_dist: np.ndarray) -> bool:
    """A valid top-k over the candidates: right length, distinct known
    ids, distances matching the reference within the engine's rounding,
    none farther than the k-th candidate, ascending."""
    want = min(TOP_K, len(cand_ids))
    if len(rows) != want:
        return False
    truth = dict(zip(cand_ids.tolist(), cand_dist.tolist()))
    kth = float(np.sort(cand_dist)[want - 1]) if want else 0.0
    seen: set[int] = set()
    prev = -1.0
    for r in rows:
        i, d = int(r[0]), float(r[1])
        if i in seen or i not in truth:
            return False
        seen.add(i)
        if abs(d - truth[i]) > DIST_TOL or truth[i] > kth + DIST_TOL:
            return False
        if d < prev:
            return False
        prev = d
    return True
