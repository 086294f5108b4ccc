"""Seeded NumPy isolation forest (SURVEY §2j; anomaly_detection.py:46-52).

The reference fits ``sklearn.ensemble.IsolationForest(random_state=42,
contamination='auto', n_estimators=100)`` on the two log1p'd daily
aggregate columns and flags ``predict() == -1`` rows. sklearn is not in
this environment, so this is the same algorithm (Liu, Ting, Zhou 2008)
from the paper, seeded and dependency-free:

- each of ``n_estimators`` trees is built on a subsample of
  ``min(256, n)`` rows; splits pick a uniform random feature and a
  uniform random cut between the subsample's min and max; depth is
  capped at ``ceil(log2(psi))``.
- anomaly score ``s(x) = 2 ** (-E[h(x)] / c(psi))`` where ``h`` is the
  path length (plus ``c(size)`` credit at unsplit external nodes) and
  ``c`` the expected BST path length.
- ``contamination='auto'`` threshold per the paper / sklearn offset:
  anomaly iff ``s(x) > 0.5``.

Scale note: this runs DRIVER-SIDE by design, exactly like the
reference's ``toPandas`` hop — the input is a per-day aggregate, whose
cardinality is bounded by the calendar (a few thousand rows even at
100 TB of facts). The distributed part of the job is the aggregation
that feeds it; scoring a *large* table would instead broadcast the
fitted forest into a pandas UDF (the trees are a few KB).
"""

from __future__ import annotations

import math

import numpy as np

EULER_GAMMA = 0.5772156649015329


def _c(n: float) -> float:
    """Expected path length of an unsuccessful BST search (paper eq. 1)."""
    if n <= 1.0:
        return 0.0
    if n == 2.0:
        return 1.0
    return 2.0 * (math.log(n - 1.0) + EULER_GAMMA) - 2.0 * (n - 1.0) / n


class IsolationForest:
    """Paper-faithful isolation forest: ``fit(X)``, ``score_samples(X)``
    (anomaly score in (0, 1]), ``predict(X)`` (-1 anomaly / 1 normal —
    the sklearn convention the reference's P11 mapping consumes)."""

    def __init__(self, n_estimators: int = 100, max_samples: int = 256, seed: int = 42):
        self.n_estimators = n_estimators
        self.max_samples = max_samples
        self.seed = seed
        self._trees: list[list[tuple]] = []
        self._psi = 0

    # Trees are stored as flat node lists:
    #   ("split", feature, threshold, left_idx, right_idx)
    #   ("leaf", size, depth)
    def _build(self, X: np.ndarray, rng: np.random.Generator) -> list[tuple]:
        nodes: list[tuple] = []
        limit = math.ceil(math.log2(max(2, len(X))))

        def grow(idx: np.ndarray, depth: int) -> int:
            my = len(nodes)
            nodes.append(None)  # reserve
            sub = X[idx]
            # a split can leave a child empty (uniform(lo, hi) may round
            # to lo), and max/min of an empty array raise: test size first
            leaf = depth >= limit or len(idx) <= 1
            if not leaf:
                hi_all, lo_all = sub.max(0), sub.min(0)
                leaf = (hi_all == lo_all).all()
            if leaf:
                nodes[my] = ("leaf", len(idx), depth)
                return my
            # uniform feature among non-constant ones; integers() is the
            # draw rng.choice(feats) makes, without its argument checks
            feats = np.flatnonzero(hi_all > lo_all)
            f = int(feats[rng.integers(0, len(feats))])
            lo, hi = float(lo_all[f]), float(hi_all[f])
            thr = float(rng.uniform(lo, hi))
            mask = sub[:, f] < thr
            left = grow(idx[mask], depth + 1)
            right = grow(idx[~mask], depth + 1)
            nodes[my] = ("split", f, thr, left, right)
            return my

        grow(np.arange(len(X)), 0)
        return nodes

    def fit(self, X) -> "IsolationForest":
        X = np.asarray(X, dtype=np.float64)
        n = len(X)
        self._psi = min(self.max_samples, n)
        rng = np.random.default_rng(self.seed)
        self._trees = []
        for _ in range(self.n_estimators):
            idx = rng.choice(n, size=self._psi, replace=False)
            self._trees.append(self._build(X[idx], rng))
        return self

    def _path_length(self, tree: list[tuple], x: np.ndarray) -> float:
        i = 0
        while True:
            node = tree[i]
            if node[0] == "leaf":
                return node[2] + _c(node[1])
            _, f, thr, left, right = node
            i = left if x[f] < thr else right

    def score_samples(self, X) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        cn = _c(self._psi)
        out = np.empty(len(X))
        for r, x in enumerate(X):
            mean_h = sum(self._path_length(t, x) for t in self._trees) / len(self._trees)
            out[r] = 2.0 ** (-mean_h / cn)
        return out

    def predict(self, X) -> np.ndarray:
        return np.where(self.score_samples(X) > 0.5, -1, 1)
