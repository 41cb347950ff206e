"""Seeded inputs and numpy ground truth for the serving workloads.

The program under test only ever receives what this module generates: a
clustered vector table, a stream of near-repeat query vectors and batches of
text documents to insert.  ``Corpus`` also keeps the benchmark's own view of
the live rows, so every result can be checked against an exact numpy top-k.
"""

from __future__ import annotations

import json

import numpy as np

DIM = 64
K = 10
CATS = 8
CENTERS = 32
TOL = 1e-5  # distance agreement between Spark (float64 over float32) and numpy


class Corpus:
    """Live rows keyed by the metadata field ``n`` (the benchmark's own id)."""

    def __init__(self, seed: int, n_rows: int) -> None:
        self.rng = np.random.default_rng(seed)
        centers = self.rng.normal(size=(CENTERS, DIM))
        labels = self.rng.integers(0, CENTERS, n_rows)
        vecs = centers[labels] + 0.35 * self.rng.normal(size=(n_rows, DIM))
        self.vecs = vecs.astype(np.float32)
        self.cats = self.rng.integers(0, CATS, n_rows)
        self.live = np.ones(n_rows, dtype=bool)
        # a small pool of "interests" the interactive client keeps returning to
        self.interests = self.vecs[self.rng.choice(n_rows, 8, replace=False)].astype(np.float64)
        self._unit = None

    def base_rows(self) -> list[tuple[str, list[float]]]:
        return [
            (json.dumps({"n": i, "cat": int(c)}), v.tolist())
            for i, (c, v) in enumerate(zip(self.cats, self.vecs))
        ]

    @property
    def n_live(self) -> int:
        return int(self.live.sum())

    # -- the client's traffic ------------------------------------------------
    def query_vec(self) -> list[float]:
        """A near-repeat query: one of the interests plus a small perturbation."""
        base = self.interests[self.rng.integers(len(self.interests))]
        return (base + 0.05 * self.rng.normal(size=DIM)).tolist()

    def cat_filter(self, shape: str) -> dict | None:
        if not shape.endswith("_f"):
            return None
        a = int(self.rng.integers(CATS))
        if shape == "ivf_f":
            return {"cat": ("in", [a, (a + 1) % CATS])}
        return {"cat": a}

    def new_docs(self, count: int, embed) -> list[dict]:
        """``count`` new text documents; their vectors (from the public
        embedder) are appended to the live set under their new keys."""
        start = len(self.live)
        docs = [
            {"n": start + i, "cat": int(self.rng.integers(CATS)),
             "text": f"note {start + i} topic {int(self.rng.integers(50))}"}
            for i in range(count)
        ]
        self.vecs = np.vstack([self.vecs, np.stack([embed(d["text"]) for d in docs])])
        self.cats = np.concatenate([self.cats, [d["cat"] for d in docs]])
        self.live = np.concatenate([self.live, np.ones(count, dtype=bool)])
        self._unit = None
        return docs

    def pick_deletions(self, count: int) -> list[int]:
        keys = np.flatnonzero(self.live)
        return sorted(int(x) for x in self.rng.choice(keys, count, replace=False))

    def mark_deleted(self, keys: list[int]) -> None:
        self.live[keys] = False

    # -- ground truth --------------------------------------------------------
    def distances(self, q: list[float]) -> np.ndarray:
        if self._unit is None:
            v = self.vecs.astype(np.float64)
            self._unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        qv = np.asarray(q, dtype=np.float64)
        return 1.0 - self._unit @ (qv / np.linalg.norm(qv))

    def allowed(self, flt: dict | None) -> np.ndarray:
        mask = self.live.copy()
        if flt:
            want = flt["cat"]
            cats = want[1] if isinstance(want, tuple) else [want]
            mask &= np.isin(self.cats, cats)
        return mask

    def check(self, got: list[tuple[int, str, float]], q: list[float],
              flt: dict | None, exact: bool, ordered: bool) -> tuple[list[str], float]:
        """Check one top-k answer ``got`` = [(n, id, distance)] against numpy.

        Returns the problems found and the answer's recall@K.  Every row
        must be live, distinct and satisfy the filter, with a distance that
        agrees with numpy; an ``ordered`` answer must be sorted by
        (distance, id).  An exact answer must hold K rows and be a true top-K
        (within TOL at the boundary).  An approximate answer may hold fewer
        than K rows: the missing rows count against its recall, not as a
        failure.
        """
        d = self.distances(q)
        mask = self.allowed(flt)
        idx = np.flatnonzero(mask)
        truth = idx[np.lexsort((idx, d[idx]))][:K]
        keys = [n for n, _, _ in got]
        problems = []
        if len(set(keys)) != len(keys) or len(got) > K or (exact and len(got) != K):
            problems.append(f"{len(got)} rows ({len(set(keys))} distinct), expected {K}")
        if ordered and [(x, i) for _, i, x in got] != sorted((x, i) for _, i, x in got):
            problems.append("not ordered by (distance, id)")
        if any(not 0 <= n < len(mask) or not mask[n] for n in keys):
            problems.append("row deleted, unknown or outside the filter")
        elif any(abs(x - d[n]) > TOL for n, _, x in got):
            problems.append("distance disagrees with numpy")
        elif exact and got and max(x for _, _, x in got) > d[truth[-1]] + TOL:
            problems.append("not the exact top-k")
        return problems, len(set(truth.tolist()) & set(keys)) / K
