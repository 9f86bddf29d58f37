"""Seeded synthetic corpora and exact ground truth.

Vectors are 64-dim draws from a Gaussian mixture whose clusters overlap
(``SPREAD`` is close to the spread of the centers), so approximate indexes
lose some recall at the benchmark's settings instead of saturating at 1.0.
The cluster centers are the same for every seed; the seed draws the rows.
Queries are held-out draws from the same mixture, made from an independent
stream of the same seed.  Everything is rounded to 6 decimals, so a vector
written into SQL text reads back as the same doubles numpy scores.
"""

from __future__ import annotations

import numpy as np

DIM = 64
CLUSTERS = 16
CENTER_SCALE = 1.0
SPREAD = 1.5
K = 10
CENTERS_SEED = 20_240_601


class Mixture:
    """The mixture itself is fixed, part of the workload's definition;
    the seed draws the corpus, queries and inserts from it."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng(CENTERS_SEED)
        self.centers = rng.normal(scale=CENTER_SCALE, size=(CLUSTERS, DIM))
        self._streams: dict[str, np.random.Generator] = {}

    def draw(self, stream: str, n: int) -> np.ndarray:
        """n vectors from a named stream; a stream continues where it left
        off, and streams are independent of each other."""
        if stream not in self._streams:
            tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
            self._streams[stream] = np.random.default_rng([self.seed, 1, tag])
        rng = self._streams[stream]
        label = rng.integers(0, CLUSTERS, n)
        x = self.centers[label] + rng.normal(scale=SPREAD, size=(n, DIM))
        return np.round(x, 6)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int = K) -> np.ndarray:
    """Row indexes of each query's k nearest corpus rows by L2, nearest
    first (ties to the lower index)."""
    d = (
        (queries * queries).sum(1)[:, None]
        - 2.0 * queries @ corpus.T
        + (corpus * corpus).sum(1)[None, :]
    )
    part = np.argpartition(d, k, axis=1)[:, :k]
    rows = np.arange(len(queries))[:, None]
    order = np.lexsort((part, d[rows, part]), axis=1)
    return part[rows, order]


def recall(found: list[int], truth: np.ndarray) -> float:
    return len(set(found) & set(truth.tolist())) / len(truth)
