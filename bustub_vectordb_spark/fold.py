"""Fold-exact distance arithmetic — the ONE place fold order is defined.

Every oracle-compared distance in the engine accumulates per dimension,
sequentially, from 0.0: the op order of Spark's
``aggregate(zip_with(a, b, f), 0.0, (s, v) -> s + v)``. The Spark Column
folds below and their Python / numpy twins evaluate the identical IEEE op
sequence, so a value computed on a Spark worker, on the driver or in an
offline oracle replay is the same double (NOTES, "np.dot / BLAS matmul
results are ALIGNMENT-SENSITIVE": a BLAS reduction's summation order
depends on buffer alignment, an elementwise accumulation has none to
vary). The numpy forms vectorize ACROSS rows (or rows × centroids) and
loop over dimensions, never reducing along a row.

Vector LITERALS (query vectors, centroid tables, lookup tables) are built by
``functions.vector.vec_lit``/``vecs_lit`` as one ``from_json`` node over one
JSON string of the floats (shortest round-trip ``repr``; NaN and ±inf as
``NaN``/``Infinity``/``-Infinity``), which the optimizer constant-folds to
the same bits. One node is one py4j round trip and one node to analyze at any
dimension and centroid count; a ``CAST(array(...))`` tree of one node per
element was analyzed node by node (building the nearest-centroid expression,
``local[2]``: 222 against 111 ms at 16×64 cells, 5.5 against 0.17 s at
256×256; a 1,000×1,000 table ran a 1 GB driver heap out of memory).
The Column folds are a fixed number of nodes at any dimension, so they stay
the form the engine builds distances with; the SQL-text folds (``sql_*``)
are what the SQL frontend's distance macros expand to.

Reference anchor: one ``ComputeDistance`` per metric
(src/include/execution/expressions/vector_expression.h:17-58).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, functions as F

# -- Spark Column folds (array<double> operands) ---------------------------


def col_seq_sum(a: Column) -> Column:
    """Left fold of an array<double> from 0.0 (twin of :func:`seq_sum`)."""
    return F.aggregate(a, F.lit(0.0), lambda s, v: s + v)


def col_l2_sq(a: Column, b: Column) -> Column:
    """Σ (a_d − b_d)², left fold."""
    return col_seq_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def col_dot(a: Column, b: Column) -> Column:
    """Σ a_d · b_d, left fold."""
    return col_seq_sum(F.zip_with(a, b, lambda x, y: x * y))


def col_norm_sq(a: Column) -> Column:
    """Σ a_d², left fold."""
    return col_seq_sum(F.transform(a, lambda x: x * x))


def col_centroid_score(dist: str, q: Column, c: Column) -> Column:
    """Query→centroid score, smaller is nearer: l2², −dot, −cosine."""
    if dist == "l2":
        return col_l2_sq(q, c)
    if dist == "ip":
        return -col_dot(q, c)
    return -(col_dot(q, c) / (F.sqrt(col_norm_sq(q)) * F.sqrt(col_norm_sq(c))))


# -- SQL text (operands are SQL text) -------------------------------------
# Each fold builds the same expression tree as its Column twin above and is
# one self-contained operand (a function call or a parenthesized division),
# so it can be spliced next to any operator. Lambda variables carry ``__``
# names so they never shadow a column referenced inside the body.


def sql_seq_sum(a: str) -> str:
    """Left fold from 0.0 (twin of :func:`col_seq_sum`)."""
    return f"aggregate({a}, 0D, (__acc, __el) -> __acc + __el)"


def sql_l2_sq(a: str, b: str) -> str:
    return sql_seq_sum(f"zip_with({a}, {b}, (__x, __y) -> (__x - __y) * (__x - __y))")


def sql_dot(a: str, b: str) -> str:
    return sql_seq_sum(f"zip_with({a}, {b}, (__x, __y) -> __x * __y)")


def sql_norm_sq(a: str) -> str:
    return sql_seq_sum(f"transform({a}, __x -> __x * __x)")


def sql_distance(dist: str, a: str, b: str) -> str:
    """l2 distance, inner product or cosine similarity (twin of
    :func:`exact` and of ``functions.vector``'s distances)."""
    if dist == "l2":
        return f"sqrt({sql_l2_sq(a, b)})"
    if dist == "ip":
        return sql_dot(a, b)
    return f"({sql_dot(a, b)} / (sqrt({sql_norm_sq(a)}) * sqrt({sql_norm_sq(b)})))"


# -- Python scalar twins ----------------------------------------------------


def seq_sum(vals) -> float:
    """Left fold of ``vals`` from 0.0 (e.g. an ADC lookup-table sum)."""
    s = 0.0
    for v in vals:
        s = s + v
    return s


def l2_sq(v, c) -> float:
    s = 0.0
    for x, y in zip(v, c):
        d = x - y
        s = s + d * d
    return s


def dot(v, c) -> float:
    s = 0.0
    for x, y in zip(v, c):
        s = s + x * y
    return s


def norm_sq(v) -> float:
    s = 0.0
    for x in v:
        s = s + x * x
    return s


def exact(dist: str, v, q) -> float:
    """The value Spark's functions.vector expression returns for (v, q):
    l2 distance, inner product, or cosine similarity."""
    if dist == "l2":
        return math.sqrt(l2_sq(v, q))
    d = dot(v, q)
    if dist == "ip":
        return d
    return d / (math.sqrt(norm_sq(v)) * math.sqrt(norm_sq(q)))


def exact_rerank(dist: str, vectors_by_id, ids, q, k: int) -> list[tuple]:
    """The exact rerank of an ANN shortlist: [(id, :func:`exact` value)] for
    the k best of ``ids``, (distance, id)-ordered for l2 and (similarity
    desc, id) for ip / cosine — the rows Spark's rerank join returns."""
    scored = [(i, exact(dist, [float(x) for x in vectors_by_id[i]], q)) for i in ids]
    asc = dist == "l2"
    scored.sort(key=lambda t: (t[1] if asc else -t[1], t[0]))
    return scored[:k]


def nearest(v, centroids) -> int:
    """Index of the l2²-nearest centroid, first-min ties (the codegen
    ``array_position(d, array_min(d))`` rule)."""
    dists = [l2_sq(v, c) for c in centroids]
    return dists.index(min(dists))


# -- numpy forms: vectorized across rows, sequential over dims ----------------


def l2_sq_rows(mat: np.ndarray, v) -> np.ndarray:
    """Per-row Σ (mat[i, d] − v_d)²."""
    s = np.zeros(len(mat), dtype=np.float64)
    for j in range(mat.shape[1] if len(mat) else 0):
        d = mat[:, j] - v[j]
        s = s + d * d
    return s


def dot_rows(mat: np.ndarray, v) -> np.ndarray:
    """Per-row Σ mat[i, d] · v_d."""
    s = np.zeros(len(mat), dtype=np.float64)
    for j in range(mat.shape[1] if len(mat) else 0):
        s = s + mat[:, j] * v[j]
    return s


def l2_sq_pairwise(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(len(x), len(cents)) matrix of Σ (x[i, d] − cents[k, d])²."""
    d = np.zeros((len(x), len(cents)), dtype=np.float64)
    for j in range(x.shape[1]):
        diff = x[:, j : j + 1] - cents[:, j]
        d += diff * diff
    return d


# -- driver-side centroid ranking ----------------------------------------------


def rank_centroids(dist: str, centroids, q) -> list[int]:
    """Centroid indexes nearest-first, ties to the lowest index: the order
    Spark's ``array_sort`` gives over (:func:`col_centroid_score`, index)
    structs, so a driver-side probe and a codegen-routed batch pick the
    same cells. l2 ranks by :func:`l2_sq`; ip / cosine by the negated
    :func:`dot` / cosine (a zero norm counts as 1e-300)."""

    def score(c) -> float:
        if dist == "l2":
            return l2_sq(q, c)
        dt = dot(c, q)
        if dist == "ip":
            return -dt
        na = math.sqrt(norm_sq(c)) or 1e-300
        nb = math.sqrt(norm_sq(q)) or 1e-300
        return -(dt / (na * nb))

    return sorted(range(len(centroids)), key=lambda i: score(centroids[i]))
