"""Fold-exact distance arithmetic — the ONE place fold order is defined.

Every oracle-compared distance in the engine accumulates per dimension,
sequentially, from 0.0: the op order of Spark's
``aggregate(zip_with(a, b, f), 0.0, (s, v) -> s + v)``. The Spark SQL-text
folds below and their Python / numpy twins evaluate the identical IEEE op
sequence, so a value computed on a Spark worker, on the driver or in an
offline oracle replay is the same double (NOTES, "np.dot / BLAS matmul
results are ALIGNMENT-SENSITIVE": a BLAS reduction's summation order
depends on buffer alignment, an elementwise accumulation has none to
vary). The numpy forms vectorize ACROSS rows (or rows × centroids) and
loop over dimensions, never reducing along a row.

Spark gets each fold in ONE form, SQL text (what the SQL frontend's
``<->``, ``<=>`` and ``<#>`` expand to), built into a Column with one
``F.expr``: a few py4j round trips at any size, where the Column DSL paid
one per node and lambda variable (NOTES, "Build folds from text").
Operands are SQL text: :func:`sql_operand` writes a column name (dotted
parts backtick-quoted, so struct fields work) or a literal vector — one
``from_json`` node over a JSON string of the floats (shortest round-trip
``repr``; ``NaN``/``Infinity``/``-Infinity``), constant-folded to the same
bits. A computed operand (an SQ8 decode, a BQ rotation row, a PQ lookup
gather) is written as text by its caller.

Reference anchor: one ``ComputeDistance`` per metric
(src/include/execution/expressions/vector_expression.h:17-58).
"""

from __future__ import annotations

import json
import math
from collections.abc import Sequence

import numpy as np

# -- SQL-text operands ------------------------------------------------------


def sql_col(name: str) -> str:
    """A column reference, each dotted part backtick-quoted."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in name.split("."))


def sql_double(x: float) -> str:
    """A double literal with the exact bits of ``x`` (NaN and ±inf too)."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def sql_lit(values, schema: str = "array<double>") -> str:
    """A literal of nested float (or int) lists as one ``from_json`` node."""
    return f"from_json('{json.dumps(values)}', '{schema}')"


def sql_vec_lit(values: Sequence[float]) -> str:
    return sql_lit([float(v) for v in values])


def sql_vecs_lit(rows: Sequence[Sequence[float]]) -> str:
    return sql_lit([[float(v) for v in r] for r in rows], "array<array<double>>")


def sql_int_in(name: str, values: Sequence[int]) -> str:
    """``name IN (values)`` as ``array_contains`` over one literal array.
    Spark writes an IN list's integers into the generated code, so every
    new set (a probe's buckets) compiles a new class; the folded array
    literal is passed by reference, so one compiled class serves every
    set. A partition column keeps its pruning, but the optimizer cannot
    reason about the set (no contradiction with a ``NOT col IN`` filter)."""
    return f"array_contains({sql_lit([int(v) for v in values], 'array<int>')}, {sql_col(name)})"


def sql_operand(x: str | Sequence[float]) -> str:
    """A column name cast to array<double>, or a literal vector."""
    if isinstance(x, str):
        return f"CAST({sql_col(x)} AS ARRAY<DOUBLE>)"
    return sql_vec_lit(x)


# -- SQL-text folds (operands are SQL text) ---------------------------------
# Each result is one self-contained operand (a function call or a
# parenthesized expression), so it can be spliced next to any operator.
# Lambda variables carry ``__`` names so they never shadow a column
# referenced inside the body.


def sql_seq_sum(a: str) -> str:
    """Left fold from 0.0 (twin of :func:`seq_sum`)."""
    return f"aggregate({a}, 0D, (__acc, __el) -> __acc + __el)"


def sql_l2_sq(a: str, b: str) -> str:
    """Σ (a_d − b_d)², left fold."""
    return sql_seq_sum(f"zip_with({a}, {b}, (__x, __y) -> (__x - __y) * (__x - __y))")


def sql_dot(a: str, b: str) -> str:
    """Σ a_d · b_d, left fold."""
    return sql_seq_sum(f"zip_with({a}, {b}, (__x, __y) -> __x * __y)")


def sql_norm_sq(a: str) -> str:
    """Σ a_d², left fold."""
    return sql_seq_sum(f"transform({a}, __x -> __x * __x)")


def sql_distance(dist: str, a: str, b: str) -> str:
    """l2 distance, inner product or cosine similarity (twin of
    :func:`exact` and of ``functions.vector``'s distances)."""
    if dist == "l2":
        return f"sqrt({sql_l2_sq(a, b)})"
    if dist == "ip":
        return sql_dot(a, b)
    return f"({sql_dot(a, b)} / (sqrt({sql_norm_sq(a)}) * sqrt({sql_norm_sq(b)})))"


def sql_centroid_score(dist: str, q: str, c: str) -> str:
    """Query→centroid score, smaller is nearer: l2², −dot, −cosine."""
    if dist == "l2":
        return sql_l2_sq(q, c)
    return f"(-{sql_distance(dist, q, c)})"


def _scored(score, cents: str) -> str:
    """(score, index) structs over a centroid table; ``score`` builds the
    score text of one centroid operand."""
    return (
        f"transform({cents}, (__cent, __ci) -> "
        f"named_struct('d', {score('__cent')}, 'b', __ci))"
    )


def sql_nearest_centroids(dist: str, q: str, cents: str, n: int) -> str:
    """array<int> of the ``n`` nearest centroid indexes, nearest first,
    ties to the lowest index: ``array_sort`` over (score, index) structs —
    the order :func:`rank_centroids` gives on the driver."""
    ranked = f"array_sort({_scored(lambda c: sql_centroid_score(dist, q, c), cents)})"
    return f"transform(slice({ranked}, 1, {int(n)}), __s -> __s.b)"


def sql_nearest_l2(vec: str, cents: str) -> str:
    """0-based index of the l2²-nearest centroid (twin of :func:`nearest`).

    One left-to-right pass over (l2², index) structs that keeps the first
    strict minimum: null distances are skipped (a null vector → null), and
    Spark orders NaN above every number, so an all-NaN row → 0 — the
    answers of ``array_position(d, array_min(d)) - 1``, which would put the
    centroid table into the plan twice."""
    return (
        f"aggregate({_scored(lambda c: sql_l2_sq(vec, c), cents)}, "
        "named_struct('d', CAST(NULL AS DOUBLE), 'b', CAST(NULL AS INT)), "
        "(__best, __s) -> CASE WHEN __s.d IS NOT NULL AND "
        "(__best.d IS NULL OR __s.d < __best.d) THEN __s ELSE __best END, "
        "__best -> __best.b)"
    )


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
    """Index of the l2²-nearest centroid, first-min ties (the
    ``array_position(d, array_min(d))`` rule of :func:`sql_nearest_l2`)."""
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
    :func:`sql_nearest_centroids` gives in Spark, so a driver-side probe
    and a Spark-routed batch pick the same cells. l2 ranks by :func:`l2_sq`; ip / cosine by the negated
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
