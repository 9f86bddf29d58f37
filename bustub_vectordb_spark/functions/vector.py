"""Vector distance expressions — native Catalyst, zero UDFs.

The reference exposes three distance functions over VECTOR columns
(ref: src/include/execution/expressions/vector_expression.h:17-63):

  ``<->`` / ``l2_dist``            Euclidean distance
  ``<=>`` / ``cosine_similarity``  plain cosine similarity ``dot/(|a||b|)``
                                   (ref vector_expression.h:40-58; callers
                                   ORDER BY it ascending)
  ``inner_product``                plain dot product (no negation)

All are built from ``zip_with`` + ``aggregate`` higher-order functions (the
fold-exact Column folds of ``bustub_vectordb_spark.fold``), which stay
inside whole-stage codegen on the JVM — this is the 100 TB-safe hot path
(an equivalent Python UDF would be ~100x slower and break pushdown).

Inputs are cast to array<double> so float32 embedding columns and double
literals meet in the same precision (matches the reference, where all vector
math is C++ double).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..fold import col_dot, col_l2_sq, col_norm_sq

ColumnOrName = Column | str


def _as_double_array(c: ColumnOrName | Sequence[float]) -> Column:
    if isinstance(c, (list, tuple)):
        return vec_lit(c)
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("array<double>")


def vec_lit(values: Sequence[float]) -> Column:
    """ARRAY [..] literal → array<double> (ref ArrayExpression,
    src/include/execution/expressions/array_expression.h:27-44), one
    foldable node: ``from_json`` over one JSON string of the floats."""
    return F.from_json(F.lit(json.dumps([float(v) for v in values])), "array<double>")


def vecs_lit(rows: Sequence[Sequence[float]]) -> Column:
    """array<array<double>> literal of :func:`vec_lit` rows (a centroid
    table, a lookup table, a rotation matrix), one foldable node at any
    size."""
    return F.from_json(
        F.lit(json.dumps([[float(v) for v in r] for r in rows])), "array<array<double>>"
    )


def inner_product(a: ColumnOrName | Sequence[float], b: ColumnOrName | Sequence[float]) -> Column:
    """Dot product (ref vector_expression.h:33-39)."""
    return col_dot(_as_double_array(a), _as_double_array(b))


def l2_norm(a: ColumnOrName | Sequence[float]) -> Column:
    return F.sqrt(col_norm_sq(_as_double_array(a)))


def l2_dist(a: ColumnOrName | Sequence[float], b: ColumnOrName | Sequence[float]) -> Column:
    """Euclidean distance, the ``<->`` operator (ref vector_expression.h:17-31)."""
    return F.sqrt(col_l2_sq(_as_double_array(a), _as_double_array(b)))


def cosine_similarity(
    a: ColumnOrName | Sequence[float], b: ColumnOrName | Sequence[float]
) -> Column:
    """The reference's ``<=>``: plain cosine similarity dot/(|a||b|)
    (ref vector_expression.h:40-58)."""
    return inner_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(
    a: ColumnOrName | Sequence[float], b: ColumnOrName | Sequence[float]
) -> Column:
    """1 - cosine similarity — used by the dedup/similarity extensions."""
    return 1.0 - cosine_similarity(a, b)


def embedding_flags(vec: ColumnOrName, expected_dim: int) -> Column:
    """Row-level embedding validation flags — the ingest gate every
    embedding pipeline needs before vectors reach an index: a single NaN
    poisons every distance it touches (NaN comparisons are false, so a
    poisoned row can silently win or lose top-k), a wrong-dim row crashes
    zip_with folds mid-job, and a zero vector makes cosine undefined.
    Returns a struct of (is_null, wrong_dim, nonfinite, zero_norm) —
    all computed in one narrow codegen projection, no shuffle."""
    v = _as_double_array(vec)
    # a NULL ELEMENT must flag too: isnan(NULL) is NULL (three-valued
    # logic), so without the isNull arm a null-poisoned row would pass the
    # gate with every flag clean while still corrupting distance folds
    nonfinite = F.exists(
        v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))
    )
    sq = col_norm_sq(v)
    return F.struct(
        v.isNull().alias("is_null"),
        (~v.isNull() & (F.size(v) != expected_dim)).alias("wrong_dim"),
        (~v.isNull() & nonfinite).alias("nonfinite"),
        # size > 0: an empty array is wrong_dim, not zero_norm (and the
        # engines disagree on sum-over-empty: Spark fold 0.0, DuckDB NULL)
        (~v.isNull() & ~nonfinite & (F.size(v) > 0) & (sq == 0.0)).alias("zero_norm"),
    )
