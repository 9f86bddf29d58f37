"""Vector distance expressions — native Catalyst, zero UDFs.

The reference exposes three distance functions over VECTOR columns
(ref: src/include/execution/expressions/vector_expression.h:17-63):

  ``<->`` / ``l2_dist``            Euclidean distance
  ``<=>`` / ``cosine_similarity``  plain cosine similarity ``dot/(|a||b|)``
                                   (ref vector_expression.h:40-58; callers
                                   ORDER BY it ascending)
  ``inner_product``                plain dot product (no negation)

Each is ONE ``F.expr`` node over the SQL text of the fold-exact folds in
``bustub_vectordb_spark.fold`` — the same text the SQL frontend's operators
expand to — so building one costs a fixed few py4j round trips at any
dimension. The folds are higher-order functions (``zip_with`` +
``aggregate``): in Spark 4.1.2 they are ``CodegenFallback`` expressions,
evaluated interpreted inside the generated stage, still JVM-side with no
Python on the data path (an equivalent Python UDF would be ~100x slower
and break pushdown).

An operand is a column name (dotted struct fields allowed) or a literal
vector. Inputs are cast to array<double> so float32 embedding columns and
double literals meet in the same precision (matches the reference, where
all vector math is C++ double).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import fold

Operand = str | Sequence[float]


def vec_lit(values: Sequence[float]) -> Column:
    """ARRAY [..] literal → array<double> (ref ArrayExpression,
    src/include/execution/expressions/array_expression.h:27-44), one
    foldable node: ``from_json`` over one JSON string of the floats."""
    return F.expr(fold.sql_vec_lit(values))


def vecs_lit(rows: Sequence[Sequence[float]]) -> Column:
    """array<array<double>> literal of :func:`vec_lit` rows, one foldable
    node at any size."""
    return F.expr(fold.sql_vecs_lit(rows))


def _distance(dist: str, a: Operand, b: Operand) -> str:
    return fold.sql_distance(dist, fold.sql_operand(a), fold.sql_operand(b))


def inner_product(a: Operand, b: Operand) -> Column:
    """Dot product (ref vector_expression.h:33-39)."""
    return F.expr(_distance("ip", a, b))


def l2_norm(a: Operand) -> Column:
    return F.expr(f"sqrt({fold.sql_norm_sq(fold.sql_operand(a))})")


def l2_dist(a: Operand, b: Operand) -> Column:
    """Euclidean distance, the ``<->`` operator (ref vector_expression.h:17-31)."""
    return F.expr(_distance("l2", a, b))


def cosine_similarity(a: Operand, b: Operand) -> Column:
    """The reference's ``<=>``: plain cosine similarity dot/(|a||b|)
    (ref vector_expression.h:40-58)."""
    return F.expr(_distance("cosine", a, b))


def cosine_distance(a: Operand, b: Operand) -> Column:
    """1 - cosine similarity — used by the dedup/similarity extensions."""
    return F.expr(f"1D - {_distance('cosine', a, b)}")


def embedding_flags(vec: str, expected_dim: int) -> Column:
    """Row-level embedding validation flags — the ingest gate every
    embedding pipeline needs before vectors reach an index: a single NaN
    poisons every distance it touches (NaN comparisons are false, so a
    poisoned row can silently win or lose top-k), a wrong-dim row crashes
    zip_with folds mid-job, and a zero vector makes cosine undefined.
    Returns a struct of (is_null, wrong_dim, nonfinite, zero_norm) —
    all computed in one narrow projection, no shuffle."""
    v = fold.sql_operand(vec)
    # a NULL ELEMENT must flag too: isnan(NULL) is NULL (three-valued
    # logic), so without the IS NULL arm a null-poisoned row would pass the
    # gate with every flag clean while still corrupting distance folds
    inf = fold.sql_double(math.inf)
    nonfinite = f"exists({v}, __x -> __x IS NULL OR isnan(__x) OR abs(__x) = {inf})"
    present = f"(NOT ({v} IS NULL))"
    # size > 0: an empty array is wrong_dim, not zero_norm (and the
    # engines disagree on sum-over-empty: Spark fold 0.0, DuckDB NULL)
    return F.expr(
        f"named_struct('is_null', {v} IS NULL, "
        f"'wrong_dim', {present} AND size({v}) != {int(expected_dim)}, "
        f"'nonfinite', {present} AND {nonfinite}, "
        f"'zero_norm', {present} AND (NOT {nonfinite}) AND size({v}) > 0 "
        f"AND {fold.sql_norm_sq(v)} = 0D)"
    )
