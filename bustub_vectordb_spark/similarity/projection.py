"""Embedding projections — L2 normalization and Johnson-Lindenstrauss
random projection.

Both are narrow per-row expressions (HOF arithmetic, one ``F.expr`` each,
zero shuffle, no UDF):

  normalize          v / ||v||  — cosine workloads become plain dot
                     products downstream (normalize once at ingest, every
                     later similarity scan skips the norm).
  random_projection  proj[j] = <v, plane_j> for k seeded Gaussian planes
                     (similarity/lsh_ann.make_planes). The JL lemma bounds
                     pairwise-distance distortion, so a 64→k-dim projection
                     is the standard cheap pre-filter before exact rerank —
                     at 100 TB it cuts the candidate-scan bytes by dim/k.

Deterministic planes → the DuckDB oracle inlines them as list literals and
recomputes the identical arithmetic (queries.py `embedding_projection`).
The reference has no projection surface; north-star extension.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..fold import sql_distance, sql_norm_sq, sql_operand, sql_vec_lit
from .lsh_ann import make_planes


def normalize(vec_col: str) -> Column:
    """v / ||v|| (safe at the zero vector: returns zeros)."""
    v = sql_operand(vec_col)
    norm = f"sqrt({sql_norm_sq(v)})"
    return F.expr(f"transform({v}, __u -> CASE WHEN {norm} = 0 THEN 0D ELSE __u / {norm} END)")


def normalize_sql(col: str = "embedding") -> str:
    norm = f"sqrt(list_sum(list_transform({col}::DOUBLE[], x -> x * x)))"
    return (
        f"list_transform({col}::DOUBLE[], "
        f"x -> CASE WHEN {norm} = 0 THEN 0.0 ELSE x / {norm} END)"
    )


def project(vec_col: str, planes: np.ndarray, decimals: int = 6) -> Column:
    """array<double> of per-plane inner products, rounded for oracle parity."""
    v = sql_operand(vec_col)
    terms = ", ".join(
        f"round({sql_distance('ip', v, sql_vec_lit(p))}, {int(decimals)})" for p in planes
    )
    return F.expr(f"array({terms})")


def project_sql(col: str, planes: np.ndarray, decimals: int = 6) -> str:
    def lit(p) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    terms = ", ".join(
        f"round(list_inner_product({col}::DOUBLE[], {lit(p)}), {decimals})"
        for p in planes
    )
    return f"[{terms}]"


def random_projection(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    seed: int = 42,
    out_col: str = "proj",
) -> DataFrame:
    """(id, proj: array<double>[k]) — deterministic seeded planes."""
    dim = len(df.select(vec_col).first()[0])
    planes = make_planes(k, dim, seed)
    return df.select(F.col(id_col), project(vec_col, planes).alias(out_col))
