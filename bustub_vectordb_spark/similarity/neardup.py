"""Embedding-space near-duplicate detection.

Two strategies, same contract (pairs id1<id2 with cosine ≥ threshold):

  cosine_similarity_join  — exact blocked self-join: every pair scored with
      the native zip_with/aggregate dot product. O(n²) comparisons but fully
      distributed and JVM-side; right for ≤ ~10⁵ rows per block
      (use as the verify stage or on dimension-scale tables).

  random_hyperplane_pairs — the scale path: sign-of-projection LSH.
      ``planes`` fixed hyperplanes (seeded NumPy, embedded as literals) give
      each vector a bit signature; signatures are split into bands, pairs
      colliding on any band are verified exactly. For a pair at angle θ,
      P(bit match) = 1-θ/π; with b bands of r bits the standard S-curve
      applies. Everything native except nothing — even the projections are
      zip_with/aggregate expressions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fold import sql_distance, sql_operand, sql_vec_lit
from ..functions.vector import cosine_similarity


def cosine_similarity_join(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact (id1, id2, cosine) for all pairs with cosine ≥ threshold."""
    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("__v1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("__v2"))
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    scored = pairs.withColumn(
        "cosine", F.round(cosine_similarity("__v1", "__v2"), 6)
    )
    return scored.filter(F.col("cosine") >= threshold).select("id1", "id2", "cosine")


def _signature_bits(vec_col: str, planes: np.ndarray):
    """Array of 0/1 ints: sign of projection onto each hyperplane."""
    v = sql_operand(vec_col)
    bits = ", ".join(
        f"CAST({sql_distance('ip', v, sql_vec_lit(p))} > 0 AS INT)" for p in planes
    )
    return F.expr(f"array({bits})")


def random_hyperplane_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """LSH candidates verified exactly; output matches cosine_similarity_join
    up to LSH recall."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))
    rows = n_planes // bands

    sig = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _signature_bits(vec_col, planes).alias("__bits"),
    )
    # band value = the band's bits packed positionally (rows ≤ ~20 bits, no
    # hashing needed) — engine-neutral, so the DuckDB oracle can reproduce
    # the exact candidate set
    band_hash = F.array(
        *[
            sum(
                F.element_at(F.col("__bits"), j * rows + i + 1)
                * (2 ** (rows - 1 - i))
                for i in range(rows)
            )
            for j in range(bands)
        ]
    )
    banded = sig.select(
        id_col, "__v", F.posexplode(band_hash).alias("__band", "__bh")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bh") == F.col("b.__bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.col("a.__v").alias("__v1"),
            F.col("b.__v").alias("__v2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    scored = cands.withColumn(
        "cosine", F.round(cosine_similarity("__v1", "__v2"), 6)
    )
    return scored.filter(F.col("cosine") >= threshold).select("id1", "id2", "cosine")
