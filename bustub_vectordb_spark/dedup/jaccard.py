"""Exact n-gram Jaccard similarity join with prefix filtering.

Unlike MinHash-LSH (probabilistic candidates, see minhash.py), this finds
ALL pairs with shingle-set Jaccard ≥ threshold, using PPJoin-style prefix
filtering to avoid the O(n²) comparison:

  order      rank every doc's shingles by (global frequency asc, shingle) —
             a single consistent total order across all docs
  prefix     a pair with Jaccard ≥ t shares ≥ ceil(t·|A|) shingles, so the
             first |A| - ceil(t·|A|) + 1 shingles of A (its rarest ones)
             must contain at least one shared shingle. Only prefix shingles
             enter the join ⇒ no false negatives, and hot (frequent)
             shingles are systematically excluded from join keys.
  join       self-join prefixes on shingle (id1 < id2), distinct pairs
  length     |B| must lie in [t·|A|, |A|/t] for J ≥ t — prune before verify
  verify     exact |A∩B| / |A∪B| via array_intersect / array_union

At 100 TB: the frequency table and rank window shuffle on high-entropy keys
(shingle, id). The candidate join's key distribution is the *inverse* of the
data's shingle skew — the most frequent shingles never appear in prefixes —
which is exactly what makes exact Jaccard joins tractable at scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .minhash import _spread, shingles


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, __s) exploded distinct shingles; empty docs drop out."""
    return _spread(df, id_col).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("__s")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n: int = 2,
) -> DataFrame:
    """All (id1 < id2, jaccard) pairs with word-n-gram Jaccard ≥ threshold.

    Exact — equivalent to the O(n²) pairwise join, but only prefix shingles
    are ever join keys. jaccard is rounded to 6 so results hash-match an
    engine-independent oracle.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    sh = _shingle_rows(df, text_col, id_col, n)
    freq = sh.groupBy("__s").agg(F.count("*").alias("__df"))
    ranked = sh.join(freq, "__s").withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.col("__df").asc(), F.col("__s").asc())
        ),
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__sz"))
    # prefix length = sz - ceil(t·sz) + 1; the 1e-9 guards fp round-up of an
    # exact t·sz (shorter prefix ⇒ false negatives; longer is merely slower)
    prefix = ranked.join(sizes, id_col).filter(
        F.col("__rk")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9)) + 1
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2"))
        .distinct()
    )
    sets = _spread(df, id_col).select(
        F.col(id_col), shingles(text_col, n).alias("__sh")
    )
    j = (
        cands.join(sets.select(F.col(id_col).alias("id1"), F.col("__sh").alias("__sh1")), "id1")
        .join(sets.select(F.col(id_col).alias("id2"), F.col("__sh").alias("__sh2")), "id2")
        # length filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t
        .filter(
            (F.size("__sh2") >= F.lit(threshold) * F.size("__sh1") - F.lit(1e-9))
            & (F.size("__sh1") >= F.lit(threshold) * F.size("__sh2") - F.lit(1e-9))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("__sh1", "__sh2"))
                / F.size(F.array_union("__sh1", "__sh2")),
                6,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id1", "id2", "jaccard")

