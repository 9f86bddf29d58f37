"""Brute-force (exact) similarity search.

The reference's "naive KNN" path: ``SELECT ..., dist(v, const) AS distance
FROM t ORDER BY distance LIMIT k`` (ref: test/sql/vector.02-naive-knn.slt) —
a full scan + TopN. In Spark this is the *baseline* strategy; the ANN indexes
in ``bustub_vectordb_spark.index`` are the scale path, selected by the
planner rule in ``index.selection``.

Scale properties:
  * ``knn`` — one scan, distance evaluated in whole-stage codegen,
    TakeOrderedAndProject keeps only k rows per partition. Linear in data,
    constant memory. This is exactly how a 1000-executor cluster should do
    exact KNN.
  * ``knn_join`` — broadcast the (small) query side against the (huge) item
    side; per-query top-k via window. Item side streams, never collected.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, inner_product, l2_dist

DIST_FNS = {
    "l2": l2_dist,
    # similarity orders descending for "nearest"; the reference's callers
    # order <=> ascending — keep that quirk at the call site, not here.
    "cosine": cosine_similarity,
    "ip": inner_product,
}

# ascending=True → smaller is nearer (l2); False → larger is nearer.
ASCENDING = {"l2": True, "cosine": False, "ip": False}


def knn(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int,
    dist: str = "l2",
    dist_col: str = "distance",
) -> DataFrame:
    """Exact top-k nearest rows to a constant query vector."""
    d = DIST_FNS[dist](vec_col, list(query)).alias(dist_col)
    out = df.withColumn(dist_col, d)
    order = F.col(dist_col).asc() if ASCENDING[dist] else F.col(dist_col).desc()
    return out.orderBy(order).limit(k)


def knn_join(
    queries: DataFrame,
    items: DataFrame,
    query_vec: str,
    item_vec: str,
    k: int,
    dist: str = "l2",
    dist_col: str = "distance",
) -> DataFrame:
    """For every row of `queries`, the k nearest rows of `items`.

    Plan: broadcast(queries) × items → per-query window top-k. The big side
    is scanned once and never shuffled on data volume — the only shuffle is
    the window partition on query id, whose cardinality is |queries| × k
    after the rank filter... so we pre-aggregate per partition first via
    TakeOrdered-like pruning: a per-partition row_number cut would require
    the same shuffle; instead rely on AQE + the window. For huge |queries|
    use the IVF index path.
    """
    q = F.broadcast(queries.select(F.struct("*").alias("__q")))
    joined = items.crossJoin(q)
    d = DIST_FNS[dist](item_vec, f"__q.{query_vec}")
    joined = joined.withColumn(dist_col, d)
    order = F.col(dist_col).asc() if ASCENDING[dist] else F.col(dist_col).desc()
    w = Window.partitionBy(F.col("__q")).orderBy(order)
    topk = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return topk.select("__q.*", *items.columns, dist_col)
