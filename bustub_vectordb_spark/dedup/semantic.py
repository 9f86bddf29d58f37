"""Semantic (embedding-cluster) deduplication — SemDeDup, Spark-first.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (2023): paraphrases and re-encodings that lexical
dedup (minhash) and raw embedding-LSH miss still land NEAR each other in
embedding space. SemDeDup's trick is to make the O(n²) cosine comparison
tractable by k-means-clustering the corpus first and comparing ONLY
within each cluster — cross-cluster pairs are below threshold by
construction of the clustering, so the quadratic term is bounded by the
largest cell, not the corpus.

This module completes the engine's dedup triad: lexical (minhash /
simhash / jaccard), embedding-LSH (random hyperplanes), and now
cluster-semantic — the three legs a training-data pipeline runs in
sequence.

Policy (the paper's, made engine-exact): within a cluster, order items
deterministically (default: FARTHEST from the cluster centroid first —
the paper's best-performing keep policy — with id as the tie-break on
6-dp-rounded distances); an item is DROPPED iff some EARLIER item in the
same cluster has cosine ≥ threshold with it. One pass, no iteration; a
chain a~b~c (a·c below threshold) keeps a, drops b and c — exactly the
paper's "keep lowest-index per similarity neighborhood" matrix rule.

Spark-first shape (no self-join — the minhash in-bucket lesson):

  1. assignment — nearest frozen centroid per row via the shared
     :func:`..index.ivfflat.assign_nearest` scale dispatch (codegen
     argmin literal up to 65,536 plan cells, broadcast numpy past it);
  2. rank — one window per cluster on (round(d_to_centroid, 6) DESC, id);
  3. candidate pairs — groupBy(cluster) + collect_list + in-cluster pair
     expansion (rnk_e < rnk_l), cosine as the native zip_with/aggregate
     fold rounded to 6 dp (fp-order-stable across engines — the
     embedding_neardup_exact discipline);
  4. verdict — distinct dropped ids, left-anti'd back onto the ranked
     relation. Both consumers of the ranked relation hang off the SAME
     exchange, so Catalyst's ReuseExchange computes the assignment
     pipeline once.

At 100 TB: pick k so cells stay ~10³-10⁴ rows (SemDeDup used 50k
clusters for LAION); the pair expansion is per-cell quadratic but never
corpus-quadratic, the only shuffles are the assignment-free groupBy and
the final join, and nothing corpus-sized touches the driver (centroids
are the only driver state). ``max_cell`` caps degenerate cells the same
way minhash caps hot buckets — capped cells keep their ``max_cell``
first-ranked rows' comparisons and log the drop.

DuckDB oracle: queries.py `dedup_semantic` inlines the deterministic
IVF centroids (offline_centroids) and replays assignment + rank + pair
predicate with list_distance / list_cosine_similarity CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, l2_dist

CLUSTER_COL = "cluster"


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    threshold: float,
    keep: str = "farthest",
    max_cell: int | None = None,
) -> DataFrame:
    """(id_col, cluster, kept) for every input row.

    ``keep``: which end of the centroid-distance ordering survives a
    similarity neighborhood — 'farthest' (paper default), 'closest', or
    'id' (pure id order; no distance computation at all). ``max_cell``
    bounds the per-cell pair expansion: cells larger than this compare
    only their first ``max_cell`` ranked rows (later rows are kept
    unexamined — conservative, like the minhash hot-bucket cap).
    """
    if keep not in ("farthest", "closest", "id"):
        raise ValueError(f"keep must be farthest|closest|id, got {keep!r}")
    from ..index.ivfflat import assign_nearest

    asg = assign_nearest(
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")),
        "__v",
        centroids,
        CLUSTER_COL,
    )
    if keep == "id":
        order = [F.col(id_col).asc()]
        ranked = asg.select(id_col, "__v", CLUSTER_COL)
    else:
        # distance to the OWN centroid, 6-dp rounded before it becomes a
        # sort key (fp summation order must not pick the winner) — id
        # breaks rounding ties deterministically on both engines
        cent_rows = [(i, list(map(float, c))) for i, c in enumerate(centroids)]
        cents = df.sparkSession.createDataFrame(
            cent_rows, f"{CLUSTER_COL} int, __c array<double>"
        )
        ranked = (
            asg.join(F.broadcast(cents), CLUSTER_COL)
            .withColumn("__d6", F.round(l2_dist("__v", "__c"), 6))
            .select(id_col, "__v", CLUSTER_COL, "__d6")
        )
        order = [
            F.col("__d6").desc() if keep == "farthest" else F.col("__d6").asc(),
            F.col(id_col).asc(),
        ]
    w = Window.partitionBy(CLUSTER_COL).orderBy(*order)
    ranked = ranked.withColumn("__rnk", F.row_number().over(w))

    pool = ranked if max_cell is None else ranked.filter(F.col("__rnk") <= max_cell)
    items = pool.groupBy(CLUSTER_COL).agg(
        F.collect_list(F.struct("__rnk", F.col(id_col).alias("__id"), "__v")).alias(
            "__items"
        )
    )
    # in-cluster pair expansion: (earlier, later) by rank — computed from
    # the grouped relation so the assignment pipeline is not re-run for a
    # second self-join side
    pairs = items.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__items",
                    lambda e: F.transform(
                        F.filter("__items", lambda l: l["__rnk"] > e["__rnk"]),
                        lambda l: F.struct(
                            e["__v"].alias("__ev"),
                            l["__v"].alias("__lv"),
                            l["__id"].alias("__lid"),
                        ),
                    ),
                )
            )
        ).alias("__p")
    )
    dropped = (
        pairs.withColumn(
            "__cos", F.round(cosine_similarity("__p.__ev", "__p.__lv"), 6)
        )
        .filter(F.col("__cos") >= threshold)
        .select(F.col("__p.__lid").alias(id_col))
        .distinct()
    )
    return (
        ranked.join(dropped.withColumn("__drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col(CLUSTER_COL),
            # int, not boolean — keeps the oracle's canonical compare
            # engine-neutral
            F.coalesce(~F.col("__drop"), F.lit(True)).cast("int").alias("kept"),
        )
    )
