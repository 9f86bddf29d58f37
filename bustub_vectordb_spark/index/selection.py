"""Vector-index selection — the one rewrite Catalyst cannot do.

Mirrors the reference's AsVectorIndexScan optimizer rule
(src/optimizer/vector_index_scan.cpp:29-149): a query shaped
``ORDER BY dist(col, const) LIMIT k`` over an indexed table is rewritten to
an ANN index probe instead of an exact scan, honoring the
``vector_index_method`` session variable:

  'unset'    → use the first matching index (exact-distance-fn match
               preferred, :29-62)
  'none'     → never use an index (exact scan)
  'ivfflat'  → only an ivfflat index qualifies
  'hnsw'     → only an hnsw index qualifies

Because our engine's query layer is the DataFrame API, the "plan node" here
is an explicit planning step: :func:`plan_knn` returns a KnnPlan describing
the chosen strategy (for EXPLAIN-style plan-shape tests, mirroring
test/sql/vector.03-index-selection.slt) and builds the DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..similarity.brute import knn as brute_knn
from .registry import VectorIndexRegistry


@dataclass
class KnnPlan:
    """EXPLAIN surface: strategy is 'vector_index_scan(<method>)' or
    'seq_scan' — asserted by plan-shape tests."""

    strategy: str
    index_name: str | None
    df: DataFrame


def plan_knn(
    registry: VectorIndexRegistry,
    table: str,
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int,
    dist: str = "l2",
    method: str = "unset",
    dist_col: str = "distance",
    where=None,
) -> KnnPlan:
    """Plan ``SELECT *, dist(vec_col, query) AS d FROM table [WHERE pred]
    ORDER BY d LIMIT k``.

    method is the ``vector_index_method`` session variable. ``where`` (a
    Column predicate over the base table) plans FILTERED vector search: the
    predicate is pushed INTO the chosen index probe — a metadata pre-filter
    inside probed buckets for IVFFlat, a traversal-time allowed-set for the
    HNSW family — so top-k is taken among matching rows (never a
    post-filter of an unfiltered top-k, which can return < k rows)."""
    if method != "none":
        candidates = [
            i
            for i in registry.lookup(table, vec_col)
            if method in ("unset", i.method)
        ]
        # exact distance-fn match preferred (ref MatchVectorIndex :50-57);
        # the mismatched-distance fallback only applies when the method is
        # 'unset' — an explicit 'ivfflat'/'hnsw' with no dist match returns
        # nullptr in the reference (seq scan), since probing a wrong-distance
        # index yields wrongly ordered top-k
        exact = [i for i in candidates if i.dist == dist]
        fallback = candidates[0] if candidates and method == "unset" else None
        chosen = exact[0] if exact else fallback
        if chosen is not None:
            if where is None:
                probe = chosen.index.probe(query, k, dist_col=dist_col)
            elif hasattr(chosen.index, "assignments"):  # IVFFlat: bucket pre-filter
                probe = chosen.index.probe(query, k, dist_col=dist_col, where=where)
            else:  # HNSW family: allowed-id set from the base-table filter
                allowed = df.filter(where).select(chosen.index.id_col)
                probe = chosen.index.probe(
                    query, k, dist_col=dist_col, allowed=allowed
                )
            return KnnPlan(f"vector_index_scan({chosen.method})", chosen.name, probe)
    base = df if where is None else df.filter(where)
    return KnnPlan(
        "seq_scan", None, brute_knn(base, vec_col, query, k, dist=dist, dist_col=dist_col)
    )
