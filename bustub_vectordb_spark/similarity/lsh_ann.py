"""LSH-bucketed approximate nearest neighbor — the hash-routed scale path.

Complements the IVF probe (index/ivfflat.py) with the other standard
bucketed-ANN design: random-hyperplane LSH (Charikar, STOC'02 — SimHash for
cosine). Each vector gets a ``n_planes``-bit signature (sign of projection
onto seeded hyperplanes) packed into ONE bigint bucket code; similar vectors
collide in nearby codes.

Why this matters at 100 TB: unlike IVF, there is NO training pass — the
planes are data-independent, so the signature is a pure per-row expression
(inner-product folds, no shuffle, no driver round-trip) that can be
computed at ingest and persisted/bucketed. Probing is then:

  probe        enumerate every code within Hamming ≤ h of the query's code
               driver-side (Σ C(n,i) codes — e.g. 697 for n=16, h=3) and
               filter ``code IN (...)``: with the code column persisted and
               the table partitioned by code this is pure partition pruning —
               the scan touches only colliding buckets.
  probe_batch  multi-probe as an EQUI-join: each query row explodes into its
               probe-code set, joins on the vector's exact code, then exact
               per-query top-k (row_number window → WindowGroupLimit). A
               plain shuffle-on-bigint join — the scalable batch shape; every
               (query, vector) candidate collides on exactly one code, so no
               dedup pass is needed.

Both probes verify candidates with the exact distance, so results are
"exact over the candidate set" — and because the planes are seeded, the
candidate set itself is engine-reproducible: the DuckDB oracle inlines the
same planes and recomputes the identical buckets (strong hash-match gate,
same trick as similarity/neardup.py's random_hyperplane_pairs).

Reference parity note: the reference's ANN surface is IVFFlat + HNSW
(src/storage/index/ivfflat_index.cpp, hnsw_index.cpp); LSH is the
north-star extension (BASELINE.json "LSH-bucketed variant as the scale
path"), not a reference port.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..fold import sql_distance, sql_operand, sql_vec_lit
from ..functions.vector import cosine_similarity


def make_planes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian hyperplanes — deterministic, data-independent."""
    return np.random.RandomState(seed).normal(size=(n_planes, dim))


def packed_code(vec_col: str, planes: np.ndarray):
    """One bigint bucket code: sign bits of the projections, MSB-first.

    A single per-row expression (n inner-product folds + integer sum), one
    ``F.expr`` node — no UDF, no shuffle.
    """
    n = len(planes)
    v = sql_operand(vec_col)
    code = "CAST(0 AS BIGINT)"
    for j, p in enumerate(planes):
        bit = f"CAST({sql_distance('ip', v, sql_vec_lit(p))} > 0 AS BIGINT)"
        code = f"{code} + {bit} * {2 ** (n - 1 - j)}"
    return F.expr(code)


def query_code(query: list[float], planes: np.ndarray) -> int:
    """The query's bucket code, computed driver-side.

    Row codes and probe codes never need to agree bit-for-bit across
    engines — correctness only needs BOTH engines to filter rows against
    the SAME literal probe-code list, which this function fixes.
    """
    bits = (planes @ np.asarray(query, dtype=np.float64)) > 0
    n = len(planes)
    return int(sum(int(b) << (n - 1 - j) for j, b in enumerate(bits)))


def probe_codes(code: int, n_planes: int, max_hamming: int) -> list[int]:
    """All codes within Hamming distance ≤ max_hamming of ``code``
    (multi-probe LSH: Lv et al., VLDB'07) — Σ C(n, i) values, enumerated
    driver-side. 697 codes for n=16, h=3."""
    out = [code]
    for h in range(1, max_hamming + 1):
        for flips in combinations(range(n_planes), h):
            mask = 0
            for f in flips:
                mask |= 1 << f
            out.append(code ^ mask)
    return out


def lsh_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    n_planes: int = 16,
    max_hamming: int = 3,
    seed: int = 42,
    sim_col: str = "similarity",
) -> DataFrame:
    """Single-query LSH probe: Hamming-ball bucket filter → exact cosine
    top-k over the candidates (descending similarity, id tie-break).

    May return fewer than k rows when the Hamming ball holds fewer than k
    vectors — approximate by design, like a small-``probe_lists`` IVF probe.
    """
    planes = make_planes(n_planes, len(query), seed)
    codes = probe_codes(query_code(query, planes), n_planes, max_hamming)
    cand = df.filter(packed_code(vec_col, planes).isin(codes))
    return (
        cand.select(F.col(id_col), cosine_similarity(vec_col, query).alias("__sim"))
        .orderBy(F.col("__sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("__sim", 8).alias(sim_col))
    )


def lsh_knn_batch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    k: int,
    n_planes: int = 16,
    max_hamming: int = 3,
    seed: int = 42,
    sim_col: str = "similarity",
) -> DataFrame:
    """Batch multi-probe: queries explode into their probe-code sets,
    equi-join on the corpus's exact code, per-query exact top-k.

    Output: (query_id, id_col, sim_col) — approximate (candidates only),
    exact similarity and ordering within the candidate set.
    """
    dim = len(df.select(vec_col).first()[0])
    planes = make_planes(n_planes, dim, seed)

    corpus = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        packed_code(vec_col, planes).alias("__code"),
    )
    # per-query probe-code enumeration stays an EXPRESSION: the query's own
    # code XOR a precomputed literal flip-mask array (same for all rows)
    masks = [0]
    for h in range(1, max_hamming + 1):
        for flips in combinations(range(n_planes), h):
            m = 0
            for f in flips:
                m |= 1 << f
            masks.append(m)
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).alias("__qv"),
        packed_code(query_vec, planes).alias("__qcode"),
    ).select(
        query_id,
        "__qv",
        F.explode(
            F.transform(
                F.lit(masks).cast("array<bigint>"),
                lambda m: F.col("__qcode").bitwiseXOR(m),
            )
        ).alias("__code"),
    )
    cands = q.join(corpus, "__code").select(
        query_id,
        id_col,
        cosine_similarity("__qv", "__v").alias("__sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("__sim").desc(), F.col(id_col).asc())
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(query_id, id_col, F.round("__sim", 8).alias(sim_col))
    )
