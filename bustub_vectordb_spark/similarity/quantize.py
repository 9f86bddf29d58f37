"""Scalar quantization (SQ8) — compressed-vector ANN, the memory-scale path.

At 100 TB of float32 embeddings, the working set is the problem: a
1-billion-row corpus of 768-dim float vectors is ~3 TB; quantized to one
byte per dimension it is ~0.75 TB — the difference between spilling and a
RAM-resident scan (FAISS's SQ8 storage makes the same trade; cf. the
IndexScalarQuantizer design in the FAISS paper, Johnson et al. 2017).

Pipeline:

  train    per-dimension (min, max) over the corpus — posexplode +
           groupBy(dim): one shuffle of (dim, val) pairs, output is
           dimension-sized (collected to the driver like IVF centroids);
  encode   code[d] = clamp(floor(255·(x−mn)/(mx−mn) + 0.5), 0..255) —
           a narrow zip_with projection, no shuffle;
  probe    asymmetric distance (ADC): the query stays full-precision,
           stored codes are decoded on the fly (mn + code·(mx−mn)/255);
           L2 over decoded values, global top-k.

Every arithmetic step uses the same operation order as the DuckDB oracle
SQL (sq8_adc_oracle_sql), so the driver gate hash-matches the whole
compressed pipeline bit-for-bit (only the final distance is rounded, to
absorb summation order). `floor(x + 0.5)` is used instead of round() —
Spark rounds half-to-even, DuckDB half-away-from-zero; floor(+0.5) is
identical everywhere.

Recall: SQ8 is near-lossless for KNN at 64-256 dims (max per-dim error =
scale/2); tests/test_quantize.py pins recall@10 vs exact KNN.

The reference has no quantization surface (its IVFFlat/HNSW store raw
doubles, src/storage/index/*.cpp); north-star scale extension.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from .. import fold


def dim_stats(df: DataFrame, vec_col: str) -> DataFrame:
    """(dim, mn, mx) per dimension — distributed, one shuffle keyed by dim."""
    return (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )


@dataclass
class SQ8Model:
    """Trained per-dimension quantizer. mins/maxs are dimension-sized
    (driver-resident like IVF centroids — O(dims), not O(rows))."""

    mins: list[float]
    maxs: list[float]

    @classmethod
    def train(cls, df: DataFrame, vec_col: str) -> "SQ8Model":
        rows = dim_stats(df, vec_col).orderBy("dim").collect()
        return cls([r["mn"] for r in rows], [r["mx"] for r in rows])

    def _lits(self) -> tuple[str, str]:
        return fold.sql_vec_lit(self.mins), fold.sql_vec_lit(self.maxs)

    def encode_sql(self, v: str) -> str:
        """SQL text of the array<int> codes (0..255) of the array<double>
        operand ``v``; constant dimensions encode to 0."""
        mn, mx = self._lits()
        # pair the offset from the per-dim minimum with the per-dim range
        return (
            f"zip_with(zip_with({v}, {mn}, (__x, __lo) -> __x - __lo), "
            f"zip_with({mx}, {mn}, (__hi, __lo) -> __hi - __lo), "
            "(__cen, __rng) -> CASE WHEN __rng = 0 THEN 0 ELSE greatest(0, "
            "least(255, CAST(floor(255.0D * __cen / __rng + 0.5D) AS INT))) END)"
        )

    def encode(self, vec_col: str) -> Column:
        """array<int> codes of a vector column (:meth:`encode_sql`)."""
        return F.expr(self.encode_sql(fold.sql_operand(vec_col)))

    def _decoded(self, codes: str) -> str:
        """On-the-fly decode of a codes operand: mn + code·(mx−mn)/255
        (matches the oracle)."""
        mn, mx = self._lits()
        return (
            f"transform({codes}, (__code, __i) -> "
            f"get({mn}, __i) + __code * (get({mx}, __i) - get({mn}, __i)) / 255.0D)"
        )

    # metric → ascending? — 'l2' orders ascending (distance), 'ip'/'cosine'
    # descending (similarity), mirroring similarity.brute.ASCENDING
    _METRICS = {"l2": True, "ip": False, "cosine": False}

    def adc_score(self, codes: str, query: list[float], metric: str) -> Column:
        """Asymmetric score of the decoded codes (``codes``: SQL text of an
        array<int> operand) against the full-precision query, which is
        never quantized: squared L2 (vector_l2_ops), inner product ⟨decoded,
        q⟩ or cosine ⟨decoded,q⟩ / (‖decoded‖·‖q‖) — larger is nearer for
        the last two (ops classes per reference catalog.h:322-331). ‖q‖ is
        a driver-computed literal (query-derived, same literal is inlined
        into the oracle SQL); ‖decoded‖ is per-row."""
        dec, q = self._decoded(codes), fold.sql_vec_lit(query)
        if metric == "l2":
            return F.expr(fold.sql_l2_sq(dec, q))
        if metric == "ip":
            return F.expr(fold.sql_dot(dec, q))
        if metric == "cosine":
            qn = math.sqrt(sum(float(x) * float(x) for x in query)) or 1e-300
            return F.expr(
                f"({fold.sql_dot(dec, q)} / "
                f"(sqrt({fold.sql_norm_sq(dec)}) * {fold.sql_double(qn)}))"
            )
        raise ValueError(f"unknown SQ8 metric: {metric}")

    def adc_topk(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        query: list[float],
        k: int,
        dist_col: str = "adc_dist",
        metric: str = "l2",
    ) -> DataFrame:
        """End-to-end compressed probe: encode (narrow) → ADC score →
        global top-k (TakeOrderedAndProject). Ties broken by id. ``metric``
        covers all three reference ops classes (l2 ascending, ip/cosine
        descending)."""
        codes = self.encode_sql(fold.sql_operand(vec_col))
        score = F.round(self.adc_score(codes, query, metric), 6)
        order = (
            F.col(dist_col).asc() if self._METRICS[metric] else F.col(dist_col).desc()
        )
        return (
            df.select(F.col(id_col), score.alias(dist_col))
            .orderBy(order, F.col(id_col).asc())
            .limit(k)
        )


def sq8_adc_oracle_sql(
    table: str, vec_col: str, id_col: str, query: list[float], k: int,
    dist_col: str = "adc_dist", metric: str = "l2",
) -> str:
    """Self-contained DuckDB replica of train→encode→ADC→top-k: the
    per-dimension stats are computed in SQL (no data-derived literals), and
    every arithmetic step mirrors SQ8Model's operation order. ``metric``
    mirrors adc_topk's: l2 (squared distance, ASC), ip / cosine
    (similarity, DESC)."""
    qvals = ", ".join(repr(float(x)) for x in query)
    dec = "(mn + code * (mx - mn) / 255.0)"
    if metric == "l2":
        score = f"round(sum(({dec} - qx) * ({dec} - qx)), 6)"
        direction = "ASC"
    elif metric == "ip":
        score = f"round(sum({dec} * qx), 6)"
        direction = "DESC"
    elif metric == "cosine":
        qn = repr(math.sqrt(sum(float(x) * float(x) for x in query)) or 1e-300)
        score = f"round(sum({dec} * qx) / (sqrt(sum({dec} * {dec})) * {qn}), 6)"
        direction = "DESC"
    else:
        raise ValueError(f"unknown SQ8 metric: {metric}")
    return f"""
    WITH dims AS (
        SELECT i AS dim, min(x) AS mn, max(x) AS mx
        FROM (SELECT unnest({vec_col}::DOUBLE[]) AS x,
                     generate_subscripts({vec_col}, 1) AS i
              FROM {table})
        GROUP BY i
    ),
    q AS (SELECT unnest([{qvals}]) AS qx,
                 generate_subscripts([{qvals}], 1) AS dim),
    elems AS (
        SELECT {id_col}, generate_subscripts({vec_col}, 1) AS dim,
               unnest({vec_col}::DOUBLE[]) AS x
        FROM {table}
    ),
    coded AS (
        SELECT e.{id_col}, e.dim, d.mn, d.mx, q.qx,
               CASE WHEN d.mx - d.mn = 0 THEN 0
                    ELSE greatest(0, least(255,
                         CAST(floor(255.0 * (e.x - d.mn) / (d.mx - d.mn) + 0.5) AS INTEGER)))
               END AS code
        FROM elems e JOIN dims d USING (dim) JOIN q USING (dim)
    ),
    dists AS (
        SELECT {id_col}, {score} AS {dist_col}
        FROM coded GROUP BY {id_col}
    )
    SELECT {id_col}, {dist_col} FROM dists
    ORDER BY {dist_col} {direction}, {id_col} ASC LIMIT {k}
    """
