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

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ..fold import col_dot, col_l2_sq, col_norm_sq
from ..functions.vector import vec_lit


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

    def _lits(self) -> tuple[Column, Column]:
        return vec_lit(self.mins), vec_lit(self.maxs)

    def encode(self, vec: Column | str) -> Column:
        """array<int> codes in 0..255; constant dimensions encode to 0."""
        v = (F.col(vec) if isinstance(vec, str) else vec).cast("array<double>")
        mn, mx = self._lits()
        with_mn = F.zip_with(v, mn, lambda x, lo: x - lo)
        # pair with the per-dim range, then quantize
        return F.zip_with(
            with_mn,
            F.zip_with(mx, mn, lambda hi, lo: hi - lo),
            lambda cen, rng: F.when(rng == 0, F.lit(0)).otherwise(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(255), F.floor(F.lit(255.0) * cen / rng + 0.5).cast("int")
                    ),
                )
            ),
        )

    def _decoded(self, codes: Column | str) -> Column:
        """On-the-fly decode: mn + code·(mx−mn)/255 (matches the oracle)."""
        c = F.col(codes) if isinstance(codes, str) else codes
        mn, mx = self._lits()
        return F.transform(
            c, lambda code, i: F.get(mn, i) + code * (F.get(mx, i) - F.get(mn, i)) / 255.0
        )

    def adc_dist_sq(self, codes: Column | str, query: list[float]) -> Column:
        """Squared L2 between the full-precision query and the decoded codes
        (asymmetric: the query is never quantized)."""
        return col_l2_sq(self._decoded(codes), vec_lit(query))

    def adc_ip(self, codes: Column | str, query: list[float]) -> Column:
        """Asymmetric inner product ⟨decoded, q⟩ — larger is nearer
        (vector_ip_ops; ops classes per reference catalog.h:322-331)."""
        return col_dot(self._decoded(codes), vec_lit(query))

    def adc_cosine(self, codes: Column | str, query: list[float]) -> Column:
        """Asymmetric cosine similarity: ⟨decoded,q⟩ / (‖decoded‖·‖q‖).
        ‖q‖ is a driver-computed literal (query-derived, same literal is
        inlined into the oracle SQL); ‖decoded‖ is per-row."""
        import math

        decoded = self._decoded(codes)
        dot = col_dot(decoded, vec_lit(query))
        dn = F.sqrt(col_norm_sq(decoded))
        qn = math.sqrt(sum(float(x) * float(x) for x in query)) or 1e-300
        return dot / (dn * F.lit(qn))

    # metric → (score builder attr, ascending?) — 'l2' orders ascending
    # (distance), 'ip'/'cosine' descending (similarity), mirroring
    # similarity.brute.ASCENDING
    _METRICS = {"l2": True, "ip": False, "cosine": False}

    def adc_score(self, codes: Column | str, query: list[float], metric: str) -> Column:
        if metric == "l2":
            return self.adc_dist_sq(codes, query)
        if metric == "ip":
            return self.adc_ip(codes, query)
        if metric == "cosine":
            return self.adc_cosine(codes, query)
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
        codes = self.encode(vec_col)
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
    import math

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
