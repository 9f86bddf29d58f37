"""Product quantization (PQ) — the deepest vector-compression tier.

SQ8 (similarity/quantize.py) stores one byte per DIMENSION (8× smaller
than float64). PQ stores one byte-sized code per SUBSPACE: the vector
splits into ``m`` contiguous sub-vectors, each quantized to its nearest
of ``k`` per-subspace centroids, so a 64-dim float64 vector (512 B)
becomes ``m`` small ints (8 B at m=8) — 64×. This is the FAISS IndexPQ /
IVFPQ storage model (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011) — the standard way a 100 TB embedding
corpus becomes RAM-resident.

Pipeline (mirrors the SQ8 module's contracts):

  train    per-subspace Lloyd's k-means on a bounded, id-sorted driver
           sample (same recipe and determinism contract as IVF centroid
           training — the model is a pure function of table contents);
  encode   one Arrow-batched mapInPandas pass: per-subspace argmin over
           the k centroids (vectorized; first-min ties like np.argmin);
  probe    asymmetric distance (ADC): per query, an m×k lookup table of
           partial squared distances ||q_sub − centroid||² is inlined as
           a LITERAL array-of-arrays column, and the distance is a pure
           JVM-side fold over the code array — table lookups,
           zero Python on the scan, zero UDF in the hot path. An exact
           rerank of the shortlist (broadcast candidate ids back to the
           raw vectors) recovers full-precision ordering.

Correctness: training, encoding, and ADC are deterministic, so a
numpy-only offline replay reproduces codes and top-k bit-exactly and the
DuckDB oracle inlines the replayed hits as VALUES
(queries.py `ann_pq_adc` / `ann_pq_rerank`).

The reference stores raw doubles in all of its indexes
(src/storage/index/*.cpp); north-star scale extension beside SQ8.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .. import fold
from ..index.ivfflat import _lloyds_numpy


def _split(dim: int, m: int) -> list[tuple[int, int]]:
    """Contiguous subspace [start, end) bounds; dim need not divide m."""
    if not (0 < m <= dim):
        raise ValueError(f"need 0 < m <= dim, got m={m} dim={dim}")
    base, extra = divmod(dim, m)
    bounds, s = [], 0
    for i in range(m):
        e = s + base + (1 if i < extra else 0)
        bounds.append((s, e))
        s = e
    return bounds


@dataclass
class PQModel:
    """Trained per-subspace codebooks: centroids[i] is (k, dsub_i)."""

    centroids: list[np.ndarray]
    bounds: list[tuple[int, int]]

    @property
    def m(self) -> int:
        return len(self.centroids)

    @property
    def k(self) -> int:
        return len(self.centroids[0])

    @classmethod
    def train_rows(
        cls, mat: np.ndarray, m: int = 8, k: int = 16, max_iter: int = 5
    ) -> "PQModel":
        """Train from an in-memory (n, dim) matrix — the numpy core shared
        by the Spark path and the offline-replay oracle. Init: the first k
        sample rows' sub-vectors (the IVF seeding recipe, deterministic)."""
        if len(mat) < k:
            raise ValueError(f"need at least k={k} training rows, got {len(mat)}")
        bounds = _split(mat.shape[1], m)
        cents = []
        for s, e in bounds:
            sub = mat[:, s:e]
            cents.append(
                np.asarray(
                    _lloyds_numpy(sub.tolist(), sub[:k].tolist(), max_iter),
                    dtype=np.float64,
                )
            )
        return cls(cents, bounds)

    @classmethod
    def train(
        cls,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        m: int = 8,
        k: int = 16,
        max_iter: int = 5,
        max_cells: int = 32_000_000,
    ) -> "PQModel":
        """Driver-side training over a bounded, id-SORTED sample (pure
        function of table contents — offline replays reproduce it)."""
        vec = F.col(vec_col).cast("array<double>")
        n = df.count()
        first = df.select(vec.alias("v")).first()
        dim = len(first["v"])
        frac = min(1.0, max_cells / max(n * dim, 1))
        sample = (
            df if frac >= 1.0 else df.sample(fraction=frac, seed=42)
        ).select(F.col(id_col).alias("__id"), vec.alias("v"))
        rows = sorted(sample.collect(), key=lambda r: r["__id"])
        mat = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
        return cls.train_rows(mat, m=m, k=k, max_iter=max_iter)

    # -- encode ------------------------------------------------------------
    def encode_rows(self, mat: np.ndarray) -> np.ndarray:
        """(n, m) int codes — per-subspace argmin (first-min ties)."""
        out = np.empty((len(mat), self.m), dtype=np.int64)
        for i, (s, e) in enumerate(self.bounds):
            sub = mat[:, s:e]
            c = self.centroids[i]
            d = -2.0 * (sub @ c.T) + (c * c).sum(axis=1)
            out[:, i] = np.argmin(d, axis=1)
        return out

    def encode(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        codes_col: str = "codes",
        keep: tuple = (),
    ) -> DataFrame:
        """(id, *keep, codes array<int>) — one Arrow-batched mapInPandas
        pass; ``keep`` columns (e.g. an IVF bucket id) pass through."""
        import pandas as pd

        model = self
        passthrough = [id_col, *keep]

        def run(batches):
            for pdf in batches:
                mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                codes = model.encode_rows(mat) if len(mat) else np.empty((0, model.m))
                out = pdf[passthrough].copy()
                out[codes_col] = [list(map(int, c)) for c in codes]
                yield out

        types = {f.name: f.dataType.simpleString() for f in df.schema}
        schema = ", ".join(f"{c} {types[c]}" for c in passthrough)
        src = df.select(
            *[F.col(c) for c in passthrough],
            F.col(vec_col).cast("array<double>").alias(vec_col),
        )
        return src.mapInPandas(run, f"{schema}, {codes_col} array<int>")

    # -- ADC probe ---------------------------------------------------------
    def lut(self, query: list[float], metric: str = "l2") -> list[list[float]]:
        """m×k per-subspace partials — the per-query lookup table
        (O(m·k·dsub) driver floats). l2: ||q_sub − centroid||²; ip:
        ⟨q_sub, centroid⟩ (the distance/similarity decomposes exactly over
        subspaces in both cases). Cosine does NOT decompose (norms are
        global) — the standard recipe is normalize-at-encode + ip, exactly
        as with SQ8 (similarity/projection.normalize)."""
        q = np.asarray(query, dtype=np.float64)
        out = []
        for i, (s, e) in enumerate(self.bounds):
            if metric == "l2":
                diff = self.centroids[i] - q[s:e]
                out.append([float(x) for x in (diff * diff).sum(axis=1)])
            elif metric == "ip":
                out.append([float(x) for x in self.centroids[i] @ q[s:e]])
            else:
                raise ValueError(f"unsupported PQ ADC metric {metric!r}")
        return out

    def adc_dist(self, codes_col: str, query: list[float], metric: str = "l2") -> Column:
        """Σ_i lut[i][code_i] (sqrt'd for l2) as a PURE native expression:
        the lookup table is a literal array<array<double>>, the fold runs
        JVM-side — table lookups on the scan, no UDF. l2 orders ascending;
        ip is a similarity, order it descending."""
        return adc_fold(
            fold.sql_col(codes_col), fold.sql_vecs_lit(self.lut(query, metric)), metric
        )

    def adc_topk(
        self,
        codes_df: DataFrame,
        id_col: str,
        query: list[float],
        n: int,
        codes_col: str = "codes",
        dist_col: str = "distance",
        metric: str = "l2",
    ) -> DataFrame:
        order = F.col(dist_col).asc() if metric == "l2" else F.col(dist_col).desc()
        return (
            codes_df.select(
                F.col(id_col),
                self.adc_dist(codes_col, query, metric).alias(dist_col),
            )
            .orderBy(order, F.col(id_col).asc())
            .limit(n)
        )


def adc_fold(codes: str, lut: str, metric: str = "l2") -> Column:
    """Σ_i lut[i][code_i] (sqrt'd for l2) over an array<array<double>>
    lookup-table operand (SQL text, as ``codes``): a left fold of the
    table lookups, one ``F.expr`` node."""
    gather = f"zip_with({lut}, {codes}, (__row, __code) -> element_at(__row, __code + 1))"
    total = fold.sql_seq_sum(gather)
    return F.expr(f"sqrt({total})" if metric == "l2" else total)


def pq_rerank_topk(
    model: PQModel,
    codes_df: DataFrame,
    source_df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    rerank_mult: int = 4,
    dist_col: str = "distance",
) -> DataFrame:
    """ADC shortlist of k·rerank_mult over the codes, exact l2 rerank
    against the full-precision source (broadcast candidate ids — the
    corpus never shuffles), true top-k."""
    from ..functions.vector import l2_dist

    short = model.adc_topk(codes_df, id_col, query, k * rerank_mult).select(id_col)
    return (
        source_df.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(short), id_col)
        .select(F.col(id_col), l2_dist(vec_col, query).alias(dist_col))
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


# -- offline replay (oracle) ----------------------------------------------


def offline_pq(
    parquet_path: str,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    centroids: list[list[float]] | None = None,
) -> tuple[PQModel, list, np.ndarray]:
    """Replay train + encode without Spark: (model, ids, codes), a pure
    function of the parquet contents (id-sorted, same init, same argmin).
    ``centroids`` replays a RESIDUAL train (``ivfcodes.PQCodes(residual=
    True)``, the routed and vamana residual PQ): the rows are
    x − centroids[nearest] — the fold argmin the Spark assignment
    evaluates (first-min ties), an elementwise subtraction (no order to
    vary)."""
    import pyarrow.parquet as pq_

    t = pq_.read_table(parquet_path, columns=[id_col, vec_col])
    pairs = sorted(zip(t[id_col].to_pylist(), t[vec_col].to_pylist()))
    ids = [p[0] for p in pairs]
    mat = np.asarray([p[1] for p in pairs], dtype=np.float64)
    if mat.size > 32_000_000:
        # PQModel.train switches to a sampled collect past this budget;
        # the full-table replay would silently train a DIFFERENT model
        raise ValueError(
            "offline_pq only replicates the full-table training path "
            f"({mat.shape[0]}×{mat.shape[1]} cells exceeds the budget)"
        )
    if centroids is not None:
        cells = [fold.nearest(p[1], centroids) for p in pairs]
        mat = mat - np.asarray(centroids, dtype=np.float64)[cells]
    model = PQModel.train_rows(mat, m=m, k=k)
    return model, ids, model.encode_rows(mat)


def offline_pq_search(
    model: PQModel,
    ids: list,
    codes: np.ndarray,
    query: list[float],
    k: int,
    metric: str = "l2",
    rerank: tuple | None = None,
    centroids: list[list[float]] | None = None,
    probe_lists: int | None = None,
    residual: bool = False,
) -> list[tuple]:
    """Replay PQ serving without Spark: ADC over the codes with the same
    left-fold arithmetic as the Spark expression (sequential adds over
    subspaces; sqrt for l2), (distance, id)-ordered (score desc for ip).

    - alone: ``adc_topk`` — the k best ADC rows.
    - ``rerank=(vectors_by_id, shortlist)``: ``pq_rerank_topk`` — the
      ``shortlist`` best ADC ids rerank with the exact left-fold l2.
    - ``centroids`` (with ``probe_lists`` and ``rerank``):
      ``IVFCodesIndex.probe`` over ``PQCodes`` — rows assign to cells by the fold argmin
      (first-min ties), the probe_lists nearest cells rank driver-style
      (fold.rank_centroids), only their rows are scored; ``residual``
      scores each cell with the LUT of q − centroid[cell] (codes from
      ``offline_pq(centroids=...)``).

    Returns [(id, distance or score)]."""
    q = np.asarray(query, dtype=np.float64)
    if centroids is None:
        lut = model.lut(query, metric)
    else:
        probed = fold.rank_centroids("l2", centroids, query)[:probe_lists]
        cmat = np.asarray(centroids, dtype=np.float64)
        luts = {
            b: model.lut([float(x) for x in (q - cmat[b])] if residual else query)
            for b in probed
        }
    scored = []
    for rid, row in zip(ids, codes):
        if centroids is not None:
            cell = fold.nearest([float(x) for x in rerank[0][rid]], centroids)
            if cell not in luts:
                continue
            lut = luts[cell]
        s = fold.seq_sum(lut[i][int(c)] for i, c in enumerate(row))
        scored.append((rid, math.sqrt(s) if metric == "l2" else s))
    asc = metric == "l2"
    scored.sort(key=lambda t: (t[1] if asc else -t[1], t[0]))
    if rerank is None:
        return scored[:k]
    short = [rid for rid, _ in scored[: rerank[1]]]
    return fold.exact_rerank("l2", rerank[0], short, query, k)
