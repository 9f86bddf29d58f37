"""HNSW — hierarchical navigable small world ANN index.

Reference semantics (src/storage/index/hnsw_index.cpp): params ``m``,
``ef_construction``, ``ef_search`` (all required, ctor :28-59);
``m_max = m``, ``m_max_0 = m*m`` on layer 0, level assignment with
``m_l = 1/ln(m)``; greedy best-first SearchLayer with candidate min-heap /
result max-heap (:86-130); build = insert one-by-one (:180-185). The
algorithm itself is the published Malkov & Yashunin HNSW (arXiv:1603.09320)
— this is a clean-room NumPy implementation of that paper.

Spark-first strategy (SURVEY.md §7 step 7): graph construction is inherently
sequential pointer-chasing, the one reference capability that does NOT fit
Spark's execution model. The engine therefore offers two modes:

  * ``build`` (driver mode) — exact single-graph build in NumPy; right for
    dimension tables / ≤ a few million vectors. The finished graph is
    persisted as DataFrames (vertices + per-layer edge lists) so probes and
    downstream jobs are distributed even though the build was not.
  * ``build_routed`` — scale mode: coarse k-means centroids route each
    vector to a spatially coherent shard, every shard builds its own graph
    in parallel (``applyInPandas``), and a probe searches only the
    ``n_probe`` shards nearest the query, merging their top-k — the
    IVF-over-HNSW layering FAISS and SPANN-style systems use at scale.

Batch search (``search_batch``) broadcasts the graph and runs mapInPandas
over the query DataFrame — Arrow transfer, no per-row Python overhead.
"""

from __future__ import annotations

import heapq
import math
import random
from dataclasses import dataclass, field, replace

import numpy as np

from .. import fold


def _rotate_rows_exact(mat: np.ndarray, rot: np.ndarray) -> np.ndarray:
    """Rotated rows out[i, d] = sum_j mat[i, j] * rot[d, j], accumulated
    per-INPUT-dim sequentially (vectorized across rows and output dims) —
    the identical IEEE op sequence to similarity/bq.rotate_vec's driver
    loop and rotate_col's Spark fold, and NOT a BLAS matmul: matmul
    summation order is buffer-alignment-dependent (see _dist_many), and
    the rotated values feed sign comparisons against thresholds derived in
    a different process (worker build vs offline oracle replay)."""
    mat = np.asarray(mat, dtype=np.float64)
    out = np.zeros((mat.shape[0], rot.shape[0]), dtype=np.float64)
    for j in range(mat.shape[1]):
        out += mat[:, j : j + 1] * rot[:, j]
    return out


def _rotate_bounds(mins, maxs, rot: np.ndarray) -> tuple[list, list]:
    """Exact interval-arithmetic enclosure of the rotated per-dim box —
    the rotated-space frozen fallback for shards born empty: any vector
    inside [mins, maxs] rotates to inside these bounds, so the fallback
    thresholds are sane without a second data pass."""
    mn = np.asarray(mins, dtype=np.float64)
    mx = np.asarray(maxs, dtype=np.float64)
    c = _rotate_rows_exact(((mn + mx) / 2.0)[None, :], rot)[0]
    h = _rotate_rows_exact(((mx - mn) / 2.0)[None, :], np.abs(rot))[0]
    return (c - h).tolist(), (c + h).tolist()


def _spread_queries(df):
    """Spread an under-partitioned query DataFrame before a CPU-bound
    per-query kernel (driver-graph batch walks parallelize over query
    PARTITIONS — a small parquet query table arrives as ONE file split
    and pins every walk to a single Python worker; measured 10.4 s → sub
    -second on the sf0.1 vamana_pq_batch key at 286 queries/32 cores).
    Same rationale as dedup.minhash._spread / IVFFlat.batch_probe; no-op
    at scale where query inputs already carry many splits. Round-robin
    repartition: per-query results are partition-independent, so output
    content (and every oracle hash) is unchanged."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def _pin_cpu_groups(df, *keys):
    """Repartition by the group keys with an EXPLICIT partition count
    before a CPU-bound ``groupBy().applyInPandas`` / grouped-agg →
    ``mapInPandas`` stage. AQE's partition coalescing sizes post-shuffle
    partitions by BYTES (advisoryPartitionSizeInBytes /
    minPartitionSize) — the right economics for shuffle-bound SQL, the
    wrong proxy for Python kernels whose cost is CPU per group: the
    bench-scale vamana propose stage (~4 MB of routed rows, 8 sub-graph
    builds of ~1.1 s each) coalesced into 1-2 tasks and ran the builds
    serially — measured 4.5 s plain vs 1.8 s with coalescing disabled.
    A user-specified ``repartition(n, keys)`` pins the partition count
    (AQE never coalesces explicit repartitions) and the downstream
    groupBy on the same keys reuses the exchange, so no shuffle is
    added — the bytes move once either way. Scale-adaptive: n follows
    the session's core count / shuffle setting, never a constant."""
    spark = df.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return df.repartition(n, *keys)


# 256×8 bit table for the BQ byte-LUT walk pass: row b = the 8 bits of
# byte value b, MSB-first (np.unpackbits order — the same order packbits
# wrote the sign codes). Built once at import; 16 KB.
_BITS256 = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1
).astype(np.float64)


class _PackedAdj:
    """Read-only adjacency layer as (offsets, flat) int32/int64 arrays —
    the serving-memory form of an edge dict (see _Graph.pack). Implements
    exactly the read API the walks use: ``get(v)`` returns the neighbor
    slice (an int32 view iterating in the original list order, so walks
    over packed and dict layers visit identical sequences) and ``items()``
    yields (vertex, neighbor-list) for vertices with >= 1 neighbor."""

    __slots__ = ("offs", "flat")

    def __init__(self, offs: np.ndarray, flat: np.ndarray):
        self.offs = offs
        self.flat = flat

    @classmethod
    def from_dict(cls, layer: dict, n: int) -> "_PackedAdj":
        counts = np.zeros(n, dtype=np.int64)
        for v, nbs in layer.items():
            counts[v] = len(nbs)
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=offs[1:])
        flat = np.empty(int(offs[-1]), dtype=np.int32)
        for v, nbs in layer.items():
            flat[offs[v] : offs[v] + len(nbs)] = nbs
        if offs[-1] < 2**31:  # always true for per-shard/serving graphs
            offs = offs.astype(np.int32)
        return cls(offs, flat)

    def get(self, v, default=()):
        if v < 0 or v >= len(self.offs) - 1:
            return default
        return self.flat[self.offs[v] : self.offs[v + 1]]

    def to_dict(self) -> dict:
        # vertices that existed with an EMPTY list are indistinguishable
        # from absent ones here — harmless for walks/inserts (both read
        # via .get(v, ()) / setdefault), noted for save() round-trips
        out = {}
        offs, flat = self.offs, self.flat
        for v in range(len(offs) - 1):
            if offs[v + 1] > offs[v]:
                out[v] = flat[offs[v] : offs[v + 1]].tolist()
        return out

    def items(self):
        return self.to_dict().items()

    def __len__(self) -> int:
        return int((self.offs[1:] > self.offs[:-1]).sum())


class _Graph:
    """In-memory HNSW graph over a vector matrix (clean-room, NumPy)."""

    def __init__(self, m: int, ef_construction: int, ef_search: int, dist: str, seed: int):
        self.m = m
        self.m_max = m
        self.m_max_0 = m * m  # ref: m_max_0_ = m_ * m_
        self.m_l = 1.0 / math.log(m) if m > 1 else 1.0
        self.efc = ef_construction
        self.efs = ef_search
        self.dist = dist
        self.rng = random.Random(seed)
        self.vecs: np.ndarray | None = None
        self.ids: list = []
        # edges[level][vertex] -> list of neighbor vertex indexes
        self.edges: list[dict[int, list[int]]] = []
        self.entry: int | None = None
        # filtered-search caches (lazy; invalidated by add_all)
        self._id_map: dict | None = None  # external id -> internal index
        self._allowed_cache: tuple | None = None  # (ext-set obj, internal set)
        # SQ8 storage (quantize_sq8): uint8 codes replace the float matrix
        self.codes: np.ndarray | None = None
        self.qmn: np.ndarray | None = None  # per-dim minimum
        self.qscale: np.ndarray | None = None  # per-dim (max-min)/255
        # PQ storage (quantize_pq): (n, m) uint8 codes + m codebooks
        self.pq_codes: np.ndarray | None = None
        self.pq_books: list | None = None  # m arrays of (k, dsub_i)
        self.pq_bounds: list | None = None  # m (start, end) subspace bounds
        # residual PQ (IVFADC in-graph): codes quantize x − centers[cell[x]]
        # and decode adds the center back — centers are FROZEN floats (a
        # routing centroid per shard, or entry-cell medoid vectors on a
        # merged graph), never re-derived on workers
        self.pq_centers: np.ndarray | None = None  # (C, dim) float64
        self.pq_cell: np.ndarray | None = None  # (n,) per-vertex center row
        # BQ storage (quantize_bq): packbits sign codes + reconstruction
        self.bq_codes: np.ndarray | None = None  # (n, ceil(dim/8)) uint8
        self.bq_lo: np.ndarray | None = None  # per-dim 0-bit reconstruction
        self.bq_hi: np.ndarray | None = None  # per-dim 1-bit reconstruction
        self.bq_dim: int | None = None
        # optional seeded orthonormal rotation applied before sign-taking
        # (RaBitQ-style); when set, codes/lo/hi/thresholds live in ROTATED
        # space and search() rotates the query at entry
        self.bq_rot: np.ndarray | None = None
        # optional multi-entry beam seeds (internal indexes) — set by the
        # merged-Vamana serving shell; None on HNSW graphs (their upper
        # layers do the coarse routing a flat graph lacks)
        self.entry_points: list[int] | None = None

    # filtered walks seed with at most this many entries (nearest-first):
    # see the cap note in search() — per-seed frontier cost with no
    # measured filtered-recall benefit
    FILTERED_SEED_CAP = 4

    # r12: harvesting walks (search(shortlist=N)) terminate against the
    # shortlist-th best SEEN instead of the ef-th best admitted, and keep
    # frontier admission open for shortlist improvements — identical walk
    # when shortlist <= ef, deeper exploration when the shortlist outruns
    # the beam (the general starvation guard + the rerank-16 boundary
    # fix; see _search_layer's stop_n docstring). Class attr so scale
    # drills can A/B the unaligned r11 harvest; every distributed kernel
    # and offline replay reads it through the same search() call.
    HARVEST_ALIGNED = True

    # walk-table precompute gate (guide §1.2 "per-task work"): a graph
    # walk evaluates distances in tiny frontier batches (~degree rows), so
    # its cost is numpy DISPATCH, not flops — profiling the 2k-row driver
    # build measured 147k _walk_dists calls = 2.4 s of a 5.9 s build. Below
    # this per-row-cost × n budget, one vectorized pass over ALL vertices
    # per query (gemv / PQ-LUT gathers) replaces every per-batch call with
    # an O(1) table lookup. Above it (e.g. the 1.2M merged driver graph,
    # where a walk touches <1% of vertices) the table would cost more than
    # the batched evals it replaces, so walks fall back to _walk_dists.
    # The gate is a pure perf dispatch: both branches run per-row kernels
    # the consumers (online serving, offline oracle replays) share, and
    # every consumer of one graph takes the same branch.
    WALK_TABLE_MAX_ELEMS = 2**24

    # -- serialization / packed adjacency ---------------------------------
    def __getstate__(self):
        state = self.__dict__.copy()
        state["_id_map"] = None  # lazy caches rebuild on demand
        state["_allowed_cache"] = None
        return state

    def pack(self) -> "_Graph":
        """Convert edge layers to the read-only packed form (_PackedAdj):
        a dict{int: list[int]} costs ~50-100 resident bytes per edge on a
        deserializing executor, while offsets+flat int32 arrays cost ~4 —
        at R≈16-32 neighbors per vertex the edge lists, not the vectors or
        codes, dominate a serving broadcast's executor footprint. Walks
        read packed layers directly (edges.get(v) returns an int32 view
        with identical iteration order, so results stay bit-identical);
        ``add_all`` unpacks automatically if a packed graph is extended.
        Returns self for chaining."""
        n = len(self.ids)
        self.edges = [
            lay if isinstance(lay, _PackedAdj) else _PackedAdj.from_dict(lay, n)
            for lay in self.edges
        ]
        if (
            n
            and not isinstance(self.ids, np.ndarray)
            and all(isinstance(i, int) for i in self.ids)
        ):
            # int external ids: ~28 resident bytes each as a Python list,
            # 8 as an int64 array; lookups/returns stay value-equal
            self.ids = np.asarray(self.ids, dtype=np.int64)
        return self

    def _unpack(self) -> None:
        self.edges = [
            lay.to_dict() if isinstance(lay, _PackedAdj) else lay
            for lay in self.edges
        ]
        if isinstance(self.ids, np.ndarray):
            self.ids = self.ids.tolist()

    # -- compressed storage (SQ8 / PQ) ------------------------------------
    def _mat_rows(self, idxs) -> np.ndarray:
        """Rows of the vector matrix; decodes SQ8 or PQ codes on the fly
        when the graph is quantized (ADC: queries stay full-precision)."""
        if self.vecs is not None:
            return self.vecs[idxs]
        if getattr(self, "pq_codes", None) is not None:
            c = self.pq_codes[idxs]
            dec = np.concatenate(
                [self.pq_books[s][c[:, s]] for s in range(len(self.pq_books))],
                axis=1,
            )
            if getattr(self, "pq_centers", None) is not None:
                # residual codes: reconstruction = codeword + frozen center
                # (elementwise — no reduction order to vary)
                dec = dec + self.pq_centers[self.pq_cell[idxs]]
            return dec
        if getattr(self, "bq_codes", None) is not None:
            bits = np.unpackbits(self.bq_codes[idxs], axis=-1, count=self.bq_dim)
            return np.where(bits.astype(bool), self.bq_hi, self.bq_lo)
        return self.qmn + self.codes[idxs].astype(np.float64) * self.qscale

    def _encode_sq8(self, mat: np.ndarray) -> np.ndarray:
        safe = np.where(self.qscale == 0.0, 1.0, self.qscale)
        c = np.floor((mat - self.qmn) / safe + 0.5)
        c = np.where(self.qscale == 0.0, 0.0, c)
        return np.clip(c, 0, 255).astype(np.uint8)

    def quantize_sq8(self, mins, maxs) -> None:
        """Swap the float64 matrix for per-dim SQ8 codes: 8 bytes/dim → 1
        byte/dim per stored vector, the FAISS SQScalarQuantizer trade lifted
        into shard blobs. code = clamp(floor((x−mn)/scale + .5)) with scale
        = (mx−mn)/255 (same affine family as similarity/quantize.SQ8Model);
        walks decode rows on demand, norms are recomputed from the DECODED
        values so distance orientation stays internally consistent. Walk
        distances become approximate (ADC) — pair with an exact rerank
        (ShardedHNSW.probe(rerank=...)) for serving."""
        if getattr(self, "bq_codes", None) is not None:
            raise ValueError("graph is BQ-quantized; SQ8 must start from floats")
        if getattr(self, "pq_codes", None) is not None:
            # reciprocal of quantize_pq's SQ8-first guard: SQ8-encoding a
            # PQ graph would silently no-op (vecs is already None, and
            # _mat_rows checks PQ first) — the caller would get an index
            # whose params claim SQ8 while shards keep serving PQ decodes
            raise ValueError("graph is PQ-quantized; SQ8 must start from floats")
        mn = np.asarray(mins, dtype=np.float64)
        mx = np.asarray(maxs, dtype=np.float64)
        self.qmn = mn
        self.qscale = (mx - mn) / 255.0
        if self.vecs is None:
            self.codes = np.zeros((0, len(mn)), dtype=np.uint8)
        else:
            self.codes = self._encode_sq8(self.vecs)
        self.vecs = None
        self._refresh_norms()

    def _encode_bq(self, mat: np.ndarray) -> np.ndarray:
        if getattr(self, "bq_rot", None) is not None:
            mat = _rotate_rows_exact(mat, self.bq_rot)
        thr = (self.bq_lo + self.bq_hi) / 2.0  # == the midrange threshold
        return np.packbits(mat > thr, axis=-1)

    def quantize_bq(self, mins, maxs, rot: np.ndarray | None = None) -> None:
        """Swap the float64 matrix for 1-bit sign codes: dim/8 bytes per
        stored vector — 8x denser than SQ8, the similarity/bq.BQModel
        trade lifted into shard blobs. bit d = (x_d > midrange_d); walks
        decode each bit to the CENTER OF ITS HALF-RANGE (0 -> (mn+thr)/2,
        1 -> (thr+mx)/2), so the ADC distance is an honest (very lossy)
        reconstruction distance in the same float pipeline as SQ8/PQ — no
        separate Hamming kernel, and the exact rerank recipe
        (probe(rerank=src)) is unchanged. Reconstruction params derive
        from exact per-dim min/max: deterministic on both engines.

        ``rot`` (optional, RaBitQ-style): a seeded orthonormal matrix; the
        stored vectors rotate (fold-exactly) BEFORE sign-taking and
        ``mins``/``maxs`` are then interpreted in ROTATED space — pass
        ``None, None`` to derive them from this graph's own rotated
        vectors (the local-thresholds mode). L2 geometry is rotation-
        invariant, so walks and the rerank recipe are unchanged; only the
        1-bit code quality improves on clustered data (the rotation
        spreads a shard's internal structure across every dim instead of
        leaving whole dims on one side of their threshold)."""
        if (
            getattr(self, "pq_codes", None) is not None
            or getattr(self, "codes", None) is not None
            or getattr(self, "bq_codes", None) is not None
        ):
            # incl. BQ-after-BQ: vecs is already None, so a second call
            # would silently replace the codes with an empty array
            raise ValueError("graph is already quantized; BQ must start from floats")
        self.bq_rot = (
            np.asarray(rot, dtype=np.float64) if rot is not None else None
        )
        if mins is None:
            if self.bq_rot is None:
                raise ValueError("quantize_bq: mins/maxs required without a rotation")
            if self.vecs is None or not len(self.ids):
                raise ValueError(
                    "rotated local BQ needs vectors; pass rotated-space "
                    "bounds for an empty graph"
                )
            vr = _rotate_rows_exact(self.vecs, self.bq_rot)
            mins, maxs = vr.min(axis=0).tolist(), vr.max(axis=0).tolist()
        mn = np.asarray(mins, dtype=np.float64)
        mx = np.asarray(maxs, dtype=np.float64)
        thr = (mn + mx) / 2.0
        self.bq_lo = (mn + thr) / 2.0
        self.bq_hi = (thr + mx) / 2.0
        self.bq_dim = len(mn)
        if self.vecs is None:
            self.bq_codes = np.zeros((0, (self.bq_dim + 7) // 8), dtype=np.uint8)
        else:
            self.bq_codes = self._encode_bq(self.vecs)
        self.vecs = None
        self._refresh_norms()

    def _encode_pq(self, mat: np.ndarray, cells: np.ndarray | None = None) -> np.ndarray:
        """Per-subspace nearest-codebook-centroid codes (first-min ties) —
        the same argmin arithmetic as similarity/pq.PQModel.encode_rows, so
        a graph quantized with a PQModel's codebooks assigns codes
        identically to that model."""
        if getattr(self, "pq_centers", None) is not None:
            # residual graph: quantize x − centers[cell(x)] (cells assigned
            # fold-exactly against the frozen centers; callers that store
            # the assignment pass it in so the two never diverge)
            if cells is None:
                cells = self._pq_assign_cells(mat)
            mat = mat - self.pq_centers[cells]
        out = np.empty((len(mat), len(self.pq_books)), dtype=np.uint8)
        for i, (s, e) in enumerate(self.pq_bounds):
            sub = mat[:, s:e]
            c = self.pq_books[i]
            d = -2.0 * (sub @ c.T) + (c * c).sum(axis=1)
            out[:, i] = np.argmin(d, axis=1)
        return out

    def _pq_assign_cells(self, mat: np.ndarray) -> np.ndarray:
        """Nearest pq_center per row, per-dim elementwise accumulation
        (first-min ties) — the same no-BLAS rule as vamana's entry-cell
        assignment, so worker encodes and offline replays agree bit-wise."""
        cents = self.pq_centers
        if len(cents) == 1:
            return np.zeros(len(mat), dtype=np.int64)
        return np.argmin(fold.l2_sq_pairwise(mat, cents), axis=1)

    def quantize_pq(self, books, bounds, centers=None) -> None:
        """Swap the float64 matrix for product-quantization codes: with
        m=16 subspaces one stored vector is 16 bytes instead of 8·dim —
        denser than SQ8 (1 byte/dim) whenever dim > m. ``books`` is a list
        of m (k, dsub) codebooks, ``bounds`` the matching subspace [s, e)
        bounds (similarity/pq.PQModel.centroids/.bounds — FAISS IndexPQ /
        Jégou et al. 2011 layout). Walks decode rows from the codebooks on
        demand, so every distance is the reconstruction (ADC) distance;
        norms recompute from the DECODED values for internally-consistent
        cosine/ip orientation. Pair with an exact rerank
        (ShardedHNSW.probe(rerank=...)) for serving, exactly like SQ8.

        ``centers`` (residual mode — IVFADC in-graph): a (C, dim) list of
        FROZEN float centers; codes quantize x − centers[nearest] and
        decode adds the center back, so the codebook budget resolves
        LOCAL structure instead of re-separating clusters the routing
        already separated. For a routed shard C=1 (its routing centroid);
        the codebooks should then be trained on residuals."""
        # guards run BEFORE any mutation: a caller catching the error must
        # not be left with stale pq_books attached to an unquantized graph
        if getattr(self, "bq_codes", None) is not None:
            raise ValueError("graph is BQ-quantized; PQ must start from floats")
        if max(len(b) for b in books) > 256:
            raise ValueError("quantize_pq stores uint8 codes: need k <= 256")
        if getattr(self, "codes", None) is not None:
            # already SQ8-quantized: re-encoding the lossy decode would
            # silently compound two quantizers' errors
            raise ValueError("graph is SQ8-quantized; PQ must start from floats")
        if self.vecs is not None and len(self.vecs):
            dim = self.vecs.shape[1]
            if centers is not None:
                cshape = np.asarray(centers, dtype=np.float64).shape
                if len(cshape) != 2 or cshape[1] != dim:
                    raise ValueError(
                        f"residual centers shape {cshape} does not match "
                        f"vector dim {dim}"
                    )
            if bounds and int(bounds[-1][1]) != dim:
                raise ValueError(
                    f"pq bounds cover [0, {int(bounds[-1][1])}) but vectors "
                    f"have dim {dim}"
                )
        self.pq_books = [np.asarray(b, dtype=np.float64) for b in books]
        self.pq_bounds = [(int(s), int(e)) for s, e in bounds]
        self.pq_centers = (
            np.asarray(centers, dtype=np.float64) if centers is not None else None
        )
        if self.vecs is None:
            self.pq_codes = np.zeros((0, len(self.pq_books)), dtype=np.uint8)
            if self.pq_centers is not None:
                self.pq_cell = np.zeros(0, dtype=np.int64)
        else:
            if self.pq_centers is not None:
                self.pq_cell = self._pq_assign_cells(self.vecs)
                self.pq_codes = self._encode_pq(self.vecs, self.pq_cell)
            else:
                self.pq_codes = self._encode_pq(self.vecs)
        self.vecs = None
        self._refresh_norms()

    # -- core primitives (paper Alg. 2/3/5) -------------------------------
    def _row(self, idx: int) -> np.ndarray:
        # float graphs hand out a VIEW of the stored row (the buffer every
        # BLAS walk kernel has always seen); quantized graphs decode it
        return self.vecs[idx] if self.vecs is not None else self._mat_rows([idx])[0]

    def _refresh_norms(self) -> None:
        dec = self._mat_rows(slice(None))
        self._norms = np.maximum(np.linalg.norm(dec, axis=1), 1e-300)
        self._norms_sq = (dec * dec).sum(axis=1)

    def _sq_norms(self) -> np.ndarray:
        if getattr(self, "_norms_sq", None) is None:  # pre-upgrade pickles
            self._refresh_norms()
        return self._norms_sq

    def _dist_many(self, q: np.ndarray, idxs: list[int]) -> np.ndarray:
        """RETURNED distances q→vecs[idxs] — the values surfaced by
        search(), computed FOLD-EXACTLY (fold.py: per-dim sequential
        accumulation, vectorized across the ≤k result rows).

        Not BLAS: a matvec's summation order depends on the matrix
        buffer's alignment, and the blob matrices are allocated by
        UNPICKLING, whose alignment varies run to run — observed as
        1-ulp distance drift between two searches of the SAME query on
        the SAME graph (a self-distance flipping 0 vs 1e-08 across the
        round-8 oracle boundary). Elementwise accumulation has no
        reduction order to vary, self-distances are exactly 0 by
        construction, and the offline replays call this same function.
        Cost is k×dim elementwise ops once per search — negligible next
        to the walk (walk distances stay BLAS: their values only steer the
        beam, where a 1-ulp flip is possible in principle but has never
        been observed to change membership; the RETURNED values are the
        oracle-compared surface and are now deterministic)."""
        m = self._mat_rows(idxs)
        if self.dist == "l2":
            return np.sqrt(fold.l2_sq_rows(m, q))
        dots = fold.dot_rows(m, q)
        if self.dist == "ip":
            return -dots
        qn = float(np.linalg.norm(q)) or 1e-300
        return -dots / (self._norms[idxs] * qn)

    def _walk_from_dots(self, dots, qq: float, qn: float, sel):
        """Turn q·row dot products into WALK-ordering distances: for l2
        the SQUARED distance (strictly monotone in the true distance, so
        every heap comparison and neighbor selection orders identically
        while the hot path skips the sqrt, reusing the hoisted
        ``qq = q·q``); ip / cosine the negated similarity. True distances
        are only computed once, on the final top-k (_dist_many). ``sel``
        picks the matching norm rows (a slice or an index list)."""
        if self.dist == "l2":
            return self._sq_norms()[sel] - 2.0 * dots + qq
        if self.dist == "ip":
            return -dots
        return -dots / (self._norms[sel] * qn)

    def _walk_dists(self, q: np.ndarray, idxs, qq: float) -> np.ndarray:
        """Batched BLAS walk distances for one frontier batch — graph
        pruning, and every walk on a float graph above the table gate."""
        qn = (float(np.linalg.norm(q)) or 1e-300) if self.dist == "cosine" else 1.0
        return self._walk_from_dots(self._mat_rows(idxs) @ q, qq, qn, idxs)

    def _batched_ev(self, q: np.ndarray):
        qq = float(q @ q) if self.dist == "l2" else 0.0
        return lambda idxs: self._walk_dists(q, idxs, qq)

    def _bq_luts(self, q: np.ndarray):
        """Per-query BQ byte-LUT tables (VERDICT r12 #2): dot(q, row) for a
        1-bit graph is base + Σ_b lut[b][code_byte_b], where
        lut[b][v] = Σ_{j<8} bit_j(v) · w[8b+j] with w = (hi − lo)·q and
        base = lo·q — one 256-way table per stored byte (dim/8 of them,
        ~16 KB at 64 dims), so a walk's distance evaluation needs NO
        bit-unpack expansion, just byte gathers."""
        nb = self.bq_codes.shape[1]
        w = (self.bq_hi - self.bq_lo) * q
        wp = np.zeros(nb * 8, dtype=np.float64)
        wp[: self.bq_dim] = w
        luts = wp.reshape(nb, 8) @ _BITS256.T  # (n_bytes, 256)
        base = float(self.bq_lo @ q)
        return luts, base

    def _walk_eval(self, q: np.ndarray, upto: int | None = None):
        """Per-query WALK-distance evaluator ``ev(idxs)`` over all (or the
        first ``upto``) vertices, one per storage form: an einsum over the
        float rows, PQ-LUT gathers (Jégou et al. 2011's ADC table trick),
        BQ byte-LUT gathers, or an SQ8 einsum over the codes
        (dot(q, mn + c·scale) = q·mn + c·(q·scale)).

        Below WALK_TABLE_MAX_ELEMS the evaluator runs ONCE over the vertex
        range (in row chunks, bounding the float temp) and walks read the
        resulting table: every frontier-batch distance call inside
        _search_layer becomes a fancy-index lookup, and the walk's
        numpy-dispatch overhead, the dominant cost of small-graph builds
        and sharded serving, disappears. Above the gate a quantized graph
        evaluates frontier rows only (O(|idxs|·m) per call, no n-sized
        pass — VERDICT r12 #3, the 1.2M merged serving graphs) through the
        SAME function, so a vertex's walk distance is bit-identical on
        both sides of the gate; a float graph above it falls back to the
        batched BLAS ``_walk_dists`` (already one gemv per frontier).
        Walk distances only steer the beam; RETURNED distances stay
        _dist_many's fold-exact values, and online + offline consumers
        share this code path."""
        n = len(self.ids) if upto is None else upto
        qq = float(q @ q) if self.dist == "l2" else 0.0
        qn = (float(np.linalg.norm(q)) or 1e-300) if self.dist == "cosine" else 1.0
        if self.vecs is not None:
            width = self.vecs.shape[1]
            if n * width > self.WALK_TABLE_MAX_ELEMS:
                return self._batched_ev(q)
            vecs = self.vecs
            # einsum, not gemv: a table-sized matvec crosses OpenBLAS's
            # internal threading threshold and pays ~1.3 ms of pool handoff
            # per call in any process whose numpy loaded before the
            # one-thread env cap (einsum never threads; 2000×64 measured
            # ~80 µs, and the per-row sum order is fixed by the kernel, not
            # by pool geometry or chunking)

            def dots(ii):
                return np.einsum("ij,j->i", vecs[ii], q)

        elif getattr(self, "pq_codes", None) is not None:
            codes = self.pq_codes
            cell = getattr(self, "pq_cell", None)
            luts = [
                self.pq_books[i] @ q[s:e]
                for i, (s, e) in enumerate(self.pq_bounds)
            ]
            cdots = (
                self.pq_centers @ q
                if getattr(self, "pq_centers", None) is not None
                else None
            )
            width = len(luts)

            def dots(ii):
                c = codes[ii]
                d = np.zeros(len(c), dtype=np.float64)
                for i, lut in enumerate(luts):
                    d = d + lut[c[:, i]]
                if cdots is not None:
                    d = d + cdots[cell[ii]]
                return d

        elif getattr(self, "bq_codes", None) is not None:
            luts, base = self._bq_luts(q)
            bcodes = self.bq_codes
            width = self.bq_dim

            def dots(ii):
                c = bcodes[ii]
                d = np.zeros(len(c), dtype=np.float64)
                for b in range(luts.shape[0]):
                    d = d + luts[b][c[:, b]]
                return d + base

        else:
            w = self.qscale * q
            base = float(self.qmn @ q)
            scodes = self.codes
            width = scodes.shape[1]

            def dots(ii):
                return np.einsum("ij,j->i", scodes[ii].astype(np.float64), w) + base

        if n * width > self.WALK_TABLE_MAX_ELEMS:
            return lambda ii: self._walk_from_dots(dots(ii), qq, qn, ii)
        tab = np.empty(n, dtype=np.float64)
        step = 65536
        for i in range(0, n, step):
            tab[i : i + step] = dots(slice(i, min(i + step, n)))
        return self._walk_from_dots(tab, qq, qn, slice(0, n)).__getitem__

    def _search_layer(
        self,
        entries: list[int],
        ef: int,
        level: int,
        ev,
        allowed: set | None = None,
        seen: list | None = None,
        stop_n: int | None = None,
    ) -> list[int]:
        """SearchLayer (ref hnsw_index.cpp:86-130): greedy best-first walk
        with a candidate min-heap and an ef-bounded result max-heap. ``ev``
        is the query's walk-distance evaluator (_walk_eval).

        ``allowed`` (optional set of INTERNAL indexes) = filtered search:
        traversal visits every vertex for NAVIGATION (disallowed vertices
        still route the walk, so recall does not collapse when the filter
        is selective), but only allowed vertices enter the result heap,
        the harvest and the stop_n tracker — the standard filtered-HNSW
        approach (hnswlib's filtered searchBaseLayerST). None admits every
        vertex, and the walk is then exactly the unfiltered one: the stop
        rule's ``len(result) >= ef`` guard (an allowed-only beam may start
        empty and must keep expanding) never decides an unfiltered walk,
        because until the beam holds ef vertices every frontier entry is
        also in it, so the nearest candidate cannot lie beyond it.

        ``seen`` (optional, the DiskANN serving trick): a caller-owned
        list collecting (walk_dist, vertex) for EVERY admissible vertex
        whose distance this walk computes — each vertex exactly once (the
        visited-set check gates distance evaluation). search(shortlist=...)
        harvests a deep ADC candidate list from it WITHOUT widening the
        beam; with ``stop_n`` None the walk itself is unchanged (same
        admissions, same termination), so passing None keeps every
        existing path bit-identical.

        ``stop_n`` (r12, harvest-ALIGNED termination): align the walk's
        stopping rule with what the harvest returns — terminate only when
        the nearest frontier candidate can improve NEITHER the ef-beam NOR
        the current top-``stop_n`` of the visited set, and keep frontier
        admission open for any neighbor that improves that top-``stop_n``.
        The beam's MEMORY stays ef (result heap never grows), so this is
        strictly cheaper than walking at ef=stop_n (the pre-r11 coupled
        mode: frontier quality-gated at stop_n too), but the exploration
        horizon now matches the shortlist instead of cutting it off at
        the ef-th best — the r11 boundary divergence (1.2M merged-PQR
        harvest@16 0.832 vs coupled 0.864) came exactly from frontier
        pops beyond the ef-th best being discarded while the 160-deep
        shortlist still wanted their neighborhoods. For stop_n <= ef both
        rules coincide bit-exactly: the stop_n-th smallest of ALL seen is
        <= the ef-th smallest of the admitted subset, so the extra
        admission/termination clauses can never fire. This is also the
        GENERAL starvation guard VERDICT r11 #1 asked for: at the 6M
        past-clamp geometry (shortlist 320, default-ef walks on 5.9k-row
        shards, recall 0.762->0.666 through the unaligned harvest) the
        walk now keeps expanding until the 320-deep shortlist itself
        stabilizes — no shard size or ef mis-configuration can silently
        starve the shortlist again."""
        edges = self.edges[level]
        visited = set(entries)
        cand: list[tuple[float, int]] = []
        result: list[tuple[float, int]] = []  # max-heap via negated dist
        # top-stop_n tracker over SEEN distances (max-heap via negation);
        # values only — it exists to provide the alignment thresholds, the
        # harvest itself still comes from the caller's full `seen` sort
        short: list[float] | None = [] if stop_n is not None else None
        for e, d in zip(entries, ev(entries)):
            heapq.heappush(cand, (d, e))
            if allowed is not None and e not in allowed:
                continue
            heapq.heappush(result, (-d, e))
            if seen is not None:
                seen.append((float(d), e))
            if short is not None:
                heapq.heappush(short, -d)
                if len(short) > stop_n:
                    heapq.heappop(short)
        while cand:
            d, v = heapq.heappop(cand)
            if (
                len(result) >= ef
                and d > -result[0][0]
                and (short is None or (len(short) >= stop_n and d > -short[0]))
            ):
                break
            nbs = [nb for nb in edges.get(v, ()) if nb not in visited]
            if not nbs:
                continue
            visited.update(nbs)
            for nb, dn in zip(nbs, ev(nbs)):
                ok = allowed is None or nb in allowed
                improves_short = False
                if ok:
                    if seen is not None:
                        seen.append((float(dn), nb))
                    if short is not None:
                        # checked BEFORE pushing dn (improves the shortlist
                        # as it stood — a vertex can't justify expansion by
                        # its own membership)
                        improves_short = len(short) < stop_n or dn < -short[0]
                        heapq.heappush(short, -dn)
                        if len(short) > stop_n:
                            heapq.heappop(short)
                if len(result) < ef or dn < -result[0][0]:
                    heapq.heappush(cand, (dn, nb))
                    if ok:
                        heapq.heappush(result, (-dn, nb))
                        if len(result) > ef:
                            heapq.heappop(result)
                elif improves_short:
                    # frontier admission for shortlist alignment: expand
                    # it, but do NOT let it displace the ef-beam (the
                    # beam's quality gate is what keeps this cheaper than
                    # a coupled ef=stop_n walk)
                    heapq.heappush(cand, (dn, nb))
        out = sorted(((-nd, v) for nd, v in result))
        return [v for _, v in out]

    @staticmethod
    def _select_neighbors(ev, cands: list[int], m: int) -> list[int]:
        # simple m-nearest selection (the reference's SelectNeighbors);
        # walk metric — monotone ↔ true distance, identical selection
        scored = sorted(zip(ev(cands), cands))
        return [c for _, c in scored[:m]]

    def _insert(self, idx: int) -> None:
        q = self._row(idx)
        level = int(-math.log(self.rng.random() + 1e-300) * self.m_l)
        # capture the top layer BEFORE extending — extending first would make
        # `level > top` unreachable and the entry point never promoted
        top = len(self.edges) - 1
        while len(self.edges) <= level:
            self.edges.append({})
        if self.entry is None:
            self.entry = idx
            for lv in range(level + 1):
                self.edges[lv][idx] = []
            return
        # add_all inserts id-ordered, so every already-inserted vertex sits
        # below idx — the walk evaluator only needs the [0, idx) prefix
        ev = self._walk_eval(q, upto=idx)
        ep = [self.entry]
        for lv in range(top, level, -1):
            ep = self._search_layer(ep, 1, lv, ev)[:1]
        for lv in range(min(level, top), -1, -1):
            cands = self._search_layer(ep, self.efc, lv, ev)
            m_max = self.m_max_0 if lv == 0 else self.m_max
            nbs = self._select_neighbors(ev, cands, self.m)
            self.edges[lv][idx] = list(nbs)
            for nb in nbs:
                lst = self.edges[lv].setdefault(nb, [])
                lst.append(idx)
                if len(lst) > m_max:
                    # graph pruning: batched walk distances from nb
                    self.edges[lv][nb] = self._select_neighbors(
                        self._batched_ev(self._row(nb)), lst, m_max
                    )
            ep = cands
        if level > top:
            # new top layer(s): the new vertex is their only member and
            # becomes the graph entry point (ref InsertVectorEntry adds the
            # vertex to each new layer, hnsw_index.cpp:204-279)
            for lv in range(top + 1, level + 1):
                self.edges[lv][idx] = []
            self.entry = idx

    def add_all(self, ids, mat: np.ndarray) -> None:
        self._unpack()  # packed (serving-form) layers are read-only
        base = len(self.ids)
        if getattr(self, "pq_codes", None) is not None:
            # quantized graph: encode new rows with the FROZEN codebooks
            # (same frozen-quantizer contract as IVF's frozen centroids)
            new = np.asarray(mat, dtype=np.float64)
            if getattr(self, "pq_centers", None) is not None:
                cells = self._pq_assign_cells(new)
                self.pq_cell = np.concatenate([self.pq_cell, cells])
                self.pq_codes = np.vstack(
                    [self.pq_codes, self._encode_pq(new, cells)]
                )
            else:
                self.pq_codes = np.vstack([self.pq_codes, self._encode_pq(new)])
        elif getattr(self, "bq_codes", None) is not None:
            # quantized graph: encode new rows with the FROZEN thresholds
            self.bq_codes = np.vstack(
                [self.bq_codes, self._encode_bq(np.asarray(mat, dtype=np.float64))]
            )
        elif getattr(self, "codes", None) is not None:
            # quantized graph: encode new rows with the FROZEN affine params
            self.codes = np.vstack([self.codes, self._encode_sq8(np.asarray(mat, dtype=np.float64))])
        else:
            self.vecs = mat if self.vecs is None else np.vstack([self.vecs, mat])
        self._refresh_norms()
        self.ids.extend(ids)
        self._id_map = None
        self._allowed_cache = None
        for i in range(len(ids)):
            self._insert(base + i)

    def _internal_allowed(self, allowed_ids) -> set:
        """External→internal conversion for filtered search, done once per
        (graph, allowed-set object): the id→index map builds lazily per
        graph, and the converted set is identity-cached, so batch paths that
        pass the same set for every query pay the O(|allowed|) conversion
        once per graph — not an O(N) self.ids scan per search call."""
        cache = getattr(self, "_allowed_cache", None)
        if cache is not None and cache[0] is allowed_ids:
            return cache[1]
        idmap = getattr(self, "_id_map", None)
        if idmap is None or len(idmap) != len(self.ids):
            idmap = self._id_map = {ext: i for i, ext in enumerate(self.ids)}
        internal = {idmap[e] for e in allowed_ids if e in idmap}
        self._allowed_cache = (allowed_ids, internal)
        return internal

    def search(
        self,
        q: np.ndarray,
        k: int,
        ef: int | None = None,
        allowed_ids: set | None = None,
        shortlist: int | None = None,
    ) -> list[tuple]:
        """Top-k graph walk. ``allowed_ids`` (a set of EXTERNAL ids) turns
        this into filtered vector search: upper layers navigate unfiltered
        (they only steer toward the query's region), the layer-0 beam admits
        only allowed vertices — top-k among matching rows, not a post-filter
        that can come up short.

        ``shortlist=N`` (the DiskANN serving split, r11): walk at the
        CONFIGURED beam (ef = max(ef or efs, k) — k, not N) and return the
        N nearest VISITED vertices instead of the beam's k — the deep ADC
        candidate list a quantized rerank needs, decoupled from walk cost.
        The pre-r11 coupling (callers passing k·rerank_mult as ``k``)
        forced ef = max(ef, k·rerank_mult), widening the beam to buy
        shortlist depth the visited set already contained — measured 2.39×
        on the sf0.1 vamana_pq_batch key with zero recall benefit (the r10
        1.2M grid: beam width moved nothing at any rerank depth; shortlist
        ORDERING binds). Membership = top-N of every vertex the walk
        touches (entries + expansions), (walk_dist, vertex)-ordered —
        deterministic given the graph and query, replayed verbatim by the
        offline oracles, filtered walks harvest allowed visits only."""
        if self.entry is None:
            return []
        if getattr(self, "bq_rot", None) is not None:
            # rotated-BQ graph: codes/decodes live in rotated space, so the
            # query enters the same frame ONCE here (inserts need no hook:
            # _insert walks with the vertex's own decoded representation)
            q = _rotate_rows_exact(
                np.asarray(q, dtype=np.float64)[None, :], self.bq_rot
            )[0]
        ef = max(ef or self.efs, k)
        # entry_points (set on single-layer merged-Vamana graphs, r8): seed
        # the beam with one vertex per entry cell instead of the lone
        # medoid — a single-entry greedy walk must cross basins through
        # long edges alone, and on dense clustered corpora that starves
        # (1.2M drill: merged recall@10 0.368 single-entry -> 0.88+
        # multi-entry at the same ef). Multi-layer HNSW graphs never set
        # this; their upper layers already provide the coarse routing.
        ep = list(getattr(self, "entry_points", None) or [self.entry])
        ev = self._walk_eval(q)
        if allowed_ids is not None and len(ep) > self.FILTERED_SEED_CAP:
            # Filtered walks pay per-seed frontier cost with none of the
            # multi-basin recall benefit measured for them (r8 1.2M drill:
            # per-cell seeds left partitioned filtered recall at 0.9 while
            # slowing 10 filtered probes 28.8s -> 50.5s — every probed
            # cell expanded all its seeds through the allowed-set check).
            # Keep only the nearest few seeds; the unfiltered batch path
            # keeps the full set (free there, and it carries the merged
            # tier's 0.966 recall).
            ranked = sorted(zip(ev(ep), ep))
            ep = [v for _, v in ranked[: self.FILTERED_SEED_CAP]]
        # Seeding cost honesty (ADVICE r8, re-measured r9): an untrimmed
        # seed set makes _search_layer's result heap start at |entries|
        # and never shrink below it, so layer-0 runs at
        # ef' = max(ef, |entries|) — the beam is FLOORED at the seed
        # count. That floor is INTENTIONAL on unfiltered walks: it is the
        # mechanism by which multi-entry serving survives dense clustered
        # corpora, and it beats spending the same budget on ef — the r9
        # 1.2M re-drill measured merged recall 0.638 with seeds trimmed
        # to ef=48 vs 0.966 with the full 256-seed floor (and r8 measured
        # single-entry ef=384 reaching only 0.708). So: seeding costs
        # |entries| distance evals AND floors the beam at |entries| —
        # both stated, both measured, both kept. Filtered walks cap at
        # FILTERED_SEED_CAP above (there the per-seed frontier cost buys
        # no recall — r8/r9 drills).
        for lv in range(len(self.edges) - 1, 0, -1):
            ep = self._search_layer(ep, 1, lv, ev)[:1]
        seen: list | None = None
        stop_n: int | None = None
        if shortlist is not None:
            seen = []
            if self.HARVEST_ALIGNED:
                # r12: align the layer-0 termination (and a frontier
                # admission clause) with the harvested shortlist depth —
                # see _search_layer's stop_n docstring. For
                # shortlist <= ef this is provably the identical walk;
                # past it the walk keeps expanding until the top-stop_n
                # of the visited set stabilizes, which (a) closes the r11
                # rerank-16 boundary divergence and (b) is the general
                # harvest-starvation guard (a deep rerank_mult on a
                # small-ef graph or tiny shard can no longer silently
                # truncate exploration at the ef-th best).
                stop_n = max(int(shortlist), k)
        allowed = (
            None if allowed_ids is None else self._internal_allowed(allowed_ids)
        )
        found = self._search_layer(
            ep, ef, 0, ev, allowed=allowed, seen=seen, stop_n=stop_n
        )[:k]
        if seen is not None:
            # harvest: N nearest visited, (walk_dist, vertex) order — walk
            # dists are squared l2 (monotone) so the ordering matches the
            # true-distance ordering; ties break to the lower vertex index,
            # the same canonical order every kernel here uses.
            # TIE CAVEAT (ADVICE r11): the harvest==coupled-prefix identity
            # (shortlist <= beam) holds up to EXACT walk-distance ties at
            # the result-heap boundary — beam admission uses strict '<',
            # so an equal-distance vertex with a LOWER index can be
            # rejected from the beam yet win this (dist, vertex) sort.
            # Reachable with duplicate vectors (dedup corpora). Harmless
            # for serving (the rerank re-orders exactly) and for the
            # oracles (online and offline both harvest through this same
            # sort), but the identity is not bit-exact under such ties —
            # don't lean on it when flipping a tier between modes on a
            # corpus with duplicates.
            seen.sort()
            found = [v for _, v in seen[: max(int(shortlist), k)]]
        ids = self.ids
        return [
            # .item(): packed graphs hold ids as an int64 array — hits must
            # surface native Python values (createDataFrame rejects np types)
            (ids[v].item() if isinstance(ids[v], np.generic) else ids[v], float(d))
            for v, d in zip(found, self._dist_many(q, found))
        ]


def _allowed_id_set(allowed) -> frozenset | None:
    """Normalize a filtered-search allowed-set: None passes through, a
    one-column DataFrame collects its ids, any other iterable is frozen
    as-is. Used ONLY by the driver-graph paths (HNSWIndex), whose corpus is
    already bounded by DRIVER_BUILD_MAX_ROWS — so the collect is bounded
    too. The routed/sharded paths (ShardedHNSW.probe/search_batch) never
    call this for DataFrames: they semi-join the allowed ids shard-locally
    (ShardedHNSW.members) so the driver never materializes the set."""
    if allowed is None:
        return None
    if hasattr(allowed, "collect"):  # DataFrame of ids (first column)
        col = allowed.columns[0]
        return frozenset(r[col] for r in allowed.collect())
    return frozenset(allowed)


def _id_type(df, id_col: str) -> str:
    """Spark simpleString type of the id column — derived from the source
    schema at build time so string / int / bigint ids all round-trip through
    batch search and persistence (not hardcoded to long)."""
    return {f.name: f.dataType.simpleString() for f in df.schema}[id_col]


@dataclass
class HNSWIndex:
    """Driver contract mirror of IVFFlatIndex: build / probe / insert / save."""

    vec_col: str
    id_col: str
    dist: str
    graph: _Graph
    extra_cols: dict = field(default_factory=dict)  # id -> row dict (payload)
    _spark: object = None
    id_type: str = "bigint"  # Spark simpleString of id_col (set at build)

    # driver-mode build materializes the whole table on the driver — a
    # deliberate choice for dimension-table scale, a scale-killer past it.
    # build() refuses above this row count; callers with big tables must use
    # build_routed (sql._create_index routes automatically).
    DRIVER_BUILD_MAX_ROWS = 2_000_000

    @classmethod
    def build(
        cls,
        df,
        vec_col: str,
        id_col: str,
        m: int = 8,
        ef_construction: int = 64,
        ef_search: int = 64,
        dist: str = "l2",
        seed: int = 42,
        order_by: str | None = None,
        max_rows: int | None = None,
    ) -> "HNSWIndex":
        """Driver-mode build: exact single HNSW graph.

        Deterministic given `seed` and `order_by` (the reference shuffles
        input with a random_device — we pin the seed so tests are stable).
        Refuses tables larger than ``max_rows`` (default
        ``DRIVER_BUILD_MAX_ROWS``) — collect()ing those onto the driver is
        the one scale-killer this index family has; use ``build_routed``.
        """
        limit = cls.DRIVER_BUILD_MAX_ROWS if max_rows is None else max_rows
        # guarded collect in ONE job: pull at most limit+1 rows (bounded
        # driver memory either way) and refuse on overflow — a separate
        # narrow guard scan would cost a whole extra Spark job on every
        # successful build just to make the refusal path slightly cheaper
        rows = (
            df.orderBy(order_by or id_col)
            .select(id_col, vec_col)
            .limit(limit + 1)
            .collect()
        )
        if len(rows) > limit:
            raise ValueError(
                f"HNSW driver-mode build refused: table exceeds "
                f"max_rows={limit}. Use HNSWIndex.build_routed (IVF-routed "
                "shards, distributed build/probe) for tables this size."
            )
        ids = [r[id_col] for r in rows]
        g = _Graph(m, ef_construction, ef_search, dist, seed)
        if ids:  # empty heap builds fine in the reference (vector.03)
            mat = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
            # deterministic "shuffle" of insert order (ref BuildIndex shuffles)
            order = list(range(len(ids)))
            random.Random(seed).shuffle(order)
            g.add_all([ids[i] for i in order], mat[order])
        return cls(
            vec_col, id_col, dist, g,
            _spark=df.sparkSession, id_type=_id_type(df, id_col),
        )

    def probe(
        self,
        query,
        k: int,
        dist_col: str = "distance",
        ef_search: int | None = None,
        allowed=None,
    ):
        """Single-query ANN probe → small DataFrame (id, distance).

        Online single-vector serving is the path that doesn't fit Spark
        (north-star note in BASELINE.json) — the graph walk runs driver-side
        on the in-memory graph, and only the k results become a DataFrame.

        ``allowed`` enables FILTERED vector search (the HNSW twin of
        IVFFlatIndex.probe's ``where``): an iterable of ids or a one-column
        DataFrame of ids; the graph walk admits only those ids into the
        beam (graph-traversal-time filtering, so recall holds instead of
        post-filtering an unfiltered top-k below k). The id set is bounded
        by the driver-build guard (≤ DRIVER_BUILD_MAX_ROWS), so collecting
        a DataFrame filter result here is not a scale hazard.
        """
        import pandas as pd

        allowed_ids = _allowed_id_set(allowed)
        hits = self.graph.search(
            np.asarray(query, dtype=np.float64), k, ef_search, allowed_ids=allowed_ids
        )
        sign = -1.0 if self.dist in ("ip", "cosine") else 1.0
        pdf = pd.DataFrame(
            {self.id_col: [h[0] for h in hits], dist_col: [sign * h[1] for h in hits]}
        )
        # explicit schema: correct id type and no inference failure on 0 hits
        return self._spark.createDataFrame(
            pdf, f"{self.id_col} {self.id_type}, {dist_col} double"
        )

    def insert(self, rows) -> "HNSWIndex":
        """Insert-after-build (ref InsertVectorEntry :204-279; tested by
        vector.05-hnsw.slt insert-then-search)."""
        collected = rows.select(self.id_col, self.vec_col).collect()
        ids = [r[self.id_col] for r in collected]
        mat = np.asarray([list(r[self.vec_col]) for r in collected], dtype=np.float64)
        self.graph.add_all(ids, mat)
        return self


    def search_batch(
        self,
        queries,
        query_vec: str,
        k: int,
        dist_col: str = "distance",
        allowed=None,
    ):
        """Distributed batch ANN: graph broadcast once, queries stream
        through mapInPandas (Arrow batches). Output: one row per (query row,
        hit) — the big-side work is the graph walks, parallel over query
        partitions. ``allowed`` (iterable of ids / one-column DataFrame)
        applies the same traversal-time filter as probe() to EVERY query in
        the batch — broadcast once alongside the graph."""
        import pandas as pd

        from ..shipping import ensure_package_on_workers

        spark = queries.sparkSession
        ensure_package_on_workers(spark)
        bc = spark.sparkContext.broadcast(self.graph)
        allowed_ids = _allowed_id_set(allowed)
        bc_allowed = (
            spark.sparkContext.broadcast(allowed_ids)
            if allowed_ids is not None
            else None
        )
        sign = -1.0 if self.dist in ("ip", "cosine") else 1.0
        out_cols = [c for c in queries.columns if c != query_vec]
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in queries.schema
            if f.name != query_vec
        )
        schema += f", {self.id_col} {self.id_type}, {dist_col} double"
        id_col = self.id_col

        def run(batches):
            g = bc.value
            aset = bc_allowed.value if bc_allowed is not None else None
            for pdf in batches:
                # columnar assembly: one graph walk per query (inherent),
                # but hits land in flat arrays + a repeat-index gather of
                # the passthrough columns — no per-row iterrows/dict churn
                hit_ids: list = []
                hit_dists: list = []
                rep_idx: list = []
                for i, qv in enumerate(pdf[query_vec].tolist()):
                    # np.array (COPY): a float64 Arrow slice fed zero-copy
                    # into the walk's BLAS matmul can sum in a different
                    # SIMD order than a fresh aligned buffer (1-ulp drift
                    # against the offline replay — see vamana.search_batch)
                    hits = g.search(np.array(qv, dtype=np.float64), k, allowed_ids=aset)
                    hit_ids.extend(h[0] for h in hits)
                    hit_dists.extend(h[1] for h in hits)
                    rep_idx.extend([i] * len(hits))
                out = pdf.iloc[rep_idx][out_cols].reset_index(drop=True)
                out[id_col] = hit_ids
                out[dist_col] = np.asarray(hit_dists, dtype=np.float64) * sign
                yield out

        return _spread_queries(queries).mapInPandas(run, schema)

    @classmethod
    def build_routed(
        cls,
        df,
        vec_col: str,
        id_col: str,
        shards: int,
        m: int = 8,
        ef_construction: int = 64,
        ef_search: int = 64,
        dist: str = "l2",
        seed: int = 42,
        max_iter: int = 5,
        replicate_eps: float = 0.0,
        replicate_cap: int = 8,
        max_shard_rows: int | None = None,
    ) -> "ShardedHNSW":
        """IVF-routed sharded build — the 100 TB ANN design.

        Shards are spatially coherent: coarse k-means centroids (trained exactly like
        IVFFlat's, driver-side on a bounded sample) route each vector to its
        nearest centroid's shard, one HNSW is built per shard via
        ``applyInPandas`` (parallel across shards), and a probe ranks the
        centroid table driver-side to search only the ``n_probe`` nearest
        shards. Probe cost drops from ∝ shards to ∝ n_probe — the same
        coarse-quantizer-over-fine-index layering FAISS (IVF+HNSW) and
        SPANN-style systems use at scale.

        ``replicate_eps`` > 0 enables SPANN-style boundary replication: a
        vector lands in EVERY shard whose centroid is within (1+eps)× of
        its nearest centroid's distance, so query neighborhoods straddling
        a cluster boundary stay findable at small n_probe. Storage grows by
        the replication factor (typically ~1.1-1.4× for eps 0.1-0.3); probe
        results are deduped by id.
        """
        import pickle

        import pandas as pd
        from pyspark.sql import functions as F

        from ..shipping import ensure_package_on_workers
        from .ivfflat import IVFFlatIndex, _lloyds_numpy

        ensure_package_on_workers(df.sparkSession)
        vec = F.col(vec_col).cast("array<double>")
        seeds = df.orderBy(id_col).limit(shards).select(vec.alias("v")).collect()
        init = [list(r["v"]) for r in seeds]
        if len(init) < shards:
            raise ValueError(f"table has fewer than shards={shards} rows")
        n = df.count()
        dim = len(init[0])
        frac = min(1.0, IVFFlatIndex.DRIVER_TRAIN_MAX_CELLS / max(n * dim, 1))
        sample = (
            df.select(F.col(id_col).alias("__id"), vec.alias("v"))
            if frac >= 1.0
            else df.sample(fraction=frac, seed=seed).select(
                F.col(id_col).alias("__id"), vec.alias("v")
            )
        )
        # driver-side sort by id: the trained centroids become a pure
        # function of the table contents (collect order is partition order,
        # which offline replays can't reproduce) — required by the
        # offline-replay correctness oracle (offline_routed below)
        srows = sorted(sample.collect(), key=lambda r: r["__id"])
        centroids = _lloyds_numpy([list(r["v"]) for r in srows], init, max_iter)

        base = df.select(F.col(id_col), vec.alias("__v"))
        if replicate_eps > 0:
            # (1+eps) on distance = (1+eps)² on the squared distance; the
            # helper switches to broadcast-matmul routing past the
            # plan-literal cell budget (large shard counts at 100 TB)
            from .ivfflat import route_overlap

            # replicate_cap = SPANN's closure-assignment replica bound:
            # the uncapped ball explodes (5.35× replication, 913k-row
            # straggler shard measured at the 2.2M drill) when k-means
            # places centroids between natural clusters — see
            # route_overlap's docstring
            routed = route_overlap(
                base, id_col, "__v", centroids, (1.0 + replicate_eps) ** 2,
                max_lists=replicate_cap,
            )
        else:
            from .ivfflat import assign_nearest

            routed = assign_nearest(base, "__v", centroids, "__shard")

        if max_shard_rows is not None:
            # STRAGGLER CAP (scale-drill finding): k-means can hand one
            # centroid a pathologically large slice (a 913k-row shard at
            # the 2.2M drill ran ~90 min of single-threaded graph build
            # while 31 cores idled). Oversized cells split SPATIALLY into
            # nested-k-means sub-shards (split_oversized_cells), each a
            # first-class shard with its own centroid — probe routing
            # ranks sub-centroids natively, builds and probes of the cell
            # parallelize, and the per-shard graph cost is bounded.
            from .ivfflat import split_oversized_cells

            routed, centroids = split_oversized_cells(
                routed, id_col, "__v", centroids, max_shard_rows, seed=seed
            )

        def build_one(key, pdf):  # no hints: partial hints trip a pyspark eval-type warning
            # insert in id order: group-row order after a shuffle is not
            # deterministic, and the graph depends on insert order — sorting
            # pins it (and lets offline_routed replay builds bit-exactly)
            pdf = pdf.sort_values(id_col)
            g = _Graph(m, ef_construction, ef_search, dist, seed)
            g.add_all(
                pdf[id_col].tolist(),
                np.asarray(pdf["__v"].tolist(), dtype=np.float64),
            )
            return pd.DataFrame({"shard": [int(key[0])], "blob": [pickle.dumps(g)]})

        # pin the build stage's parallelism: graph builds are CPU-bound
        # Python work, and AQE's byte-sized coalescing would serialize
        # them on small inputs (see _pin_cpu_groups)
        blobs = _pin_cpu_groups(routed, "__shard").groupBy("__shard").applyInPandas(
            build_one, "shard long, blob binary"
        )
        # an eager checkpoint leaf this index owns: a cache() entry would be
        # shared by every build over an equal plan, and released with it
        return ShardedHNSW(
            vec_col, id_col, dist, blobs.localCheckpoint(eager=True), df.sparkSession,
            centroids=centroids, id_type=_id_type(df, id_col),
            params=dict(m=m, ef_construction=ef_construction,
                        ef_search=ef_search, seed=seed,
                        replicated=replicate_eps > 0),
        )

    # -- persistence: graph as DataFrames ---------------------------------
    def save(self, path: str) -> None:
        g = self.graph
        spark = self._spark
        verts = spark.createDataFrame(
            [(int(i), g.ids[i], [float(x) for x in g.vecs[i]]) for i in range(len(g.ids))],
            f"vertex int, {self.id_col} {self.id_type}, vec array<double>",
        )
        verts.write.mode("overwrite").parquet(f"{path}/vertices")
        edges = spark.createDataFrame(
            [
                (lv, int(v), [int(n) for n in nbs])
                for lv, layer in enumerate(g.edges)
                for v, nbs in layer.items()
            ],
            "level int, vertex int, neighbors array<int>",
        )
        edges.write.mode("overwrite").parquet(f"{path}/edges")
        meta = spark.createDataFrame(
            [(g.m, g.efc, g.efs, self.dist, int(g.entry))],
            "m int, ef_construction int, ef_search int, dist string, entry int",
        )
        meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str, vec_col: str = "vec") -> "HNSWIndex":
        """Restore a saved graph (inverse of :meth:`save`); the id column
        name is recovered from the vertices schema."""
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        verts_df = spark.read.parquet(f"{path}/vertices")
        verts = verts_df.orderBy("vertex").collect()
        id_col = verts_df.columns[1]
        id_type = verts_df.schema[id_col].dataType.simpleString()
        g = _Graph(
            meta["m"], meta["ef_construction"], meta["ef_search"], meta["dist"], seed=0
        )
        g.ids = [r[id_col] for r in verts]
        g.vecs = np.asarray([list(r["vec"]) for r in verts], dtype=np.float64)
        g._refresh_norms()
        edges = spark.read.parquet(f"{path}/edges").collect()
        n_levels = max(r["level"] for r in edges) + 1
        g.edges = [{} for _ in range(n_levels)]
        for r in edges:
            g.edges[r["level"]][r["vertex"]] = list(r["neighbors"])
        g.entry = meta["entry"]
        return cls(vec_col, id_col, meta["dist"], g, _spark=spark, id_type=id_type)


class DamagedIndexError(RuntimeError):
    """A saved index lacks a part its own metadata says it was saved with."""


def tier_rerank_mult(params: dict | None) -> int:
    """Default rerank shortlist depth of the storage form ``params``
    records: 4x for SQ8/PQ (near-lossless codes), 16x for 1-bit BQ — the
    2.2M drill measured recall 0.478 -> 0.718 at IDENTICAL serving
    wall-clock (the rerank join is broadcast-sized either way); a coarse
    1-bit ADC ranking needs the deeper exact pass."""
    return 16 if "bq_mins" in (params or {}) else 4


def _storage_form(
    kind: str,
    mins=None,
    maxs=None,
    local: bool = True,
    rotation_seed: int | None = None,
    model=None,
    residual: bool = False,
    pq_centers=None,
    local_mk=None,
) -> dict:
    """The params record of one shard storage form — what the
    ``ShardedHNSW.quantize*`` methods freeze into params and
    :func:`_quantize_shard` applies to a graph:

    - ``"sq8"``: the per-dim affine bounds ``mins``/``maxs``.
    - ``"bq"``: ``mins``/``maxs`` are the frozen fallback thresholds;
      ``local`` lets a graph with rows take its own per-dim min/max;
      ``rotation_seed`` adds the seeded orthonormal rotation (the fallback
      bounds become the rotated box's enclosure).
    - ``"pq"``: ``model``'s global codebooks; ``residual`` codes each shard
      against its routing centroid, ``pq_centers`` against one frozen
      multi-center set (vamana's entry cells); ``local_mk`` = (m, k,
      max_iter) instead trains codebooks on each graph's own rows."""
    if kind == "sq8":
        return dict(
            sq8_mins=[float(x) for x in mins], sq8_maxs=[float(x) for x in maxs]
        )
    if kind == "bq":
        mins = [float(x) for x in mins]
        maxs = [float(x) for x in maxs]
        form = dict(bq_local=bool(local))
        if rotation_seed is not None:
            from ..similarity.bq import rotation_matrix

            rot = rotation_matrix(len(mins), int(rotation_seed))
            # the record holds ROTATED-space fallback bounds: that is the
            # space the frozen thresholds live in for empty-born shards
            mins, maxs = _rotate_bounds(mins, maxs, np.asarray(rot))
            # FREEZE the rotation floats (O(dim²) ≈ 32 KB at 64 dims, the
            # same footprint class as pq_books): LAPACK QR output is not
            # guaranteed bit-identical across BLAS builds, so a worker
            # re-deriving the matrix from the seed could encode with
            # ULP-different floats than the rest of the index and the
            # offline replay. Every consumer reads these floats; the seed
            # stays for provenance.
            form.update(bq_rot_seed=int(rotation_seed), bq_rot=rot)
        return dict(form, bq_mins=mins, bq_maxs=maxs)
    if kind == "pq" and local_mk is not None:
        m, k, it = (int(x) for x in local_mk)
        return dict(pq_local=1, pq_local_m=m, pq_local_k=k, pq_local_iter=it)
    if kind == "pq":
        form = dict(
            pq_books=[[[float(x) for x in row] for row in b] for b in model.centroids],
            pq_bounds=[[int(s), int(e)] for s, e in model.bounds],
        )
        if residual:
            form["pq_residual"] = 1
        if pq_centers is not None:
            form["pq_centers"] = pq_centers
        return form
    raise ValueError(f"unknown storage form {kind!r}")


def _quantize_shard(g: _Graph, params: dict, centroid=None) -> bool:
    """Store one shard graph, in place, in the form ``params`` records (a
    record without one leaves the graph float) — the one storage-form rule
    the re-encode pass, insert's empty-born shards, the offline replays and
    vamana's cell shells share. A graph with rows takes its own thresholds
    or codebooks where the form is local; an empty graph takes the frozen
    fallback. ``centroid`` is the shard's routing centroid, the residual
    center of a ``pq_residual`` record.

    Returns True when the form waits for rows: local PQ leaves an empty
    graph float, and its books train on its first batch (call again after
    ``add_all``)."""
    p = params
    rows = g.vecs is not None and len(g.ids) > 0
    if "pq_books" in p:
        centers = p.get("pq_centers")
        if centers is None and p.get("pq_residual"):
            centers = [centroid]
        g.quantize_pq(p["pq_books"], p["pq_bounds"], centers=centers)
    elif p.get("pq_local"):
        if not rows:
            return True
        g.quantize_pq(*train_local_pq(
            g.vecs, p.get("pq_local_m", 16), p.get("pq_local_k", 32),
            p.get("pq_local_iter", 5),
        ))
    elif "sq8_mins" in p:
        g.quantize_sq8(p["sq8_mins"], p["sq8_maxs"])
    elif "bq_mins" in p:
        if p.get("bq_rot") is None and p.get("bq_rot_seed") is not None:
            raise DamagedIndexError(
                "params record a BQ rotation seed but not its frozen "
                "rotation (bq_rot); re-quantize the index"
            )
        rot = p.get("bq_rot")
        rot = np.asarray(rot, dtype=np.float64) if rot is not None else None
        if p.get("bq_local") and rows:
            if rot is not None:
                g.quantize_bq(None, None, rot=rot)
            else:
                g.quantize_bq(g.vecs.min(axis=0).tolist(), g.vecs.max(axis=0).tolist())
        else:
            g.quantize_bq(p["bq_mins"], p["bq_maxs"], rot=rot)
    return False


@dataclass
class ShardedHNSW:
    """Sharded HNSW: one independent graph per shard, stored as blob rows.

    probe(query, k): shards search their own graphs (a narrow Spark job
    over the blobs DataFrame), results union → global top-k. Routed builds
    (``build_routed``) carry the coarse centroid table, and a probe with
    ``n_probe`` set searches only the nearest shards (without it, every
    shard) — the filter on the
    shard column prunes the rest before any graph is even unpickled. This
    is the 100 TB design: build is embarrassingly parallel, probe fan-out
    is n_probe, and no single machine ever holds more than one shard.
    """

    vec_col: str
    id_col: str
    dist: str
    blobs: object  # DataFrame[shard long, blob binary]
    _spark: object
    centroids: list | None = None  # routed builds: shard i ⇐ centroid i
    id_type: str = "bigint"  # Spark simpleString of id_col (set at build)
    # probes without an explicit n_probe use this (set by the SQL DDL path so
    # planner-driven probes stay pruned); None = search every shard
    default_n_probe: int | None = None
    # graph build params (m / ef_construction / ef_search / seed) — needed by
    # insert() when a new row routes to a shard that was empty at build time
    params: dict | None = None
    # lazy cache for members() (shard-membership DataFrame)
    _members_df: object = None
    # union-of-deltas depth since the blobs were last fully checkpointed
    # (insert() appends touched-shard deltas; compacts at COMPACT_EVERY)
    _delta_depth: int = 0
    # the checkpointed leaves backing the current union view (base + one
    # delta per insert since the last fold). Tracked so compaction can
    # RELEASE them: their storage backs predecessor generations' lazy
    # views, so they must stay alive between folds, but once a compaction
    # checkpoint materializes they are unreachable from the new view and
    # would otherwise pin executor storage forever (~1 stale generation
    # per COMPACT_EVERY inserts on a long-running ingest stream)
    _leaves: tuple = ()

    COMPACT_EVERY = 64
    # search_batch: max queries grouped into one (shard, chunk) row — bounds
    # row/Arrow-batch size and keeps task parallelism proportional to the
    # query batch, not capped at shard count
    QUERY_CHUNK = 1024
    # quantized rerank paths (probe/search_batch with rerank=...) harvest
    # the k·rerank_mult ADC shortlist from each shard walk's VISITED SET
    # at the graph's configured ef (_Graph.search(shortlist=...)) instead
    # of widening the beam to k·rerank_mult (r11). Bit-identical whenever
    # k·rerank_mult <= the effective beam (the final result heap IS the
    # top-ef of the visited set), so SQ8 4x and the partitioned-vamana
    # shells (ef 192) are unchanged; where shortlists outrun the beam
    # (BQ 16x+, past-clamp escalations) the walk no longer pays for
    # depth the visited set already contains — A/B'd at the 1.2M BQ
    # geometry (drills/drill_1200k_r11_harvest.json).

    def members(self):
        """DataFrame[shard, id]: shard membership, extracted from the blobs
        by one distributed unpickle pass (cached). This is what makes
        filtered search scale-safe on the routed path: an allowed-id
        DataFrame is semi-joined against it SHARD-LOCALLY, so each probed
        shard receives only its own matching ids as a plan column and the
        driver never collects the allowed set (ref semantics anchor:
        src/optimizer/vector_index_scan.cpp:64-149 — a filtered probe must
        return top-k among matching rows)."""
        if self._members_df is None:
            import pickle

            import pandas as pd

            from ..shipping import ensure_package_on_workers

            ensure_package_on_workers(self._spark)
            id_col = self.id_col

            def emit(batches):
                for pdf in batches:
                    for shard, blob in zip(pdf["shard"], pdf["blob"]):
                        g = pickle.loads(blob)
                        yield pd.DataFrame(
                            {"shard": [shard] * len(g.ids), id_col: list(g.ids)}
                        )

            self._members_df = self.blobs.mapInPandas(
                emit, f"shard long, {id_col} {self.id_type}"
            ).cache()
        return self._members_df

    def _shard_allowed(self, allowed_df):
        """DataFrame[shard, __allowed array<id>]: the allowed ids each shard
        actually holds — the distributed replacement for broadcasting a
        driver-collected set. Per-shard list size is bounded by shard size
        (which the build path bounds), never by the global filter size.
        Shards with zero matches drop out, pruning their graph unpickle
        entirely."""
        from pyspark.sql import functions as F

        acol = allowed_df.columns[0]
        adf = allowed_df.select(F.col(acol).alias(self.id_col)).distinct()
        return (
            self.members()
            .join(adf, self.id_col)
            .groupBy("shard")
            .agg(F.collect_list(self.id_col).alias("__allowed"))
        )

    # -- persistence: blobs + centroids as parquet -------------------------
    def save(self, path: str) -> None:
        """One parquet row per shard blob (written partitioned by shard so a
        routed probe's shard filter is partition pruning on disk), plus the
        centroid table for routed builds."""
        self.blobs.write.partitionBy("shard").mode("overwrite").parquet(
            f"{path}/blobs"
        )
        import json

        meta = [
            (
                self.vec_col,
                self.id_col,
                self.dist,
                self.id_type,
                json.dumps(self.params) if self.params else None,
                self.centroids is not None,
            )
        ]
        self._spark.createDataFrame(
            meta,
            "vec_col string, id_col string, dist string, id_type string, "
            "params string, routed boolean",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        if self.centroids is not None:
            self._spark.createDataFrame(
                [(i, c) for i, c in enumerate(self.centroids)],
                "shard int, centroid array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(cls, spark, path: str) -> "ShardedHNSW":
        import json

        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        from pyspark.sql import functions as F

        # normalize the partition-directory column back to the in-memory
        # schema ("shard long"): partition inference reads it as INT, and
        # a LONG-vs-INT key mismatch between insert()'s routed rows and a
        # loaded blob side makes the pinned cogroup exchanges hash the
        # same shard to different partitions (murmur3 hashes int and long
        # differently) — an upsert group with a blob but no new rows
        blobs = spark.read.parquet(f"{path}/blobs").withColumn(
            "shard", F.col("shard").cast("long")
        )
        # saves that predate the `routed` record may be hash-sharded ones
        # without a centroid table; a save that records routing must have it
        routed = meta["routed"] if "routed" in meta.__fields__ else None
        centroids = None
        try:
            crows = spark.read.parquet(f"{path}/centroids").orderBy("shard").collect()
            centroids = [list(r["centroid"]) for r in crows]
        except Exception as e:
            if routed:
                raise DamagedIndexError(
                    f"{path}: routed index, but its centroid table "
                    f"(centroids/) is missing or unreadable: {e}"
                ) from e
        if routed and not centroids:
            raise DamagedIndexError(f"{path}: routed index with an empty centroids/")
        raw = meta["params"] if "params" in meta.__fields__ else None
        return cls(
            meta["vec_col"], meta["id_col"], meta["dist"], blobs.cache(), spark,
            centroids=centroids, id_type=meta["id_type"],
            params=json.loads(raw) if raw else None,
        )

    @property
    def _maybe_replicated(self) -> bool:
        """True unless the build provably assigned every id to exactly ONE
        shard (routed with replicate_eps=0) — then probe
        results are already id-unique and the post-walk dedupe shuffle is
        skipped. Pre-upgrade saves lack the flag and default to True (safe
        dedupe)."""
        return (self.params or {}).get("replicated", True)

    def _rerank_mult(self, rerank_mult: int | None) -> int:
        """Default shortlist depth: the tier default
        (:func:`tier_rerank_mult`), which params['rerank_mult_default']
        overrides (the DDL stamps it past the 1024-shard clamp, where
        shards grow beyond mode granularity and rerank depth is the
        remaining recall knob); an explicit argument always wins."""
        if rerank_mult is not None:
            return rerank_mult
        p = self.params or {}
        if p.get("rerank_mult_default") is not None:
            # `is not None`, not truthiness: an invalid 0 stamp must FAIL
            # here, not silently fall through to the tier default (the
            # pre-r11 truthiness read) or degrade to a k-deep rerank
            # (search() clamps shortlist to max(shortlist, k)). The DDL
            # validates >= 1 at stamp time; this guards stale pre-r11
            # saves and hand-written params.
            rm = int(p["rerank_mult_default"])
            if rm < 1:
                raise ValueError(
                    f"params['rerank_mult_default'] must be >= 1 (got "
                    f"{rm}) — re-stamp the index or pass rerank_mult "
                    "explicitly"
                )
            return rm
        return tier_rerank_mult(p)

    def quantize(self, mins, maxs) -> "ShardedHNSW":
        """SQ8-compress every shard graph: one distributed pass unpickles
        each blob, swaps its float64 matrix for uint8 codes
        (_Graph.quantize_sq8 — 8× smaller vector storage per shard), and
        repickles. The affine params (usually exact per-dim min/max from
        similarity/quantize.dim_stats — O(dim) driver state, like
        centroids) are frozen into params so save/load and insert-into-
        empty-shard keep encoding consistently. Walk distances become ADC
        approximations — serve with probe(rerank=source_df) for exact
        final ordering."""
        return self._reencode(_storage_form("sq8", mins, maxs))

    def quantize_bq(
        self,
        mins,
        maxs,
        local: bool = True,
        rotation_seed: int | None = None,
    ) -> "ShardedHNSW":
        """1-bit-compress every shard graph (the BQ twin of :meth:`quantize`):
        one distributed pass swaps each shard's float64 matrix for packbits
        sign codes (_Graph.quantize_bq — dim/8 bytes per stored vector, 8x
        denser than SQ8; the similarity/bq.BQModel trade inside the graph).
        Walk distances are decoded-half-range-center ADC approximations —
        serve with probe(rerank=source_df), same recipe as SQ8/PQ.

        ``local=True`` (default): each shard derives its own midrange
        thresholds from ITS OWN exact per-dim min/max. This is load-bearing
        on clustered corpora — the 2.2M scale drill measured recall 0.856 →
        0.10 with GLOBAL thresholds, because a k-means-routed shard is one
        cluster and its members all fall on the same side of the global
        midrange per dim: every code in the shard collapses to the same
        word and the walk loses all signal. Per-shard thresholds split the
        LOCAL distribution (the same reasoning as IVF-residual/per-cell
        codebooks in RaBitQ-style binary quantizers); thresholds freeze
        inside each shard's graph, so insert keeps encoding consistently.
        The caller-supplied global ``mins``/``maxs`` are still recorded in
        params as the FROZEN fallback for shards born empty after an
        insert. ``local=False`` applies the global thresholds everywhere
        (the bit-exact-oracle mode the gated entries replay).

        ``rotation_seed`` (RaBitQ-style, lifts the 1-bit resolution bound):
        every shard additionally applies the SAME seeded orthonormal
        rotation before sign-taking (_Graph.quantize_bq(rot=...)). A
        multi-modal shard's unrotated midrange bits can only encode mode
        identity (the 2.2M drill's finding — recall stuck at 0.20 with 64
        shards over 256 clusters); the rotation mixes every input dim into
        every code bit, so coarse shards regain within-mode resolution
        without finer sharding. Frozen fallback bounds for empty shards
        are the exact interval-arithmetic enclosure of the rotated raw
        box; the seed and the frozen rotation floats ride in params so
        save/load and insert use the identical matrix."""
        return self._reencode(
            _storage_form("bq", mins, maxs, local=local, rotation_seed=rotation_seed)
        )

    def quantize_pq(self, model, residual: bool = False) -> "ShardedHNSW":
        """PQ-compress every shard graph (the PQ twin of :meth:`quantize`):
        one distributed pass swaps each shard's float64 matrix for (n, m)
        uint8 codes against ``model``'s codebooks (_Graph.quantize_pq) —
        with m=16 on dim-64 vectors that is 16 bytes/vector vs 64 for SQ8
        and 512 for float64, a further 4×/32× serving-density step.
        ``model`` is a similarity/pq.PQModel (or anything with
        ``centroids``/``bounds``); the codebooks are frozen into params
        (JSON, O(m·k·dim) driver state — same order as the routing
        centroids) so save/load and insert-into-empty-shard encode
        consistently. Walk distances become codebook-reconstruction (ADC)
        approximations — serve with probe(rerank=source_df).

        ``residual=True``: per-shard residual codes against the routing
        centroid (train ``model`` with :func:`routed_residual_df`) — the
        clustered-corpus fix; see the inline note below."""
        # residual (IVFADC in-graph): each shard's codes quantize x − its
        # ROUTING centroid — already-frozen floats, never re-derived on
        # workers. A k-means shard is one cluster; global codebooks
        # re-separate the clusters the routing already separated, so
        # within-shard code resolution collapses at density (1.2M IVF
        # drill: 0.128 vs 0.906 recall@10 deep —
        # drills/drill_1200k_ivf_tiers.json). Train ``model`` on residuals
        # (routed_residual_df).
        if residual and self.centroids is None:
            raise ValueError("residual PQ needs a routed build (centroids)")
        return self._reencode(_storage_form("pq", model=model, residual=residual))

    def quantize_pq_local(
        self, m: int = 16, k: int = 32, max_iter: int = 5
    ) -> "ShardedHNSW":
        """PQ-compress every shard with codebooks trained on ITS OWN rows
        (:func:`train_local_pq`) — the multi-modal-shard fix, mirroring
        quantize_bq's per-shard thresholds: no global model exists, each
        pickled graph carries its own books (O(m·k·dsub) floats per shard
        — smaller than one row batch). Insert into an existing shard
        encodes against its frozen books (the frozen-quantizer contract);
        a shard born EMPTY trains its books on its first arriving batch
        (id-sorted — deterministic, replayed identically offline). Serve
        with probe(rerank=source) exactly like the other compressed
        tiers."""
        form = _storage_form("pq", local_mk=(m, k, max_iter))
        p = self.params or {}
        if p.get("frozen") == "vamana-partitioned":
            # per-CELL books on vamana-partitioned shells join the other
            # quantized vamana-partitioned tiers at the DEEP rerank
            # default (see to_partitioned — harvest makes depth ~free;
            # 1.2M: 0.918@16 -> 0.958@48). Routed-HNSW shards keep their
            # own tier defaults (4/16 + the DDL past-clamp escalation).
            form["rerank_mult_default"] = p.get("rerank_mult_default", 48)
        return self._reencode(form)

    def _reencode(self, form: dict) -> "ShardedHNSW":
        """The one re-encode pass behind every ``quantize*`` method: a
        distributed map unpickles each shard graph, stores it in ``form``
        (:func:`_quantize_shard`, with the shard's routing centroid for
        residual codes) and repickles it into a checkpoint leaf the new
        index owns. ``form`` freezes into params, so save/load and
        insert-into-empty-shard keep encoding consistently."""
        import pickle

        import pandas as pd

        from ..shipping import ensure_package_on_workers

        # quantized graphs carry vecs=None: a second form would no-op or
        # wipe the codes on every shard yet still stamp its keys next to
        # the existing tier's — a self-contradictory index
        prior = [
            key for key in ("pq_books", "sq8_mins", "bq_mins", "pq_local")
            if key in (self.params or {})
        ]
        if prior:
            raise ValueError(
                f"shards already carry a quantized tier ({prior[0]}); "
                "quantization must start from float shards"
            )
        ensure_package_on_workers(self._spark)
        params = dict(self.params or {}, **form)
        cents = self.centroids

        def run(batches):
            for pdf in batches:
                out_b = []
                for shard, blob in zip(pdf["shard"], pdf["blob"]):
                    g = pickle.loads(blob)
                    _quantize_shard(
                        g, params, cents[int(shard)] if cents is not None else None
                    )
                    out_b.append(pickle.dumps(g))
                yield pd.DataFrame({"shard": pdf["shard"].to_numpy(), "blob": out_b})

        blobs = self.blobs.mapInPandas(run, "shard long, blob binary").localCheckpoint(
            eager=True
        )
        return self._with_blobs(blobs, params)

    def _with_blobs(self, blobs, params) -> "ShardedHNSW":
        """This index over another blob set (a checkpoint leaf the new index
        owns) with ``params``: routing, id typing and the serving defaults
        carry over; the delta chain and the members cache start afresh."""
        return replace(
            self, blobs=blobs, params=params,
            _members_df=None, _delta_depth=0, _leaves=(),
        )

    def rank_shards(self, query: list[float]) -> list[int]:
        """Nearest-centroid shard order (driver-side, |shards| entries) —
        same scoring orientation as IVFFlat.rank_buckets."""
        if self.centroids is None:
            raise ValueError("rank_shards requires a routed build")
        return fold.rank_centroids(self.dist, self.centroids, query)

    def _chunked_queries(self, routed, qid_col: str):
        """Group routed queries per shard in BOUNDED chunks: collect_list
        rows hold at most ``QUERY_CHUNK`` queries each. One row per shard
        (the pre-r6 shape) meant a single giant struct array per shard — a
        2 GB row/ArrowRecordBatch hazard for a 100×-scale query batch — and
        task parallelism capped at shard count (one straggler per hot
        shard). The (shard, chunk) salt bounds every row and scales task
        count with the batch; the price is the blob joining once per chunk
        of its shard (bounded duplication, never corpus-sized). The chunk
        id comes from a per-shard row_number so the bound is EXACT (a hash
        salt could only bound it in expectation)."""
        from pyspark.sql import Window, functions as F

        wq = Window.partitionBy("__shard").orderBy(qid_col)
        chunk = int(self.QUERY_CHUNK)
        return (
            routed.withColumn(
                "__chunk", ((F.row_number().over(wq) - 1) / chunk).cast("long")
            )
            .groupBy("__shard", "__chunk")
            .agg(
                F.collect_list(F.struct(F.col(qid_col), F.col("__qv"))).alias(
                    "__qs"
                )
            )
        )

    def _serve_ef(self, ef: int | None) -> int | None:
        """Serving-walk beam override for the quantized-rerank paths: an
        explicit ``ef`` argument wins, else params['rerank_harvest_ef']
        (the DDL past-clamp escalation stamps it — at tiny past-clamp
        shards the visited set of a default-ef walk is too small to feed
        a deep shortlist, so the ESCALATED tier deepens the walk too; the
        6M drill measured the shortlist-only escalation losing 0.10
        recall vs the r10 coupled walk), else None (the graph's own
        frozen ef_search)."""
        if ef is not None:
            return int(ef)
        p = self.params or {}
        if p.get("rerank_harvest_ef") is not None:
            return int(p["rerank_harvest_ef"])
        return None

    def search_batch(
        self,
        queries,
        query_vec: str,
        qid_col: str,
        k: int,
        dist_col: str = "distance",
        n_probe: int | None = None,
        allowed=None,
        rerank=None,
        rerank_mult: int | None = None,
        ef: int | None = None,
    ):
        """Distributed batch ANN over the shards.

        ``rerank`` (the source DataFrame) enables the SQ8 serving shape on
        the batch path: walks gather k·rerank_mult ADC candidates per
        probed shard, then the (qid, id) shortlist joins the full-precision
        source AND the query vectors for exact distances and the true
        per-query top-k — see probe(rerank=...).

        Shape (the one that scales): each query row is ROUTED to its
        ``n_probe`` nearest shards with one centroid-scoring expression
        (``ivfflat.nearest_buckets``: array_sort over (score, shard)
        structs — ties break to the lowest shard, matching rank_shards),
        queries are then grouped per shard (collect_list — one row per
        shard, so the pickled graph blob is never duplicated per query
        row), each shard's graph unpickles ONCE and searches its queries inside applyInPandas, and a
        per-qid window takes the global top-k (dedup first: replicated
        builds surface the same id from several shards).

        Without ``n_probe`` every shard is searched. Offline
        replay: ``offline_routed_search`` reproduces routing + hits exactly.
        ``allowed`` applies the traversal-time filter (see probe()) inside
        every probed shard's walk, for every query — routing itself stays
        UNfiltered (centroids are corpus geometry, not per-row metadata).
        A DataFrame filter is semi-joined shard-locally (never collected to
        the driver — see probe()); an iterable is broadcast.
        """
        import pickle

        import pandas as pd
        from pyspark.sql import Window, functions as F

        from ..shipping import ensure_package_on_workers

        ensure_package_on_workers(self._spark)
        allowed_df = allowed if hasattr(allowed, "collect") else None
        allowed_ids = _allowed_id_set(allowed) if allowed_df is None else None
        bc_allowed = (
            self._spark.sparkContext.broadcast(allowed_ids)
            if allowed_ids is not None
            else None
        )
        qv = F.col(query_vec).cast("array<double>")

        if n_probe is None:
            # DDL-created routed indexes carry default_n_probe — without this
            # fallback a WITH(n_probe=...) index would lose its pruning on
            # the batch path while keeping it on probe()
            n_probe = self.default_n_probe
        if n_probe is not None and self.centroids is not None:
            from .ivfflat import nearest_buckets

            near = nearest_buckets(self.dist, query_vec, self.centroids, n_probe)
            routed = queries.select(
                F.col(qid_col), qv.alias("__qv"),
                F.explode(near.cast("array<bigint>")).alias("__shard"),
            )
        else:
            routed = queries.select(
                F.col(qid_col), qv.alias("__qv")
            ).crossJoin(self.blobs.select(F.col("shard").alias("__shard")))

        per_shard = self._chunked_queries(routed, qid_col)
        blobs_src = self.blobs
        sel = ["__qs", "blob"]
        if allowed_df is not None:
            # shard-local allowed lists; shards with no allowed members are
            # pruned by the inner join before any graph unpickles
            blobs_src = blobs_src.join(self._shard_allowed(allowed_df), "shard")
            sel.append("__allowed")
        joined = per_shard.join(blobs_src, per_shard["__shard"] == blobs_src["shard"])
        sign = -1.0 if self.dist in ("ip", "cosine") else 1.0
        id_col, id_type = self.id_col, self.id_type
        qid_type = {f.name: f.dataType.simpleString() for f in queries.schema}[qid_col]
        out_schema = f"{qid_col} {qid_type}, {id_col} {id_type}, {dist_col} double"

        # shortlist depth decoupled from the walk beam (see the class note)
        n_short = k * self._rerank_mult(rerank_mult) if rerank is not None else None
        ef_walk = self._serve_ef(ef) if rerank is not None else ef

        def run(batches):
            bset = bc_allowed.value if bc_allowed is not None else None
            for pdf in batches:
                recs_q, recs_i, recs_d = [], [], []
                local = pdf["__allowed"] if "__allowed" in pdf.columns else None
                for i, (blob, qs) in enumerate(zip(pdf["blob"], pdf["__qs"])):
                    g = pickle.loads(blob)
                    # one set object per shard → _internal_allowed converts
                    # ext→int once per shard, not once per query
                    aset = set(local.iloc[i]) if local is not None else bset
                    for q in qs:
                        arr = np.asarray(q["__qv"], dtype=np.float64)
                        for hid, d in g.search(
                            arr, k, ef=ef_walk, allowed_ids=aset,
                            shortlist=n_short,
                        ):
                            recs_q.append(q[qid_col])
                            recs_i.append(hid)
                            recs_d.append(sign * d)
                yield pd.DataFrame(
                    {qid_col: recs_q, id_col: recs_i, dist_col: recs_d}
                )

        hits = joined.select(*sel).mapInPandas(run, out_schema)
        asc = self.dist == "l2"
        if self._maybe_replicated:
            # replicated builds: the same id can arrive from several shards
            # with identical distances — per-(qid, id) reduce before top-k
            best = hits.groupBy(qid_col, id_col).agg(
                (F.min(dist_col) if asc else F.max(dist_col)).alias(dist_col)
            )
        else:
            # one shard per id by construction → already (qid, id)-unique;
            # the window top-k below is the only post-walk shuffle
            best = hits
        if rerank is not None:
            # exact rerank: shortlist (qid, id) pairs join the full-precision
            # vectors AND the query vectors; ADC distances are discarded
            from ..similarity.brute import DIST_FNS

            cand = best.select(qid_col, id_col)
            src = rerank.select(
                F.col(self.id_col), F.col(self.vec_col).cast("array<double>").alias("__rv")
            )
            qsrc = queries.select(F.col(qid_col), qv.alias("__qx"))
            exact = DIST_FNS[self.dist]("__rv", "__qx")
            best = (
                F.broadcast(cand)
                .join(src, id_col)
                .join(qsrc, qid_col)
                .select(qid_col, id_col, exact.alias(dist_col))
            )
        order = [F.col(dist_col).asc() if asc else F.col(dist_col).desc(), F.col(id_col).asc()]
        w = Window.partitionBy(qid_col).orderBy(*order)
        return (
            best.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    def insert(self, rows) -> "ShardedHNSW":
        """Insert-after-build on the at-scale routed variant (the reference's
        InsertVectorEntry, src/storage/index/hnsw_index.cpp:204-279, lifted
        to shard scale): each new row routes to its nearest-centroid shard
        with the same literal argmin as build_routed, rows group per shard,
        and only shards that RECEIVED rows unpickle → add_all (id-sorted, so
        the extended graph is deterministic) → repickle; untouched shards
        pass their blob bytes through unchanged. Centroids stay frozen —
        the same frozen-coarse-quantizer contract as IVFFlatIndex.insert
        (ivfflat_index.cpp:92-95). Cost: one narrow shuffle of the new rows
        on the shard key + graph work proportional to touched shards only.
        """
        import pickle

        import pandas as pd
        from pyspark.sql import Observation, functions as F

        from ..shipping import ensure_package_on_workers
        from .ivfflat import assign_nearest

        if (self.params or {}).get("frozen"):
            # cell-partitioned vamana serving artifacts: the shells are
            # single-layer PRUNE graphs, not HNSW graphs — extending them
            # with HNSW inserts would silently corrupt the degree-bound/
            # entry-point contract. Same refusal rationale as
            # VamanaIndex.insert.
            raise ValueError(
                f"this index is a frozen serving artifact "
                f"({(self.params or {}).get('frozen')}); migrate to the "
                "ingestible routed tier — to_routed_ingest() on the source "
                "VamanaIndex or its saved facade, or "
                "ShardedHNSW.build_routed over the source table — and "
                "rebuild the frozen artifact on schedule"
            )
        if self.centroids is None:
            raise ValueError(
                "insert requires a routed build (frozen-centroid routing); "
                "hash-sharded builds have no routing function for new rows"
            )
        ensure_package_on_workers(self._spark)
        vec = F.col(self.vec_col).cast("array<double>")
        routed = assign_nearest(
            rows.select(F.col(self.id_col).alias("__nid"), vec.alias("__nv")),
            "__nv", self.centroids, "__shard",
        ).withColumn("__shard", F.col("__shard").cast("long"))
        # PIN the routing before anything reads it twice: the touched shard
        # ids (tids) come from it AND the delta upsert re-reads it; with a
        # non-deterministic rows plan (sample/rand, or shuffle
        # recomputation after executor loss) two evaluations could
        # disagree — a row routing to a shard not in tids would create a
        # duplicate shard row next to the untouched view's old blob. The
        # eager checkpoint materializes the assignment ONCE (O(batch), the
        # rows were about to shuffle anyway); both reads see the same rows.
        # tids are observed on the checkpoint's own job, so learning them
        # costs no job of its own; the observation also completes when no
        # row routes, and on a zero-partition input, which runs no job.
        seen = Observation()
        routed = routed.observe(
            seen, F.collect_set("__shard").alias("tids")
        ).localCheckpoint(eager=True)
        # only TOUCHED shards enter the upsert pass: the shard-id list is
        # bounded driver state (like the centroid table), untouched blob
        # bytes are never deserialized, shuffled, or re-checkpointed
        from ..shipping import release_checkpoint

        tids = seen.get["tids"]
        if not tids:  # empty insert: nothing routes anywhere
            release_checkpoint(routed)
            return self
        touched = self.blobs.filter(F.col("shard").isin(tids)).select(
            # cast defensively: the cogroup sides must agree on the key
            # TYPE, or their pinned hash exchanges split the same shard
            # value across different partition indexes (load() normalizes
            # to long already; this keeps insert safe for any blob source)
            F.col("shard").cast("long").alias("__shard"),
            "blob",
        )
        has_params = self.params is not None
        p = self.params or {}
        m = p.get("m", 8)
        efc = p.get("ef_construction", 64)
        efs = p.get("ef_search", 64)
        seed = p.get("seed", 42)
        dist = self.dist
        # the touched shards' routing centroids: an empty-born shard of a
        # residual-PQ index codes against its own (bounded by the batch)
        cents = {t: self.centroids[t] for t in tids}

        def upsert(key, new_pdf, blob_pdf):
            shard = key[0]
            blob = blob_pdf["blob"].iloc[0] if len(blob_pdf) else None
            if not len(new_pdf):
                # a blob-only group (no new rows) must pass through, not
                # crash add_all on a 0-row matrix; reachable only if the
                # two cogroup sides ever disagree on key typing/hashing
                return pd.DataFrame({"shard": [shard], "blob": [blob]})
            if blob is None and not has_params:
                # pre-upgrade save without build params: refusing
                # beats silently building the fresh shard graph with
                # defaults that may differ from the original build
                # (would break the determinism/offline-replay
                # contract for this index)
                raise ValueError(
                    f"insert routed rows to shard {shard}, empty at "
                    "build time, but this index carries no build "
                    "params (loaded from a pre-upgrade save) — "
                    "rebuild the index or set .params explicitly"
                )
            waits = False
            if blob is not None:
                g = pickle.loads(blob)
            else:
                # shard was empty at build time: a fresh graph in the
                # index's frozen storage form
                g = _Graph(m, efc, efs, dist, seed)
                waits = _quantize_shard(g, p, cents[int(shard)])
            new_pdf = new_pdf.sort_values("__nid")  # id-sorted: deterministic
            g.add_all(
                new_pdf["__nid"].tolist(),
                np.asarray(new_pdf["__nv"].tolist(), dtype=np.float64),
            )
            if waits:
                # local PQ: this shard's books train on its first
                # (id-sorted) batch — deterministic, and the
                # frozen-quantizer contract holds for later inserts
                _quantize_shard(g, p, cents[int(shard)])
            return pd.DataFrame({"shard": [shard], "blob": [pickle.dumps(g)]})

        # DELTA upsert via COGROUP: each touched shard's new rows arrive as
        # a pandas group (Arrow-sliced record batches — no collect_list, so
        # no single giant struct row regardless of batch size) next to its
        # 0-or-1-row blob group; shards empty at build time simply cogroup
        # with an empty blob side. Only the touched shards' new blobs
        # materialize (localCheckpoint truncates the applyInPandas lineage
        # — the iterative-plan trap dedup/components.py checkpoints
        # against); the untouched shards stay as a lazy view over the
        # PREDECESSOR's checkpointed data — which is why predecessor leaves
        # must NOT be unpersisted between folds: their storage IS the
        # untouched view. Per-insert cost is O(touched shards), not an
        # O(all blobs) rewrite; the union view compacts into one checkpoint
        # every COMPACT_EVERY inserts so plan depth stays bounded
        # (amortized O(corpus/C) per insert).
        # pin the upsert stage's parallelism (r13, VERDICT r12 #5): the
        # cogroup's per-shard graph work is CPU-bound Python, and AQE's
        # byte-sized coalescing would pack the ~MB-scale routed rows into
        # 1-2 tasks and serialize the shard rebuilds — the same mechanism
        # measured 2.5x on the vamana propose stage (_pin_cpu_groups).
        # Both cogroup inputs repartition on the key with an explicit
        # count, which the grouped children reuse (no extra shuffle).
        delta = (
            _pin_cpu_groups(routed, "__shard").groupBy("__shard")
            .cogroup(_pin_cpu_groups(touched, "__shard").groupBy("__shard"))
            .applyInPandas(upsert, "shard long, blob binary")
            .localCheckpoint(eager=True)
        )
        release_checkpoint(routed)  # the pinned routing is folded into the delta
        untouched = self.blobs.filter(~F.col("shard").isin(tids))
        blobs = untouched.unionByName(delta)
        # leaves backing the new view: the pre-insert leaves (base view if
        # this is the first delta) plus this insert's delta
        leaves = (self._leaves or (self.blobs,)) + (delta,)
        depth = self._delta_depth + 1
        if depth >= self.COMPACT_EVERY:
            blobs = blobs.localCheckpoint(eager=True)
            # the fold materialized: the superseded leaves are unreachable
            # from the new view — release their executor storage. (This
            # retires PREDECESSOR generations of the index, exactly like
            # the pre-delta code's per-insert unpersist: a caller holding a
            # pre-compaction ShardedHNSW must not probe it afterwards.)
            for leaf in leaves:
                release_checkpoint(leaf)
            leaves = ()
            depth = 0
        out = self._with_blobs(blobs, self.params)
        out._delta_depth, out._leaves = depth, leaves
        return out

    def probe(
        self,
        query,
        k: int,
        dist_col: str = "distance",
        n_probe: int | None = None,
        allowed=None,
        rerank=None,
        rerank_mult: int | None = None,
        ef: int | None = None,
    ):
        """``rerank`` (the source DataFrame carrying id + vector columns)
        turns the probe into ADC-shortlist + exact-rerank — the serving
        shape for SQ8-quantized shards: each probed shard walks for
        k·rerank_mult candidates over its compressed codes, then the
        candidate ids (≤ n_probe·k·rerank_mult rows — broadcast-sized) join
        back to the full-precision source for exact distances and the true
        top-k. Corpus never shuffles; the join is broadcast-candidates
        against a pruned column scan.

        ``allowed`` (iterable of ids or a one-column DataFrame) enables
        filtered vector search on the routed/sharded variant: each probed
        shard's graph walk filters at traversal time
        (_search_layer(allowed=...)), so the per-shard top-k is taken among
        matching rows. Shard pruning (n_probe) still applies — the filter
        composes with, not replaces, centroid routing.

        Scale: a DataFrame filter is NEVER collected to the driver — it is
        semi-joined shard-locally (_shard_allowed), so an unselective
        predicate over a 100 TB corpus costs one distributed join, and each
        shard only sees its own members. A plain iterable (a small literal
        id list) is broadcast as before."""
        import pickle

        import pandas as pd

        from ..shipping import ensure_package_on_workers

        ensure_package_on_workers(self._spark)

        if n_probe is None:
            n_probe = self.default_n_probe
        q = [float(x) for x in query]
        sign = -1.0 if self.dist in ("ip", "cosine") else 1.0
        id_col = self.id_col
        allowed_df = allowed if hasattr(allowed, "collect") else None
        allowed_ids = _allowed_id_set(allowed) if allowed_df is None else None
        bc_allowed = (
            self._spark.sparkContext.broadcast(allowed_ids)
            if allowed_ids is not None
            else None
        )

        # shortlist depth decoupled from the walk beam (see the class note)
        n_short = k * self._rerank_mult(rerank_mult) if rerank is not None else None
        ef_walk = self._serve_ef(ef) if rerank is not None else ef

        def search_shard(batches):
            bset = bc_allowed.value if bc_allowed is not None else None
            for pdf in batches:
                recs = []
                local = pdf["__allowed"] if "__allowed" in pdf.columns else None
                for i, blob in enumerate(pdf["blob"]):
                    g = pickle.loads(blob)
                    aset = set(local.iloc[i]) if local is not None else bset
                    for hid, d in g.search(
                        np.asarray(q), k, ef=ef_walk, allowed_ids=aset,
                        shortlist=n_short,
                    ):
                        recs.append({id_col: hid, dist_col: sign * d})
                yield pd.DataFrame(recs, columns=[id_col, dist_col])

        from pyspark.sql import functions as F

        src = self.blobs
        if n_probe is not None and self.centroids is not None:
            # an IN list, not fold.sql_int_in: the optimizer sees that a
            # probe of a just-touched shard contradicts the older branches'
            # `NOT shard IN (tids)` and drops them (n_probe=1 right after a
            # one-row insert scans that insert's delta alone); an
            # array_contains hides the set and scans every leaf of the chain
            src = src.filter(F.col("shard").isin(self.rank_shards(q)[:n_probe]))
        if allowed_df is not None:
            # inner join: shards holding no allowed ids are pruned before
            # their graph is even unpickled
            src = src.join(self._shard_allowed(allowed_df), "shard")
        per_shard = src.mapInPandas(
            search_shard, f"{id_col} {self.id_type}, {dist_col} double"
        )
        asc = self.dist == "l2"
        order = F.col(dist_col).asc() if asc else F.col(dist_col).desc()
        # boundary-replicated builds can surface the same id from several
        # shards — dedupe (identical distances) before the global top-k;
        # non-replicated builds are id-unique by construction, skip the
        # dedupe shuffle entirely
        if rerank is None:
            out = per_shard
            if self._maybe_replicated:
                out = out.dropDuplicates([id_col])
            return out.orderBy(order).limit(k)
        # exact rerank: the ADC shortlist's ids (broadcast-sized) join back
        # to the full-precision source; distances recompute exactly there
        from ..similarity.brute import DIST_FNS

        cand = per_shard.select(id_col)
        if self._maybe_replicated:
            cand = cand.dropDuplicates([id_col])
        exact = DIST_FNS[self.dist](self.vec_col, q)
        scored = (
            rerank.select(F.col(id_col), F.col(self.vec_col))
            .join(F.broadcast(cand), id_col)
            .select(id_col, exact.alias(dist_col))
        )
        return scored.orderBy(order, F.col(id_col).asc()).limit(k)


# =========================================================================
# Offline replay (correctness oracles)
# =========================================================================
# Same trick as ivfflat.offline_centroids: every driver-side build above is
# a pure function of (table contents, params, seed), so a numpy-only replay
# over the same parquet reproduces the graph — and therefore the probe
# results — bit-exactly. The DuckDB oracle for the HNSW probe queries inlines
# the replayed hits as VALUES rows, turning "approximate" output into an
# exactly-checkable contract (the approximation IS the specified semantics).


def _read_sorted(parquet_path: str, vec_col: str, order_col: str):
    """(ids, vectors) sorted by ``order_col`` — the same deterministic order
    ``HNSWIndex.build``/``build_routed`` materialize on the driver. to_pylist
    widens float32 exactly, matching Spark's collect()."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[order_col, vec_col])
    keys = t[order_col].to_pylist()
    order = sorted(range(len(keys)), key=lambda i: keys[i])
    vecs = t[vec_col].to_pylist()
    return [keys[i] for i in order], [vecs[i] for i in order]


def offline_graph(
    parquet_path: str,
    vec_col: str,
    order_col: str,
    m: int = 8,
    ef_construction: int = 64,
    ef_search: int = 64,
    dist: str = "l2",
    seed: int = 42,
) -> _Graph:
    """Replay ``HNSWIndex.build`` without Spark (bit-identical graph)."""
    ids, vecs = _read_sorted(parquet_path, vec_col, order_col)
    g = _Graph(m, ef_construction, ef_search, dist, seed)
    if ids:
        mat = np.asarray(vecs, dtype=np.float64)
        order = list(range(len(ids)))
        random.Random(seed).shuffle(order)
        g.add_all([ids[i] for i in order], mat[order])
    return g


def offline_routed(
    parquet_path: str,
    vec_col: str,
    order_col: str,
    shards: int,
    m: int = 8,
    ef_construction: int = 48,
    ef_search: int = 48,
    dist: str = "l2",
    seed: int = 42,
    max_iter: int = 5,
    keep=None,
) -> tuple[list[list[float]], dict[int, _Graph]]:
    """Replay ``HNSWIndex.build_routed`` (replicate_eps=0) without Spark.

    ``keep`` (optional id predicate) replays a build over a FILTERED table
    — ``build_routed(df.filter(...))`` — since both the centroid seeds and
    the training collect are id-ordered over whatever rows the input holds.

    Valid only on inputs small enough for the full-table training path
    (same bound as offline_centroids); raises otherwise."""
    from .ivfflat import IVFFlatIndex, _lloyds_numpy

    ids, vecs = _read_sorted(parquet_path, vec_col, order_col)
    if keep is not None:
        pairs = [(i, v) for i, v in zip(ids, vecs) if keep(i)]
        ids, vecs = [p[0] for p in pairs], [p[1] for p in pairs]
    n, dim = len(vecs), len(vecs[0]) if vecs else 0
    if n * dim > IVFFlatIndex.DRIVER_TRAIN_MAX_CELLS:
        raise ValueError("offline_routed only replicates the full-table training path")
    if n < shards:
        raise ValueError(f"table has fewer than shards={shards} rows")
    centroids = _lloyds_numpy(vecs, [list(v) for v in vecs[:shards]], max_iter)

    members: dict[int, tuple[list, list]] = {}
    for i, v in zip(ids, vecs):
        b = fold.nearest(v, centroids)
        members.setdefault(b, ([], []))[0].append(i)
        members[b][1].append(v)

    graphs: dict[int, _Graph] = {}
    for b, (mids, mvecs) in members.items():
        g = _Graph(m, ef_construction, ef_search, dist, seed)
        g.add_all(mids, np.asarray(mvecs, dtype=np.float64))
        graphs[b] = g
    return centroids, graphs


def offline_quantize(
    graphs: dict[int, _Graph],
    form: str,
    mins: list[float] | None = None,
    maxs: list[float] | None = None,
    rotation_seed: int | None = None,
    model=None,
    centroids: list[list[float]] | None = None,
    residual: bool = False,
    pq_centers=None,
    local_mk=None,
) -> dict:
    """Quantize replayed graphs in place by the rule the distributed path
    applies (:func:`_quantize_shard`), before :func:`offline_routed_search`
    / ``vamana.offline_vamana_search`` walk them. Returns the storage-form
    record (what the quantized index's params carry).

    - ``"sq8"``: ``ShardedHNSW.quantize(mins, maxs)``.
    - ``"bq"``: ``quantize_bq(mins, maxs)`` with its local=True default —
      each graph's OWN exact per-dim min/max (bit-identical to the
      worker's, since the replayed build produces the same vectors); the
      global stats serve only the empty-graph fallback. ``rotation_seed``
      mirrors ``quantize_bq(rotation_seed=...)``: the same seeded
      orthonormal rotation and rotated-space fallback bounds —
      bit-identical HERE because quantize_bq derives its matrix
      DRIVER-side and this replay runs in that same process (same LAPACK
      build). Worker-side consumers must NOT re-run QR: they read the
      frozen floats in params["bq_rot"] (the insert upsert closure does —
      see ShardedHNSW.insert).
    - ``"pq"``: ``quantize_pq(model)`` — global codebooks; ``residual``
      adds each shard's routing centroid (``centroids[shard]``) as its
      center; ``pq_centers`` instead ships ONE frozen multi-center set
      into every graph (the vamana entry-cell residual mode);
      ``local_mk`` = (m, k, max_iter) replays ``quantize_pq_local``
      (train_local_pq run verbatim on each replayed graph's own rows —
      the shard build is id-sorted both sides; ``model`` unused)."""
    record = _storage_form(
        form, mins, maxs, rotation_seed=rotation_seed, model=model,
        residual=residual, pq_centers=pq_centers, local_mk=local_mk,
    )
    for b, g in graphs.items():
        _quantize_shard(g, record, centroids[b] if centroids is not None else None)
    return record


def offline_routed_search(
    centroids: list[list[float]],
    graphs: dict[int, _Graph],
    queries: list[tuple],
    k: int,
    n_probe: int,
    dist: str = "l2",
    allowed_ids: set | None = None,
    rerank: tuple | None = None,
) -> list[tuple]:
    """Replay ``ShardedHNSW.probe`` and ``search_batch`` without Spark (a
    point probe is a batch of one). Per (qid, vec) query: rank the shards
    (fold.rank_centroids — the order of the array_sort routing),
    walk the ``n_probe`` nearest graphs, keep each id's best signed
    distance, and return the top-k in (distance, id) order (similarity
    desc for ip / cosine). ``allowed_ids`` replays the filtered walks.

    ``rerank=(vectors_by_id, rerank_mult, ef)`` replays the quantized
    serving shape (quantize the graphs first, :func:`offline_quantize`):
    each walk harvests a k·rerank_mult shortlist from its visited set at
    ``ef`` (None = the graph's frozen ef_search; pass
    params['rerank_harvest_ef'] when replaying a stamped index — the
    ``ShardedHNSW._serve_ef`` override), and the union of the shortlists
    reranks with the exact left-fold arithmetic Spark's functions.vector
    expressions evaluate (fold.exact_rerank). Returns [(qid, id, d)]."""
    sign = -1.0 if dist in ("ip", "cosine") else 1.0
    asc = dist == "l2"
    out = []
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        hits: dict = {}
        for b in fold.rank_centroids(dist, centroids, qv)[:n_probe]:
            g = graphs.get(b)
            if g is None:
                continue
            if rerank is None:
                walk = g.search(q, k, allowed_ids=allowed_ids)
            else:
                walk = g.search(
                    q, k, ef=rerank[2], allowed_ids=allowed_ids,
                    shortlist=k * rerank[1],
                )
            for hid, d in walk:
                sd = sign * d
                if hid not in hits or sd < hits[hid]:
                    hits[hid] = sd
        if rerank is None:
            top = sorted(hits.items(), key=lambda t: (t[1] if asc else -t[1], t[0]))
        else:
            top = fold.exact_rerank(dist, rerank[0], hits, qv, k)
        out += [(qid, hid, d) for hid, d in top[:k]]
    return out


def offline_routed_insert(
    centroids: list[list[float]],
    graphs: dict[int, _Graph],
    rows: list[tuple],
    m: int = 8,
    ef_construction: int = 48,
    ef_search: int = 48,
    dist: str = "l2",
    seed: int = 42,
) -> dict[int, _Graph]:
    """Replay ``ShardedHNSW.insert`` without Spark: route each (id, vec) by
    the same left-fold argmin the distributed expression evaluates, then
    extend each touched shard's graph in id order (exactly what the worker's
    sorted add_all does). Mutates and returns ``graphs``."""
    members: dict[int, list[tuple]] = {}
    for i, v in rows:
        members.setdefault(fold.nearest(v, centroids), []).append((i, v))
    for b, recs in sorted(members.items()):
        recs.sort(key=lambda t: t[0])
        g = graphs.get(b)
        if g is None:
            g = _Graph(m, ef_construction, ef_search, dist, seed)
            graphs[b] = g
        g.add_all(
            [r[0] for r in recs], np.asarray([r[1] for r in recs], dtype=np.float64)
        )
    return graphs


def train_local_pq(mat: "np.ndarray", m: int, k: int, max_iter: int = 5):
    """Per-SHARD PQ codebooks trained on the shard's OWN rows — the PQ
    twin of quantize_bq(local=True), and the multi-modal-shard fix the
    1.2M drill demanded: at DDL-default granularity a shard holds several
    modes, so one global codebook (even residual against the shard
    centroid — a point BETWEEN the modes) spends its budget re-separating
    them and within-mode resolution collapses (measured deep-rerank
    recall 0.308 global / 0.51 residual at 48 shards over 256 clusters).
    A codebook trained on just this shard's rows covers its local modes
    by construction. Fold-exact Lloyd's (no BLAS in the train surface),
    id-ordered init prefix (``mat`` arrives id-sorted from the
    deterministic shard build) — workers and offline replays derive
    identical books. k clamps to the shard size.

    Returns (books, bounds) in _Graph.quantize_pq's format."""
    from ..similarity.pq import _split
    from .vamana import _lloyds_fold_exact

    n, dim = mat.shape
    k_eff = max(1, min(k, n))
    bounds = [[int(s), int(e)] for s, e in _split(dim, m)]
    books = []
    for s, e in bounds:
        sub = np.ascontiguousarray(mat[:, s:e], dtype=np.float64)
        cents = _lloyds_fold_exact(sub, sub[:k_eff].copy(), max_iter)
        books.append([[float(x) for x in row] for row in cents])
    return books, bounds


def routed_residual_df(df, vec_col: str, id_col: str, centroids):
    """(id, __shard, __res = x − centroid[nearest shard]) — the training
    source for ``ShardedHNSW.quantize_pq(model, residual=True)``: train
    the PQModel on ``__res`` so the codebook budget resolves WITHIN-shard
    structure (similarity/pq._residual_df's shape, against routing
    centroids instead of IVF buckets). Assignment is the deterministic
    argmin fold (ivfflat.assign_nearest); the subtraction is elementwise
    (no reduction order to vary)."""
    from pyspark.sql import functions as F

    from .ivfflat import assign_nearest

    spark = df.sparkSession
    cents = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "__shard long, __cent array<double>",
        )
    )
    assigned = assign_nearest(
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
        ),
        vec_col,
        [list(c) for c in centroids],
        "__shard",
    ).withColumn("__shard", F.col("__shard").cast("long"))
    res = F.zip_with(F.col(vec_col), F.col("__cent"), lambda x, c: x - c)
    return assigned.join(cents, "__shard").select(
        F.col(id_col), F.col("__shard"), res.alias("__res")
    )
