"""Vamana-style distributed SINGLE-graph ANN build (DiskANN merge recipe).

The routed ShardedHNSW (hnsw.py) is the serving-oriented 100 TB design:
independent graphs per spatial shard, probes pruned to n_probe shards. What
it deliberately does NOT produce is ONE navigable graph over the whole
corpus — the artifact DiskANN-class systems build for single-node SSD/RAM
serving. This module closes that gap with the published DiskANN merge
construction (Subramanya et al., NeurIPS 2019 §4: build overlapping
cluster sub-indexes, union their edge lists, prune per vertex), expressed
Spark-first:

  1. coarse k-means centroids (the exact recipe/determinism contract of
     HNSWIndex.build_routed — id-ordered seeds + bounded id-sorted sample);
  2. every vector is routed to ALL centroids within (1+eps) of its nearest
     (SPANN/DiskANN overlapping clusters) — the overlap is what stitches
     the final graph together: a vector living in two clusters carries
     edges into both neighborhoods;
  3. one sub-graph per cluster via ``applyInPandas`` (the tested _Graph
     HNSW build; its layer-0 adjacency — up to m² candidates per vertex —
     is the shard's edge proposal set);
  4. the proposals are UNIONed and symmetrized as a plain DataFrame of
     (src, dst) pairs, each vertex's candidate set gathers in one groupBy,
     and DiskANN's RobustPrune (α-occlusion, Alg. 2 — NOT keep-R-nearest,
     which strips the cross-cluster edges and breaks navigability on
     clumpy data) selects ≤R diverse neighbors per vertex in an
     Arrow-batched kernel shared verbatim with the offline replays;
  5. the entry point is the corpus pseudo-medoid: the row nearest to the
     centroid mean (a deterministic TopN with literal query, id tie-break).

The BUILD is fully distributed (nothing corpus-sized ever reaches the
driver); the finished graph is a pair of DataFrames (vertices + pruned
adjacency) persisted with save()/load(). SERVING a single pointer-chase
graph is inherently a one-node concern (DiskANN serves from one machine's
SSD) — probe() materializes the graph into the driver once, guarded by
``SERVE_MAX_ROWS``, and walks it with the tested greedy beam search
(_Graph.search over a single layer, beam width L).

Determinism: centroids, routing, per-shard insert order (id-sorted),
edge-set union (set semantics), prune ranking ((dist, dst) ties), and the
medoid TopN are all pure functions of the table contents, so
``offline_vamana`` replays the whole build bit-exactly for the correctness
oracle — same contract as offline_routed.

DENSITY CAVEAT for the merged DRIVER walk (1.2M-row scale drill, round
7): RobustPrune keeps the R nearest unoccluded candidates, and inside a
dense high-dim cluster the occlusion test almost never fires (pairwise
distances concentrate, so α·d(b,c) < d(src,c) holds for neither in-cluster
nor cross-cluster candidates) — all R slots go to in-cluster neighbors
once a cluster holds ≫R points, and the cross-cluster "expressway" edges
the single-medoid greedy walk needs starve away. Measured: merged
recall@10 0.96 at 30k rows (117/cluster) → 0.104 at 1.2M (4.7k/cluster)
on the same 256-cluster geometry. The SCALABLE serving answer is
unaffected: ``to_partitioned`` with cell granularity matching the cluster
structure routes queries past the navigability problem entirely —
cells=256/n_probe=8 measured 0.856 at 1.2M, exactly the routed-HNSW float
tier's recall on the same corpus (cells=64/n_probe=4, i.e. multi-modal
cells, gave 0.622 — the same granularity law as the BQ tiers). Treat the
merged driver walk as the small/diffuse-corpus tier; round-8 lead: a
long-edge quota in RobustPrune (reserve slots per distance band) to
restore driver-tier navigability, offline replays updated in lockstep.

Reference surface: vector index build/scan (src/storage/index/
hnsw_index.cpp, src/optimizer/vector_index_scan.cpp) — this is an
additional build strategy for the same probe semantics, not a reference
port; the merge algorithm is the published DiskANN construction.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from .. import fold
from .hnsw import (
    _Graph,
    _id_type,
    _pin_cpu_groups,
    _quantize_shard,
    _spread_queries,
    _storage_form,
)


def _centroid_mean(centroids: list[list[float]]) -> list[float]:
    """Pseudo-medoid query point: numpy mean over the (driver-resident)
    centroid list — computed identically by build and offline replay."""
    return [float(x) for x in np.asarray(centroids, dtype=np.float64).mean(axis=0)]


def _robust_prune(
    src_vec: np.ndarray,
    cand_ids: list,
    cand_mat: np.ndarray,
    r: int,
    alpha: float,
) -> list:
    """DiskANN RobustPrune (Subramanya et al. 2019, Algorithm 2) for one
    vertex: walk candidates in (distance, id) order; keep the nearest
    unoccluded one; occlude every remaining c' with α·d(kept, c') ≤
    d(src, c'). The α>1 occlusion is what PRESERVES long-range edges — a
    plain keep-R-nearest prune throws away every cross-cluster proposal
    (the nearest R are always same-cluster on clumpy data) and the merged
    graph loses greedy navigability: recall@10 measured 0.30-0.32 on a
    256-component mixture at the 2.2M scale drill with rank pruning,
    regardless of beam width. One shared function: the Spark worker
    closure AND the offline replays call THIS kernel, so the pruned edge
    sets are bit-identical by construction (fold-exact distances, fresh
    np.array buffers per the NOTES alignment rule).

    LONG-EDGE QUOTA (round 8): inside a dense high-dim cluster the
    α-occlusion test almost never fires (pairwise distances concentrate),
    so with ≫R same-cluster candidates every slot fills before the walk
    reaches the first cross-cluster proposal and the merged graph's
    "expressway" edges starve — measured recall@10 0.96 at 117 rows/cluster
    → 0.104 at 4.7k rows/cluster on identical 256-cluster geometry (r7
    scale drill). When candidates overflow R, max(1, R//4) slots are
    RESERVED for the nearest candidate of each of the farthest distinct
    distance bands (geometric log2 bands over d/d_min — one edge per
    length scale, the skip-list spacing a greedy walk needs); the reserved
    picks are seeded as occluders so the remaining slots stay diverse.
    With ≤R candidates the behavior is unchanged (plain α-occlusion).

    Returns the kept external ids sorted by (distance, id) — identical to
    the selection order of the plain walk, which visits candidates in that
    order."""
    n = len(cand_ids)
    if not n:
        return []
    sv = np.array(src_vec, dtype=np.float64)
    mat = np.array(cand_mat, dtype=np.float64)
    d_src = np.sqrt(fold.l2_sq_rows(mat, sv))
    order = sorted(range(n), key=lambda i: (d_src[i], cand_ids[i]))
    kept_idx: list = []
    occluded = np.zeros(n, dtype=bool)
    if n > r:
        quota = max(1, r // 4)
        pos = d_src[d_src > 0.0]
        if len(pos):
            d0 = float(pos.min())
            # integer band per candidate: floor(log2(d/d0)); d==0 rows are
            # nearest anyway and band-exempt
            bands = np.full(n, -1, dtype=np.int64)
            nz = d_src > 0.0
            bands[nz] = np.floor(np.log2(d_src[nz] / d0)).astype(np.int64)
            # nearest (d, id) candidate per band, visiting the sorted order
            # once; then reserve the farthest `quota` bands' representatives
            band_first: dict = {}
            for i in order:
                b = int(bands[i])
                if b >= 0 and b not in band_first:
                    band_first[b] = i
            for b in sorted(band_first, reverse=True)[:quota]:
                i = band_first[b]
                if occluded[i]:
                    continue
                kept_idx.append(i)
                d_kept = np.sqrt(fold.l2_sq_rows(mat, mat[i]))
                occluded |= alpha * d_kept <= d_src
                occluded[i] = True
    for i in order:
        if len(kept_idx) >= r:
            break
        if occluded[i]:
            continue
        kept_idx.append(i)
        if len(kept_idx) >= r:
            break
        d_kept = np.sqrt(fold.l2_sq_rows(mat, mat[i]))
        occluded |= alpha * d_kept <= d_src
        occluded[i] = True
    kept_idx.sort(key=lambda i: (d_src[i], cand_ids[i]))
    return [cand_ids[i] for i in kept_idx]


def _lloyds_fold_exact(
    x: "np.ndarray", init: "np.ndarray", max_iter: int
) -> "np.ndarray":
    """Lloyd's k-means with the SAME semantics as ivfflat._lloyds_numpy
    (first-min argmin ties, empty buckets keep their centroid, fixed
    iteration cap, 1e-9 movement stop) but with the assignment distances
    accumulated per-dim elementwise instead of a BLAS matmul: the matmul
    kernel's summation order is buffer-alignment/architecture-dependent
    (see bustub_vectordb_spark/fold.py), and a ULP flip in an argmin
    here changes which rows form a sub-cell — and therefore the entry
    seeds — between a Spark worker and the driver-side offline replay.
    Elementwise accumulation has no reduction order to vary; the centroid
    update means run over fresh mask-copied buffers (numpy pairwise
    reduction, deterministic for equal shapes)."""
    cents = init.copy()
    for _ in range(max_iter):
        assign = np.argmin(fold.l2_sq_pairwise(x, cents), axis=1)
        new = cents.copy()
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        moved = float(np.abs(new - cents).max())
        cents = new
        if moved < 1e-9:
            break
    return cents


def _cell_entry_points(
    mat: "np.ndarray", ids: list, max_entries: int = 16, max_iter: int = 5
) -> list[int]:
    """INTERNAL-index multi-entry seeds for one partitioned-cell shell —
    the same basin-trap fix as the merged graph's entry cells, one level
    down: a cell holds several modes when cells are coarser than the
    corpus's cluster structure, and its single medoid entry traps the
    in-cell walk exactly like the global medoid trapped the merged walk.
    Dedicated sub-k-means (id-ordered init prefix — ``mat`` arrives
    id-sorted) via :func:`_lloyds_fold_exact` (per-dim elementwise
    accumulation end-to-end: neither the iteration distances nor the
    final assignment touch a BLAS matmul, so worker and driver derive
    bit-identical seeds), first-min assignment, per-subcell
    (distance, lowest-id) medoid. Shared VERBATIM by to_partitioned's
    worker closure and offline_vamana_partitioned, so seeds are
    identical by construction."""
    e = min(max_entries, len(ids))
    if e <= 1:
        return []
    ecents = _lloyds_fold_exact(
        np.asarray(mat, dtype=np.float64), np.asarray(mat[:e], dtype=np.float64),
        max_iter,
    )
    d = fold.l2_sq_pairwise(mat, ecents)
    assign = np.argmin(d, axis=1)  # first-min ties, like the Spark argmin
    out: list[int] = []
    for c in range(len(ecents)):
        members = np.nonzero(assign == c)[0]
        if not len(members):
            continue
        # argmin over members is first-min; members ascend in internal
        # (id-sorted) order, so ties break to the lowest id
        out.append(int(members[np.argmin(d[members, c])]))
    return out


def _attach_unreached(
    layer0: dict, mat: "np.ndarray", entry: int, entry_points
) -> None:
    """REACHABILITY REPAIR for a partitioned-cell shell (r9, hardened
    r10): restricting the merged adjacency to in-cell edges strands some
    members — beam search can never reach them from the cell's seeds, at
    ANY n_probe (measured: partitioned recall pinned at exactly 0.858
    across n_probe 2..32 on the 1.2M drill). The r9 repair classified
    'has an in-edge' as reachable, which misses mutually-linked
    components whose only paths from the seeds crossed cell boundaries
    (every vertex there has in-degree >= 1 yet none is reachable, and a
    donor picked from such a component kept it unreachable). r10 computes
    TRUE reachability — BFS from entry + entry_points over the directed
    out-edges — finds the unreached components, and hangs each component
    (via its lowest-id anchor) off the anchor's nearest SEED (fold-exact
    distances, first-min ties), so every component is visible in a beam's
    first expansion. Seeds are always reachable, so the guarantee holds
    by construction. Mutates ``layer0`` in place; shared VERBATIM by
    to_partitioned's worker closure and offline_vamana_partitioned."""
    n = len(mat)
    reached = {int(entry)}
    reached.update(int(x) for x in (entry_points or []))
    stack = list(reached)
    while stack:
        v = stack.pop()
        for nb in layer0.get(v, ()):
            nb = int(nb)
            if nb not in reached:
                reached.add(nb)
                stack.append(nb)
    unreached = [v for v in range(n) if v not in reached]
    if not unreached:
        return
    # components of the UNREACHED subgraph first, one edge per component
    # anchor: BFS-unreached sets can be large (whole stranded clusters,
    # not just in-degree-0 singletons). Anchors are found in ascending-id
    # order (lowest-id member anchors its component). Out-edges of an
    # INITIALLY-reached vertex can only lead to initially-reached vertices
    # (else the target would have been reached in the BFS above), so
    # restricting the component walk to unreached vertices loses nothing.
    remaining = set(unreached)
    anchors: list[int] = []
    for v in unreached:  # ascending ids
        if v not in remaining:
            continue
        anchors.append(v)
        remaining.discard(v)
        stack = [v]
        while stack:
            w = stack.pop()
            for nb in layer0.get(w, ()):
                nb = int(nb)
                if nb in remaining:
                    remaining.discard(nb)
                    stack.append(nb)
    # donor = the anchor's nearest SEED (entry + entry_points, <= ~17
    # candidates), fold-exact, first-min ties -> lowest seed position in
    # the id-sorted candidate list. The r10 1.2M re-drill measured that a
    # nearest-REACHABLE-vertex donor buys zero recall over the pre-repair
    # graphs (partitioned recall pinned at 0.858 either way) while its
    # anchors x reached distance pass cost 11x on to_partitioned (1826s
    # vs the r9 157s band) — donor quality is not the mechanism, so the
    # repair keeps only its correctness role at O(anchors x seeds) cost.
    # Seeds also make every component directly visible in a beam's FIRST
    # expansion (walks start at the seeds), which dominates an arbitrary
    # interior donor for discoverability at any ef.
    seeds = sorted({int(entry), *(int(x) for x in (entry_points or []))})
    d = fold.l2_sq_pairwise(mat[anchors], mat[seeds])
    donors = np.argmin(d, axis=1)  # first-min ties -> lowest seed id
    for v, ui in zip(anchors, donors):  # id-ordered appends
        u = seeds[int(ui)]
        layer0.setdefault(u, [])
        layer0[u] = list(layer0[u]) + [v]


def _normalize_expr(vec_col: str):
    """Unit-normalize an array<double> column with REPLAYABLE arithmetic:
    sequential square fold → sqrt → 1e-300-guarded divide, mirrored
    element-for-element by :func:`_normalize_row` (zero vectors pass
    through unchanged instead of dividing by zero)."""
    from pyspark.sql import functions as F

    v = fold.sql_operand(vec_col)
    nrm = f"greatest(sqrt({fold.sql_norm_sq(v)}), {fold.sql_double(1e-300)})"
    return F.expr(f"transform({v}, __u -> __u / {nrm})")


def _sims_for_ids(g: "_Graph", hit_ids: list, q: list[float]) -> list:
    """Exact similarities dot(stored unit row, unit query) for walk hits,
    looked up by external id over the shell's id-sorted arrays (no
    corpus-sized dict per probe). The dot is a FOLD-EXACT per-dim
    sequential accumulation (vectorized across hits) — np.dot's BLAS
    kernel is alignment-sensitive (an Arrow-backed query slice on a
    worker can sum in a different SIMD order than a driver array, 1-ulp
    drift), while elementwise accumulate has no reduction order to vary.
    It also matches the JVM inner-product fold the PQ rerank paths
    evaluate. Offline replays call this same function."""
    qn = np.asarray(q, dtype=np.float64)
    ids = g.ids
    if isinstance(ids, np.ndarray):
        idx = np.searchsorted(ids, np.asarray(hit_ids, dtype=ids.dtype))
    else:
        import bisect

        idx = np.asarray([bisect.bisect_left(ids, h) for h in hit_ids], dtype=np.int64)
    return [float(x) for x in fold.dot_rows(g.vecs[idx], qn)]


def _prep_query(dist: str, q: list[float]) -> list[float]:
    """Driver/offline query prep per ops class: cosine -> unit query
    (same floats as the build's normalize), ip -> augmented [q, 0.0]
    (the fold's final +x_aug*0.0 keeps the dot EXACTLY x.q), l2 -> as
    is."""
    if dist == "cosine":
        return _normalize_row(q)
    if dist == "ip":
        return list(q) + [0.0]
    return list(q)


def _normalize_row(v: list) -> list[float]:
    """Python twin of :func:`_normalize_expr` — same fold order, same
    guard, same per-element divide, so offline replays normalize to the
    exact floats Spark stores."""
    n = max(math.sqrt(fold.norm_sq(v)), 1e-300)
    return [x / n for x in v]


def _transform_rows(dist: str, vecs: list) -> list:
    """Offline twin of the build's row transform: cosine normalizes each
    row (_normalize_row), ip appends sqrt(M²−‖x‖²) with the same fold /
    max / sqrt floats the Spark expressions evaluate, l2 passes through.
    BOTH offline replays (offline_vamana, offline_vamana_partitioned)
    call this one function so the fold arithmetic cannot drift apart."""
    if dist == "cosine":
        return [_normalize_row([float(x) for x in v]) for v in vecs]
    if dist == "ip":
        sqs = [fold.norm_sq([float(x) for x in v]) for v in vecs]
        m2 = max(sqs)
        return [
            [float(x) for x in v] + [math.sqrt(max(m2 - s, 0.0))]
            for v, s in zip(vecs, sqs)
        ]
    return vecs


class PartitionedVamanaServing:
    """Ops-class facade over a cell-partitioned cosine/ip vamana artifact.

    The inner ShardedHNSW holds TRANSFORMED vectors (unit / MIPS-
    augmented) and walks plain l2 — correct internally, but a caller (the
    planner included) probes an index with the RAW query and expects the
    ops class's native values. This facade owns that boundary: probes
    prep the query (:func:`_prep_query` / the batch expressions) and
    convert the angular/augmented-l2 distances back with the exact
    identities (cosine: sim = 1 − d²/2; ip: x·q = (M² + ‖q‖² − d²)/2,
    M² frozen at build) — the same float expressions the offline replays
    evaluate, so oracle parity carries through. Without it, a DDL-created
    ip index above the partitioning threshold would crash on raw queries
    (dim mismatch) and ip_m2 would be lost with the pre-partition index.
    """

    def __init__(self, inner, dist: str, ip_m2: float | None = None,
                 vertices=None):
        self.inner = inner
        self.dist = dist
        self.ip_m2 = ip_m2
        # TRANSFORMED vertices (unit/augmented) — the only valid rerank
        # source for the inner l2 walks; raw source rows would join
        # mismatched dims (ip) or unnormalized values (cosine)
        self._vertices = vertices
        self.id_col = inner.id_col
        self.id_type = inner.id_type
        self.vec_col = inner.vec_col
        self.default_n_probe = inner.default_n_probe
        self.params = inner.params

    def _rerank_src(self, rerank):
        """Substitute the caller's rerank source with the frozen build-time
        TRANSFORMED vertices. This is a deliberate contract deviation from
        the other indexes (which rerank against whatever the caller
        passes): exact rerank here must run in the transformed space the
        cells store (unit / MIPS-augmented), and a raw caller source would
        join mismatched dims (ip) or unnormalized values (cosine). The
        consequence — documented on probe/search_batch too — is that a
        RESTRICTED or REFRESHED caller source is ignored: results come
        from the build-time corpus. A warning is emitted so the caller
        gets a signal instead of silently-unrestricted results."""
        if rerank is None:
            return None
        import warnings

        from pyspark.sql import functions as F

        if self._vertices is None:
            raise ValueError(
                "rerank on a transformed partitioned artifact needs its "
                "transformed vertices (lost in this load) — pass the "
                "saved facade path to load_partitioned, or rebuild"
            )
        if rerank is not self._vertices:
            warnings.warn(
                "PartitionedVamanaServing reranks against the frozen "
                "build-time transformed vertices; the rerank DataFrame "
                "you passed is ignored (restricted/refreshed sources are "
                "not honored by this frozen artifact)",
                stacklevel=3,
            )
        return self._vertices.select(
            F.col(self.id_col), F.col("vec").alias(self.vec_col)
        )

    def _convert(self, d, qsq):
        from pyspark.sql import functions as F

        if self.dist == "cosine":
            return F.lit(1.0) - d * d / F.lit(2.0)
        return (F.lit(float(self.ip_m2)) + qsq - d * d) / F.lit(2.0)

    def probe(self, query, k, dist_col: str = "distance", n_probe=None,
              allowed=None, **kw):
        """Raw-query probe; native similarities / inner products out.

        NOTE: a ``rerank=`` DataFrame is NOT honored — this frozen
        artifact reranks against its own transformed vertices (see
        :meth:`_rerank_src`; a warning fires when you pass one)."""
        from pyspark.sql import functions as F

        q = [float(x) for x in query]
        qn = _prep_query(self.dist, q)
        if "rerank" in kw:
            kw = dict(kw, rerank=self._rerank_src(kw["rerank"]))
        out = self.inner.probe(
            qn, k, dist_col=dist_col, n_probe=n_probe, allowed=allowed, **kw
        )
        qsq = 0.0
        for x in q:
            qsq = qsq + x * x
        return (
            out.withColumn(dist_col, self._convert(F.col(dist_col), F.lit(qsq)))
            .orderBy(F.col(dist_col).desc(), F.col(self.id_col).asc())
        )

    def search_batch(self, queries, query_vec: str, qid_col: str, k: int,
                     dist_col: str = "distance", n_probe=None, **kw):
        """Batch twin of :meth:`probe` — same rerank caveat: a caller
        ``rerank=`` source is substituted with the frozen transformed
        vertices (warning fires; see :meth:`_rerank_src`)."""
        from pyspark.sql import functions as F

        qcast = F.col(query_vec).cast("array<double>")
        prep = (
            _normalize_expr(query_vec)
            if self.dist == "cosine"
            else F.concat(qcast, F.array(F.lit(0.0)))
        )
        if "rerank" in kw:
            kw = dict(kw, rerank=self._rerank_src(kw["rerank"]))
        out = self.inner.search_batch(
            queries.withColumn(query_vec, prep), query_vec, qid_col, k,
            dist_col=dist_col, n_probe=n_probe, **kw,
        )
        if self.dist == "cosine":
            return out.withColumn(
                dist_col, self._convert(F.col(dist_col), F.lit(0.0))
            )
        qsq = queries.select(
            F.col(qid_col),
            F.expr(fold.sql_norm_sq(fold.sql_operand(query_vec))).alias("__qsq"),
        )
        return (
            out.join(qsq, qid_col)
            .withColumn(
                dist_col, self._convert(F.col(dist_col), F.col("__qsq"))
            )
            .drop("__qsq")
        )

    def insert(self, rows):
        return self.inner.insert(rows)  # raises: frozen serving artifact

    def quantize_pq_local(
        self, m: int = 16, k: int = 32, max_iter: int = 5
    ) -> "PartitionedVamanaServing":
        """Per-CELL local PQ codebooks (ShardedHNSW.quantize_pq_local one
        tier over, r11): each cell shell trains books on ITS OWN
        (transformed) member rows — the multi-modal fix applied at cell
        granularity, where a frozen global/residual codebook's centers sit
        between a cell's modes exactly as shard centroids did in r9. The
        ops-class facade re-wraps the quantized inner artifact so raw
        queries and exact transformed-space rerank keep working."""
        return PartitionedVamanaServing(
            self.inner.quantize_pq_local(m=m, k=k, max_iter=max_iter),
            self.dist, self.ip_m2, vertices=self._vertices,
        )

    def to_routed_ingest(
        self,
        shards: int = 8,
        n_probe: int | None = 2,
        max_iter: int = 5,
        replicate_eps: float = 0.0,
    ):
        """One-liner migration to the ingestible routed tier — the exact
        recipe of :meth:`VamanaIndex.to_routed_ingest` (raw-vector
        recovery from the transformed vertices is identical), available
        on loaded facades because ``save`` persists the vertices.
        Pre-upgrade saves without them refuse with guidance."""
        if self._vertices is None:
            raise ValueError(
                "this loaded facade carries no stored vertices (pre-"
                "upgrade save) — rebuild the ingestible tier from the "
                "source table instead: HNSWIndex.build_routed(source, "
                f"vec_col, id_col, shards=..., dist={self.dist!r})"
            )
        from pyspark.sql import functions as F

        from .hnsw import HNSWIndex

        p = self.params or {}
        vec = F.col("vec")
        if self.dist == "ip":
            first = self._vertices.select("vec").head(1)
            stored_dim = len(first[0][0]) if first else 1
            vec = F.slice(vec, 1, stored_dim - 1)
        src = self._vertices.select(
            F.col(self.id_col), vec.alias(self.vec_col)
        )
        out = HNSWIndex.build_routed(
            src, self.vec_col, self.id_col, shards=shards,
            m=p.get("m", 8),
            ef_construction=p.get("ef_construction", 48),
            ef_search=p.get("ef_search", 48),
            dist=self.dist, seed=p.get("seed", 42), max_iter=max_iter,
            replicate_eps=replicate_eps,
        )
        if n_probe is not None:
            out.default_n_probe = int(n_probe)
        return out

    def save(self, path: str) -> None:
        """Persist the inner sharded artifact plus the transformed
        vertices (the rerank source); ops class, ip_m2 and n_probe travel
        in params, so :func:`load_partitioned` restores everything."""
        self.inner.save(path)
        if self._vertices is not None:
            self._vertices.write.mode("overwrite").parquet(
                f"{path}/facade_vertices"
            )

    @classmethod
    def load(cls, spark, path: str) -> "PartitionedVamanaServing":
        return load_partitioned(spark, path)


def load_partitioned(spark, path: str):
    """Load a saved cell-partitioned vamana artifact: restore the build's
    n_probe pruning (ShardedHNSW.save does not persist it) and re-wrap
    the ops-class facade when the params say the cells hold transformed
    vectors (ops_dist cosine/ip) — a bare ShardedHNSW.load would probe
    EVERY cell and serve raw-query probes incorrectly for those."""
    from .hnsw import ShardedHNSW

    inner = ShardedHNSW.load(spark, path)
    p = inner.params or {}
    if inner.default_n_probe is None and p.get("n_probe") is not None:
        inner.default_n_probe = int(p["n_probe"])
    ops = p.get("ops_dist", "l2")
    if ops == "l2":
        return inner
    vertices = None
    try:
        vertices = spark.read.parquet(f"{path}/facade_vertices")
    except Exception:
        pass  # pre-upgrade save: rerank will refuse with guidance
    return PartitionedVamanaServing(
        inner, ops, p.get("ip_m2"), vertices=vertices
    )


@dataclass
class VamanaIndex:
    """One flat navigable graph over the whole corpus, built distributed.

    ``vertices``: (id, vec) DataFrame; ``edges``: (id, neighbors array —
    ≤R RobustPrune-selected, selection order) DataFrame; ``entry``:
    external id of the pseudo-medoid; ``params``: build parameters
    (frozen for save/load).
    """

    vec_col: str
    id_col: str
    dist: str
    vertices: "object"  # DataFrame
    edges: "object"  # DataFrame
    entry: object
    _spark: "object"
    id_type: str = "bigint"
    params: dict | None = None
    _driver_graph: _Graph | None = field(default=None, repr=False)

    # one-node serving ceiling. With PQ codes (16 B/vec) + packed edge
    # lists (4 B/edge int32 — _Graph.pack) 8M rows is ~0.7 GB resident
    # (codes 128 MB + edges R=16 512 MB + ids 64 MB), comfortably one
    # search node. Past this, serve via to_partitioned() — cell-sharded
    # beam serving with NO full-graph materialization anywhere — or the
    # routed ShardedHNSW tier (sql.py auto-routes builds the same way).
    # UNQUANTIZED serving holds the full float64 matrix instead (8·dim
    # bytes/row), so its ceiling scales by row width — 8M rows of dim-768
    # floats would be ~47 GB, not 0.7 GB. serve_cap() derives the real
    # per-artifact ceiling; SERVE_MAX_ROWS alone applies to the PQ tier.
    SERVE_MAX_ROWS = 8_000_000
    SERVE_MAX_FLOAT_BYTES = 12 << 30  # ≈2M rows at dim-768, the old cap
    # sampled big-table builds train the ENTRY k-means on a dedicated
    # sample this many times the routing budget (entries are <=512 means;
    # their training collect tolerates far more rows than the routing
    # k-means) — the 450k A/B's 3pt sampled-vs-full recall delta traced
    # to sample-starved entry centers (drills/entries_ab_450k.json)
    ENTRY_TRAIN_SAMPLE_MULT = 4
    # partitioned shells serve at this beam floor (vs the merged build's
    # ef_search): in-cell edge restriction deletes cross-cell paths the
    # prune budget was spent around, and the 1.2M ef sweep measured
    # 0.86 -> 0.974 recall from ef 48 -> 192 at flat serving wall-clock
    # (drills/drill_1200k_r10_part_ef_ab.json); ef_serve overrides
    PARTITIONED_EF_SERVE = 192
    # SPANN closure-assignment replica bound (route_overlap max_lists;
    # the paper uses <= 8). ONE constant for the Spark cut AND the
    # offline twin — a drifting pair would silently break replay parity
    REPLICATE_CAP_DEFAULT = 4

    def serve_cap(self) -> int:
        """Max rows this artifact may serve driver-materialized: the flat
        SERVE_MAX_ROWS when PQ codes are attached (16 B/vec resident),
        otherwise SERVE_MAX_FLOAT_BYTES divided by the stored float64 row
        width — an 8M-row dim-768 unquantized graph is ~47 GB of vectors
        and belongs behind to_partitioned(), not on one node."""
        p = self.params or {}
        if "pq_books" in p:
            return self.SERVE_MAX_ROWS
        dim = p.get("dim")
        if not dim:
            first = self.vertices.select("vec").head(1)
            dim = len(first[0][0]) if first else 1
        return max(
            1,
            min(self.SERVE_MAX_ROWS, self.SERVE_MAX_FLOAT_BYTES // (int(dim) * 8)),
        )

    @classmethod
    def build(
        cls,
        df,
        vec_col: str,
        id_col: str,
        shards: int = 4,
        m: int = 8,
        ef_construction: int = 48,
        ef_search: int = 48,
        overlap_eps: float = 0.2,
        r: int = 16,
        dist: str = "l2",
        seed: int = 42,
        max_iter: int = 5,
        min_lists: int = 2,
        alpha: float = 1.2,
        max_lists: int = 4,
        max_cell_rows: int | None = None,
        entry_points: int | None = None,
    ) -> "VamanaIndex":
        if dist not in ("l2", "cosine", "ip"):
            raise ValueError(
                "vamana merge build supports l2, cosine (normalize-then-l2) "
                "and ip (MIPS via the augmentation reduction)"
            )
        import pickle

        import pandas as pd
        from pyspark.sql import Window, functions as F

        from ..functions.vector import l2_dist
        from ..shipping import ensure_package_on_workers
        from .ivfflat import IVFFlatIndex, _lloyds_numpy

        ensure_package_on_workers(df.sparkSession)
        vec = F.col(vec_col).cast("array<double>")
        extra_params = {}
        if dist == "cosine":
            # cosine = l2 over UNIT vectors (the FAISS/ScaNN recipe): the
            # whole build — training, overlap routing, sub-graphs, prune,
            # medoid — runs on fold-exactly normalized copies, and serving
            # reports exact similarities from the stored unit vectors.
            # Normalization arithmetic (sequential square fold → sqrt →
            # guarded divide) is replayed bit-exactly by offline_vamana.
            vec = _normalize_expr(vec_col)
        elif dist == "ip":
            # MIPS via the l2 reduction (Bachrach et al., RecSys 2014):
            # append sqrt(M² − ‖x‖²) so ‖x'−q'‖² = M² + ‖q‖² − 2·x·q —
            # l2 order on augmented vectors == inner-product order. The
            # augmented dot against q' = [q, 0] recovers x·q EXACTLY
            # (the fold's final +x_aug·0 adds 0.0), so serving reports
            # exact inner products. M² = max row-norm fold, collected
            # once and inlined as a literal (exact double round-trip);
            # replayed bit-exactly by offline_vamana.
            v = fold.sql_operand(vec_col)
            sq = fold.sql_norm_sq(v)
            m2 = float(df.select(F.max(F.expr(sq)).alias("m")).collect()[0]["m"])
            extra_params["ip_m2"] = m2
            vec = F.expr(
                f"concat({v}, array(sqrt(greatest({fold.sql_double(m2)} - {sq}, 0D))))"
            )
        n = df.count()
        if n < shards:
            raise ValueError(f"table has fewer than shards={shards} rows")
        # dim probe: one row of the TRANSFORMED vec (post-augmentation for
        # ip) — r13 fusion of the residual driver jobs (VERDICT r12 #6):
        # the k-means seeds no longer get their own TopN job; on the
        # full-table path they are the first `shards` rows of the id-sorted
        # training collect (identical values — ids are unique index keys),
        # the sampled big-table path keeps its bounded TopN.
        dim = len(df.select(vec.alias("v")).first()["v"])
        frac = min(1.0, IVFFlatIndex.DRIVER_TRAIN_MAX_CELLS / max(n * dim, 1))
        if frac >= 1.0:
            sample = df.select(F.col(id_col).alias("__id"), vec.alias("v"))
            srows = sorted(sample.collect(), key=lambda row: row["__id"])
            init = [list(row["v"]) for row in srows[:shards]]
        else:
            seeds = (
                df.orderBy(id_col).limit(shards).select(vec.alias("v")).collect()
            )
            init = [list(row["v"]) for row in seeds]
            sample = df.sample(fraction=frac, seed=seed).select(
                F.col(id_col).alias("__id"), vec.alias("v")
            )
            srows = sorted(sample.collect(), key=lambda row: row["__id"])
        centroids = _lloyds_numpy([list(row["v"]) for row in srows], init, max_iter)

        # overlapping-cluster routing: every centroid within (1+eps)x of
        # the nearest, UNION the min_lists (default ℓ=2, DiskANN §4)
        # closest — the ℓ-way floor is what stitches the merged graph on
        # well-separated clusters, where the eps-ball alone degenerates to
        # disjoint routing and the final graph falls apart into islands
        # (see route_overlap's docstring for the measured collapse)
        from .ivfflat import route_overlap

        base = df.select(F.col(id_col), vec.alias("__v"))
        routed = route_overlap(
            base, id_col, "__v", centroids, (1.0 + overlap_eps) ** 2,
            min_lists=min(min_lists, shards),
            # SPANN closure cap: without it the ball explodes to most of
            # the centroid table when clusters outnumber centroids (5.35×
            # replication measured at the 2.2M drill) and sub-graph build
            # cost with it — see route_overlap's docstring
            max_lists=max_lists,
        )

        if max_cell_rows is not None:
            # straggler cap for the PROPOSAL cells (same scale-drill
            # finding as build_routed's max_shard_rows): a k-means cell
            # handed a pathological slice builds its sub-graph on one
            # core for the whole stage. Split SPATIALLY (nested k-means,
            # split_oversized_cells) — a plain hash split thins every
            # sub-cell's proposal neighborhoods (measured −0.18 recall@10
            # on the clustered smoke corpus); spatial sub-cells keep
            # neighborhoods coherent and the ℓ=2 overlap + RobustPrune
            # merge stitches across them as usual.
            from .ivfflat import split_oversized_cells

            routed, _ = split_oversized_cells(
                routed, id_col, "__v", centroids, max_cell_rows, seed=seed
            )

        idt = _id_type(df, id_col)

        def propose(key, pdf):  # no hints: partial hints trip a pyspark eval-type warning
            # id-sorted insert pins the sub-graph (see build_routed); the
            # layer-0 adjacency (<= m^2 per vertex) is this cluster's edge
            # proposal set, emitted as external-id pairs
            pdf = pdf.sort_values(id_col)
            # sub-graphs always build in l2: cosine inputs are already
            # unit vectors, where l2 order == cosine order
            g = _Graph(m, ef_construction, ef_search, "l2", seed)
            g.add_all(
                pdf[id_col].tolist(),
                np.asarray(pdf["__v"].tolist(), dtype=np.float64),
            )
            src, dst = [], []
            for v, nbs in g.edges[0].items():
                for nb in nbs:
                    src.append(g.ids[v])
                    dst.append(g.ids[nb])
            return pd.DataFrame({"src": src, "dst": dst})

        # pin the sub-graph build stage's parallelism: AQE's byte-sized
        # coalescing packs the ~MB-scale routed rows into 1-2 tasks and the
        # CPU-bound Python builds run serially (measured 4.5 s → 1.8 s on
        # this stage at bench scale — see hnsw._pin_cpu_groups)
        pairs = _pin_cpu_groups(routed, "__shard").groupBy("__shard").applyInPandas(
            propose, f"src {idt}, dst {idt}"
        )
        # materialize the proposals ONCE before the self-union: Spark does
        # not share an unmaterialized subplan between the two sides of a
        # union, so without this every cluster sub-graph BUILD (the
        # expensive applyInPandas stage) runs twice — the same
        # recompute-twice trap NOTES documents for LSH self-joins. The
        # checkpointed relation is O(corpus·m) small edge pairs.
        pairs = pairs.localCheckpoint(eager=True)
        # union across clusters + symmetrize (Vamana keeps reciprocal
        # edges), dedupe replicas — set semantics, one shuffle
        sym = pairs.union(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

        # RobustPrune (DiskANN Alg. 2) to ≤R diverse neighbors per vertex:
        # ONE join attaches candidate vectors to the proposal edges, a
        # groupBy gathers each vertex's candidate set (≲2m²·overlap rows ×
        # one vector each — bounded row size), and the α-occlusion kernel
        # (_robust_prune, shared verbatim with the offline replays) runs
        # per vertex in an Arrow-batched stage. A rank prune (keep R
        # NEAREST) is NOT a substitute: it deletes every cross-cluster
        # proposal edge on clumpy data and the merged graph loses greedy
        # navigability (recall collapse measured at the 2.2M scale drill
        # — see _robust_prune's docstring). Candidate arrival order is
        # shuffle-nondeterministic; the kernel canonicalizes by (d, id).
        vtx = df.select(F.col(id_col).alias("__vid"), vec.alias("__vv"))
        cand = (
            sym.join(vtx, sym["dst"] == vtx["__vid"])
            .select("src", "dst", F.col("__vv").alias("__dv"))
            # pin the RobustPrune stage's parallelism (the agg reuses this
            # exchange; the mapInPandas kernel below runs on its output
            # partitioning — byte-sized AQE coalescing would serialize the
            # per-vertex prune kernels; see hnsw._pin_cpu_groups)
            .transform(lambda d: _pin_cpu_groups(d, "src"))
            .groupBy("src")
            # two collect_lists in ONE agg see the group's rows in the
            # same order — ids and vectors stay paired
            .agg(
                F.collect_list("dst").alias("__cids"),
                F.collect_list("__dv").alias("__cvecs"),
            )
            .join(vtx, F.col("src") == vtx["__vid"])
            .select("src", F.col("__vv").alias("__sv"), "__cids", "__cvecs")
        )
        alpha_v = float(alpha)

        def prune_batches(batches):
            # Arrow-native (guide §4.2): the candidate sets are E×dim
            # doubles, and the pandas path materialized every vector as a
            # Python list-of-floats before the kernel's own np.array copy.
            # Reading the ListArray offsets + flat value buffers hands the
            # kernel zero-copy numpy VIEWS of the same doubles —
            # _robust_prune copies them into fresh aligned buffers
            # internally (its first two statements), so the arithmetic (and
            # the pruned edge sets) are bit-identical to the pandas path
            # and to the offline replays that share the kernel.
            import pyarrow as pa

            for rb in batches:
                if not rb.num_rows:
                    continue
                col = {n: i for i, n in enumerate(rb.schema.names)}
                src_a = rb.column(col["src"])
                sv_a = rb.column(col["__sv"])
                cids_a = rb.column(col["__cids"])
                cvecs_a = rb.column(col["__cvecs"])
                sv_off = np.asarray(sv_a.offsets)
                sv_flat = np.asarray(sv_a.values)
                cid_off = np.asarray(cids_a.offsets)
                cids_all = cids_a.values.to_pylist()
                cv_off = np.asarray(cvecs_a.offsets)
                inner = cvecs_a.values  # ListArray<double> of candidate rows
                in_off = np.asarray(inner.offsets)
                cv_flat = np.asarray(inner.values)
                srcs = src_a.to_pylist()
                nbs = []
                for i in range(rb.num_rows):
                    sv = sv_flat[sv_off[i] : sv_off[i + 1]]
                    cids = cids_all[cid_off[i] : cid_off[i + 1]]
                    o0, o1 = cv_off[i], cv_off[i + 1]
                    dim = len(sv)
                    cmat = cv_flat[in_off[o0] : in_off[o1]].reshape(-1, dim)
                    nbs.append(_robust_prune(sv, cids, cmat, r, alpha_v))
                yield pa.record_batch(
                    [
                        pa.array(srcs, type=src_a.type),
                        pa.array(nbs, type=pa.list_(cids_a.type.value_type)),
                    ],
                    names=[id_col, "neighbors"],
                )

        pruned = cand.mapInArrow(
            prune_batches, f"{id_col} {idt}, neighbors array<{idt}>"
        )

        # entry point: corpus pseudo-medoid — nearest row to the centroid
        # mean, (dist, id) ties. On the full-table training path srows IS
        # the id-sorted corpus, so the medoid computes driver-side with the
        # same sequential per-dim fold the Spark l2 expression (and
        # offline_vamana's fold.exact) evaluates — identical doubles, identical
        # tie order, one less Spark job (~0.5 s of TopN scheduling at bench
        # scale). The sampled big-table path keeps the distributed TopN.
        pm = _centroid_mean(centroids)
        if frac >= 1.0:
            pmv = np.asarray(pm, dtype=np.float64)
            smat_pm = np.asarray([list(row["v"]) for row in srows], dtype=np.float64)
            pd_d = np.sqrt(fold.l2_sq_rows(smat_pm, pmv))
            entry_id = min(
                zip(pd_d.tolist(), (row["__id"] for row in srows))
            )[1]
        else:
            entry_id = (
                base.select(id_col, l2_dist("__v", pm).alias("__d"))
                .orderBy(F.col("__d").asc(), F.col(id_col).asc())
                .limit(1)
                .collect()[0][id_col]
            )

        # MULTI-ENTRY serving seeds (r8): one vertex per entry cell. A
        # single-medoid greedy walk must cross cluster basins through
        # long-range edges alone, and on dense clustered corpora those
        # starve even with RobustPrune's long-edge quota — 1.2M drill:
        # merged recall@10 0.368 single-entry vs 0.88 with one seed per
        # distinct mode at the SAME ef=48 (seeding costs |entries| extra
        # distance evals, nothing else). Entry cells are a dedicated
        # k-means (same deterministic recipe as the routing clusters,
        # finer: default 4x shards capped at 512) and each cell's seed is
        # its member nearest the centroid ((distance, id) ties) — the
        # to_partitioned entry rule, reused. Frozen into
        # params["entry_ids"]; offline_vamana replays identically;
        # entry_points=1 restores the single-medoid walk.
        if entry_points is None:
            entry_points = min(512, 4 * shards)
        entry_points = min(int(entry_points), n)
        entry_ids: list = []
        if entry_points > 1:
            if frac >= 1.0:
                # full-table training path: srows IS the id-sorted corpus,
                # so the entry medoids compute driver-side with the SAME
                # fold-exact kernel the partitioned cells and the offline
                # replay use — zero extra Spark jobs (the distributed pass
                # below costs ~3s of scheduling at bench scale for the
                # same answer; measured vamana_build 6.0 -> 9.1s)
                smat = np.asarray(
                    [list(row["v"]) for row in srows], dtype=np.float64
                )
                sids = [row["__id"] for row in srows]
                eidx = _cell_entry_points(
                    smat, sids, max_entries=entry_points, max_iter=max_iter
                )
                entry_ids = [sids[i] for i in eidx]
            else:
                # sampled (big-table) path: train the entry k-means on a
                # DEDICATED larger sample (r10), then pick each cell's
                # medoid with one distributed pass over the FULL table.
                # Entries are <=512 means — their training collect
                # tolerates far more rows than the routing k-means (whose
                # budget bounds the shards x dim driver matrix), and the
                # 450k A/B measured a 3pt sampled-vs-full recall delta
                # traced to sample-starved entry CENTERS
                # (drills/entries_ab_450k.json). 4x the routing budget,
                # still O(1) driver state relative to n.
                efrac = min(1.0, cls.ENTRY_TRAIN_SAMPLE_MULT * frac)
                esample = (
                    df.select(F.col(id_col).alias("__id"), vec.alias("v"))
                    if efrac >= 1.0
                    else df.sample(fraction=efrac, seed=seed).select(
                        F.col(id_col).alias("__id"), vec.alias("v")
                    )
                )
                erows_s = sorted(esample.collect(), key=lambda row: row["__id"])
                einit = [list(row["v"]) for row in erows_s[:entry_points]]
                ecents = _lloyds_numpy(
                    [list(row["v"]) for row in erows_s], einit, max_iter
                )
                from .ivfflat import assign_nearest

                ecdf = F.broadcast(
                    df.sparkSession.createDataFrame(
                        [(b, [float(x) for x in c]) for b, c in enumerate(ecents)],
                        "__ecell int, __ec array<double>",
                    )
                )
                w = Window.partitionBy("__ecell").orderBy(
                    F.col("__ed").asc(), F.col(id_col).asc()
                )
                erows = (
                    assign_nearest(base, "__v", ecents, "__ecell")
                    .join(ecdf, "__ecell")
                    .select(
                        F.col(id_col),
                        F.col("__ecell"),
                        l2_dist("__v", "__ec").alias("__ed"),
                    )
                    .withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .orderBy("__ecell")
                    .collect()
                )
                entry_ids = [row[id_col] for row in erows]

        vertices = df.select(F.col(id_col), vec.alias("vec"))
        params = dict(
            shards=shards, m=m, ef_construction=ef_construction,
            ef_search=ef_search, overlap_eps=overlap_eps, r=r, seed=seed,
            min_lists=min_lists, alpha=alpha, max_lists=max_lists,
            # seeds were collected from the TRANSFORMED vec column, so this
            # is already the stored (post-augmentation) dimension
            dim=len(init[0]),
            **extra_params,
        )
        if entry_ids:
            params["entry_ids"] = [
                int(i) if isinstance(i, (int, np.integer)) else i
                for i in entry_ids
            ]
        return cls(
            vec_col, id_col, dist, vertices, pruned, entry_id,
            df.sparkSession, id_type=idt, params=params,
        )

    def quantize_pq(self, model, residual: bool = False) -> "VamanaIndex":
        """PQ-compress the SERVING side of the merged graph: the search
        node collects (id, codes) — m bytes/vector instead of 8·dim — so
        one node holds a ~32× larger corpus under the same memory (the
        DiskANN trade: PQ codes in RAM, full vectors stay on disk/parquet
        for rerank). Encoding runs distributed (Arrow-batched mapInPandas,
        similarity/pq.PQModel.encode); the driver never sees a float
        matrix. probe() walks ADC reconstructions and reranks the
        shortlist EXACTLY via a distributed join against the parquet
        vertices (Spark l2 fold) — output distances are exact.
        ``model`` is a similarity/pq.PQModel; its codebooks freeze into
        params so save/load round-trips.

        ``residual=True`` (the r9 IVFADC threading): codes quantize
        x − center[cell(x)] against the ENTRY-CELL medoid vectors (the
        multi-entry seeds build froze into params["entry_ids"] — already
        one medoid per mode, exactly the coarse structure residuals must
        remove). On clustered corpora global codebooks re-separate the
        modes and within-mode code resolution collapses (the 1.2M IVF
        drill's 0.128-vs-0.906); entry-cell residuals re-center every
        mode at the origin. Train ``model`` on :meth:`residual_source`'s
        ``__res`` column. Centers freeze into params["pq_centers"]
        (≤512·dim floats, the same footprint class as pq_books) so
        serving, to_partitioned shells, and offline replays all consume
        identical floats."""
        if max(len(b) for b in model.centroids) > 256:
            # same guard as _Graph.quantize_pq: codes are uint8, and serving
            # assigns them directly — without this a pq_k>512 model would
            # corrupt codes at serve time instead of failing here
            raise ValueError("quantize_pq stores uint8 codes: need k <= 256")
        stored_dim = (self.params or {}).get("dim") or len(
            self.vertices.select("vec").first()[0]  # pre-upgrade saves
        )
        model_dim = int(model.bounds[-1][1])
        if model_dim != stored_dim:
            # cosine/ip indexes store TRANSFORMED vertices (unit /
            # MIPS-augmented) — a model trained on the raw table would
            # silently drop the augmentation dim (ip: serve-time matmul
            # crash) or encode unnormalized rows against unit walks
            # (cosine: degraded ADC shortlists). Train on this index's
            # ``vertices`` ("vec" column) instead.
            raise ValueError(
                f"PQ model covers dim {model_dim} but this index stores "
                f"dim-{stored_dim} vertices ({self.dist} indexes transform "
                "rows at build) — train the PQModel on index.vertices"
            )
        params = dict(self.params or {}, **_storage_form("pq", model=model))
        if residual:
            params["pq_centers"] = self._entry_centers()
        return VamanaIndex(
            self.vec_col, self.id_col, self.dist, self.vertices, self.edges,
            self.entry, self._spark, id_type=self.id_type, params=params,
        )

    def _entry_centers(self) -> list[list[float]]:
        """The entry-cell medoid VECTORS in entry_ids order — the frozen
        residual centers (bounded: ≤512 rows collect)."""
        from pyspark.sql import functions as F

        eids = (self.params or {}).get("entry_ids")
        if not eids:
            raise ValueError(
                "residual PQ needs multi-entry seeds (params['entry_ids']) "
                "— build with entry_points > 1 (the default)"
            )
        rows = {
            r[self.id_col]: list(r["vec"])
            for r in self.vertices.filter(
                F.col(self.id_col).isin(list(eids))
            ).collect()
        }
        return [[float(x) for x in rows[e]] for e in eids]

    def residual_source(self):
        """(id, __ecell, __res = vec − entry_center[nearest]) — the
        training source for ``quantize_pq(model, residual=True)`` (train
        the PQModel on ``__res``). Assignment is the deterministic Spark
        fold (assign_nearest); subtraction is elementwise."""
        from pyspark.sql import functions as F

        from .ivfflat import assign_nearest

        # frozen floats first: after quantize_pq(residual=True) the centers
        # in params are the single source of truth
        centers = (self.params or {}).get("pq_centers") or self._entry_centers()
        cdf = F.broadcast(
            self._spark.createDataFrame(
                [(i, c) for i, c in enumerate(centers)],
                "__ecell long, __ecent array<double>",
            )
        )
        assigned = assign_nearest(
            self.vertices.select(F.col(self.id_col), F.col("vec")),
            "vec", centers, "__ecell",
        ).withColumn("__ecell", F.col("__ecell").cast("long"))
        res = F.zip_with(F.col("vec"), F.col("__ecent"), lambda x, c: x - c)
        return assigned.join(cdf, "__ecell").select(
            F.col(self.id_col), F.col("__ecell"), res.alias("__res")
        )

    def to_partitioned(
        self,
        cells: int = 8,
        n_probe: int | None = 2,
        max_iter: int = 5,
        ef_serve: int | None = None,
        replicate_eps: float = 0.0,
        replicate_cap: int | None = None,
    ) -> "object":
        """Cell-partitioned serving of the merged graph — the scale path
        PAST ``SERVE_MAX_ROWS``: nothing corpus-sized ever materializes on
        any single node, driver included.

        The merged Vamana artifact (vertices + pruned adjacency) is cut
        into ``cells`` spatial cells: k-means centroids train with the
        exact build_routed recipe (id-ordered seeds, bounded id-sorted
        sample), every vertex routes to its SINGLE nearest centroid
        (literal argmin — cells are disjoint), and each cell becomes one
        single-layer _Graph shell over its members with the merged
        adjacency RESTRICTED to in-cell edges (cross-cell edges cannot be
        followed inside a cell walk, so they are dropped rather than left
        dangling). Each shell's entry point is the member nearest its cell
        centroid ((distance, id) ties). The result is a routed
        ``ShardedHNSW`` — probe/search_batch/filtered/rerank serving,
        n_probe cell pruning, and bounded per-task memory all come from
        the tested serving machinery; per-cell blobs are pickled in packed
        form (_Graph.pack).

        Semantics: this is SPANN-style cell serving over Vamana edges —
        results can differ from the full-graph walk near cell boundaries
        (recall governed by cells/n_probe, threshold-tested), and the
        whole construction is deterministic, replayed bit-exactly by
        ``offline_vamana_partitioned``. A PQ-quantized index carries its
        frozen codebooks into every cell shell (serve with
        ``probe(rerank=...)`` for exact distances).

        ``replicate_eps`` > 0 enables SPANN-style closure assignment
        (boundary replication, the build_routed recipe one tier over): a
        vertex joins EVERY cell whose squared centroid distance is within
        (1+eps)² of its minimum — capped at its ``replicate_cap`` nearest
        cells (route_overlap's replica bound; SPANN uses ≤8) — so the
        in-cell edge restriction keeps a boundary vertex's neighborhood
        alive in all the cells that border it. An edge survives in a cell
        iff BOTH endpoints are assigned there, so replicated copies carry
        real local adjacency, not dangling stubs. Serving dedups ids
        across cells (``params['replicated']`` → the probe/search_batch
        windows already handle replicated builds). Motivation: the r10
        ef sweep showed restricted shells under-explore because cross-cell
        edges are DROPPED — replication converts the boundary edges the
        degree budget was spent around back into in-cell edges instead of
        paying for their loss with a deeper beam every query."""
        import pickle

        import pandas as pd
        from pyspark.sql import functions as F

        from ..shipping import ensure_package_on_workers
        from .hnsw import ShardedHNSW
        from .ivfflat import IVFFlatIndex, _lloyds_numpy

        # fail fast, BEFORE the centroid-training pass
        if replicate_eps < 0:
            raise ValueError(
                "replicate_eps must be >= 0 (0 = disjoint cells; a "
                "negative ball would silently degrade to disjoint)"
            )
        replicate_cap = (
            self.REPLICATE_CAP_DEFAULT if replicate_cap is None
            else int(replicate_cap)
        )
        if replicate_cap < 1:
            raise ValueError("replicate_cap must be >= 1")
        spark = self._spark
        ensure_package_on_workers(spark)
        id_col = self.id_col
        n = self.vertices.count()
        if n < cells:
            raise ValueError(f"index has fewer than cells={cells} vertices")
        # same r13 job fusion as VamanaIndex.build: dim from a one-row
        # probe, seeds from the training collect on the full-table path
        dim = len(self.vertices.select("vec").first()["vec"])
        frac = min(1.0, IVFFlatIndex.DRIVER_TRAIN_MAX_CELLS / max(n * dim, 1))
        if frac >= 1.0:
            sample = self.vertices.select(
                F.col(id_col).alias("__id"), F.col("vec").alias("v")
            )
            srows = sorted(sample.collect(), key=lambda row: row["__id"])
            init = [list(row["v"]) for row in srows[:cells]]
        else:
            seeds = (
                self.vertices.orderBy(id_col).limit(cells).select("vec").collect()
            )
            init = [list(r["vec"]) for r in seeds]
            sample = self.vertices.sample(
                fraction=frac,
                seed=self.params.get("seed", 42) if self.params else 42,
            ).select(F.col(id_col).alias("__id"), F.col("vec").alias("v"))
            srows = sorted(sample.collect(), key=lambda row: row["__id"])
        centroids = _lloyds_numpy([list(row["v"]) for row in srows], init, max_iter)

        if replicate_eps > 0:
            # SPANN closure assignment: ball ∩ top-replicate_cap ∪ top-1,
            # fold-exact threshold (route_overlap's numpy kernel — the
            # same rule the offline replay re-derives per row)
            from .ivfflat import route_overlap

            cellmap = route_overlap(
                self.vertices, id_col, "vec", centroids,
                (1.0 + replicate_eps) ** 2, out_col="__cell",
                max_lists=replicate_cap,
            ).withColumn("__cell", F.col("__cell").cast("long"))
        else:
            from .ivfflat import assign_nearest

            cellmap = assign_nearest(
                self.vertices, "vec", centroids, "__cell"
            ).withColumn("__cell", F.col("__cell").cast("long"))
        # merged adjacency restricted to in-cell edges, original rank
        # order; with replication a vertex has one neighbor list PER
        # assigned cell (an edge lives in a cell iff both endpoints do),
        # so the list is keyed (id, cell), not id
        src_cell = cellmap.select(F.col(id_col), "__cell")
        ex = self.edges.select(
            F.col(id_col), F.posexplode("neighbors").alias("__pos", "__dst")
        )
        dst_cell = src_cell.select(
            F.col(id_col).alias("__dst"), F.col("__cell").alias("__dcell")
        )
        kept = (
            ex.join(src_cell, id_col)
            .join(dst_cell, "__dst")
            .filter(F.col("__cell") == F.col("__dcell"))
            .groupBy(id_col, "__cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__dst"))),
                    lambda s: s["__dst"],
                ).alias("__nbs")
            )
        )
        grp = cellmap.join(kept, [id_col, "__cell"], "left")

        p = self.params or {}
        r_deg = p.get("r", 16)
        efc = p.get("ef_construction", 48)
        # shells serve at a DEEPER beam than the merged build's ef_search:
        # restricting the adjacency to in-cell edges deletes the
        # cross-cell paths RobustPrune's degree budget was spent around,
        # so at the same ef the restricted walk under-explores — measured
        # at 1.2M x 64 cells (drills/drill_1200k_r10_part_ef_ab.json):
        # recall 0.86 / 0.932 / 0.974 at ef 48 / 96 / 192 with flat batch
        # wall-clock (reachability was fully repaired in every
        # configuration; beam DEPTH was the binding constraint, and it
        # recovers the merged graph's 0.978 at 192). WITH (ef_serve=N) /
        # the ef_serve argument pins it.
        efs = (
            int(ef_serve)
            if ef_serve is not None
            else max(int(p.get("ef_search", 48)), self.PARTITIONED_EF_SERVE)
        )
        seed = p.get("seed", 42)
        # a PQ-quantized index's storage form rides into every shell: its
        # frozen codebooks and, for residual PQ, the FULL frozen
        # entry-cell center set (per-member cells assign fold-exactly
        # inside _Graph, matching the distributed __ecell fold)
        form = {
            key: p[key] for key in ("pq_books", "pq_bounds", "pq_centers")
            if p.get(key) is not None
        }

        def build_shell(key, pdf):  # no hints: partial hints trip a pyspark eval-type warning
            pdf = pdf.sort_values(id_col)
            ids = pdf[id_col].tolist()
            mat = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            g = _Graph(r_deg, efc, efs, "l2", seed)
            g.ids = list(ids)
            g.vecs = mat
            g._refresh_norms()
            idmap = {e: i for i, e in enumerate(ids)}
            layer0: dict[int, list[int]] = {i: [] for i in range(len(ids))}
            for i, nbs in enumerate(pdf["__nbs"].tolist()):
                if nbs is not None and len(nbs):
                    layer0[i] = [idmap[d] for d in nbs]
            g.edges = [layer0]
            c = np.asarray(centroids[int(key[0])], dtype=np.float64)
            d = np.linalg.norm(mat - c, axis=1)
            g.entry = min(range(len(ids)), key=lambda i: (d[i], ids[i]))
            eps = _cell_entry_points(mat, ids)
            if eps:
                g.entry_points = eps
            _attach_unreached(layer0, mat, g.entry, eps)
            _quantize_shard(g, form)
            g.pack()
            return pd.DataFrame(
                {"shard": [int(key[0])], "blob": [pickle.dumps(g)]}
            )

        # pin the shell-build stage's parallelism (CPU-bound Python work;
        # see hnsw._pin_cpu_groups for the AQE byte-coalescing rationale)
        blobs = _pin_cpu_groups(grp, "__cell").groupBy("__cell").applyInPandas(
            build_shell, "shard long, blob binary"
        )
        params = dict(
            form, m=r_deg, ef_construction=efc, ef_search=efs, seed=seed,
            replicated=replicate_eps > 0, frozen="vamana-partitioned",
            ops_dist=self.dist, n_probe=n_probe,
        )
        if self.dist == "ip":
            params["ip_m2"] = p["ip_m2"]
        if form:
            # quantized vamana-partitioned shells default to the DEEP
            # rerank shortlist (r11): with the visited-set harvest the
            # depth no longer widens the walk beam, and the 1.2M drill
            # measured 0.856@16 -> 0.944@48 at FLAT batch cost (5.7s ->
            # 5.2s, drills/drill_1200k_r11_harvest.json vamana-extra
            # legs). WITH (rerank_mult=N) / the serve-time arg still win.
            params.setdefault("rerank_mult_default", 48)
        # an eager checkpoint leaf the artifact owns (see build_routed)
        inner = ShardedHNSW(
            self.vec_col, id_col, "l2", blobs.localCheckpoint(eager=True), spark,
            centroids=centroids, id_type=self.id_type,
            default_n_probe=n_probe, params=params,
        )
        if self.dist == "l2":
            return inner
        # cosine/ip artifacts: the cells hold TRANSFORMED vectors and the
        # walks are angular/augmented l2 — wrap in the ops-class facade so
        # probes take RAW queries and return similarities/inner products
        # (the planner and any caller probe it like every other index)
        return PartitionedVamanaServing(
            inner, self.dist, p.get("ip_m2"), vertices=self.vertices
        )

    # -- serving -----------------------------------------------------------
    def _graph(self) -> _Graph:
        """Materialize the flat graph into the driver once (guarded) as a
        single-layer _Graph shell, so probes reuse the tested greedy
        beam-search walk. The cap mirrors the HNSW driver-build guard: a
        corpus past SERVE_MAX_ROWS belongs on a dedicated search node
        loading the save()d parquet artifact, not in this driver."""
        if self._driver_graph is not None:
            return self._driver_graph
        cap = self.serve_cap()
        over = self.vertices.limit(cap + 1).count()
        if over > cap:
            raise ValueError(
                f"vamana serving materializes the graph: > {cap} rows "
                f"(cap is width-aware: {'PQ codes' if 'pq_books' in (self.params or {}) else 'unquantized float64 vectors'}); "
                "quantize_pq() raises the ceiling to "
                f"{self.SERVE_MAX_ROWS}, or serve via to_partitioned() / "
                "load the saved artifact on a dedicated search node"
            )
        p = self.params or {}
        # walks are ALWAYS l2: a cosine index stores unit vectors, where
        # l2 order == cosine order (build normalized them)
        g = _Graph(
            p.get("r", 16), p.get("ef_construction", 48),
            p.get("ef_search", 48), "l2", p.get("seed", 42),
        )
        if "pq_books" in p:
            # PQ serving: encode distributed (Arrow batches), collect only
            # (id, codes) — m bytes/vector on the search node, never floats
            from ..similarity.pq import PQModel

            model = PQModel(
                [np.asarray(b, dtype=np.float64) for b in p["pq_books"]],
                [(int(s), int(e)) for s, e in p["pq_bounds"]],
            )
            if p.get("pq_centers") is not None:
                # residual codes: encode x − entry_center[cell(x)]
                # distributed, collect (id, cell, codes) — decode adds the
                # frozen center back (_Graph._mat_rows)
                rows = sorted(
                    model.encode(
                        self.residual_source(), "__res", self.id_col,
                        keep=("__ecell",),
                    ).collect(),
                    key=lambda row: row[self.id_col],
                )
                g.pq_centers = np.asarray(p["pq_centers"], dtype=np.float64)
                g.pq_cell = np.asarray(
                    [int(row["__ecell"]) for row in rows], dtype=np.int64
                )
            else:
                rows = sorted(
                    model.encode(self.vertices, "vec", self.id_col).collect(),
                    key=lambda row: row[self.id_col],
                )
            g.ids = [row[self.id_col] for row in rows]
            g.pq_books = model.centroids
            g.pq_bounds = model.bounds
            g.pq_codes = np.asarray(
                [list(row["codes"]) for row in rows], dtype=np.uint8
            )
            g._refresh_norms()
        else:
            verts = sorted(
                self.vertices.collect(), key=lambda row: row[self.id_col]
            )
            g.ids = [row[self.id_col] for row in verts]
            g.vecs = np.asarray(
                [list(row["vec"]) for row in verts], dtype=np.float64
            )
            g._refresh_norms()
        idmap = {ext: i for i, ext in enumerate(g.ids)}
        layer0: dict[int, list[int]] = {i: [] for i in range(len(g.ids))}
        for row in self.edges.collect():
            layer0[idmap[row[self.id_col]]] = [
                idmap[d] for d in row["neighbors"]
            ]
        g.edges = [layer0]
        g.entry = idmap[self.entry]
        eids = (self.params or {}).get("entry_ids")
        if eids:
            # multi-entry beam seeds (see build): _Graph.search picks
            # these up automatically; batch serving broadcasts them
            # inside the pickled graph
            g.entry_points = [idmap[e] for e in eids if e in idmap]
        # packed serving form: edge lists as offsets+flat int32 (and int
        # ids as an int64 array) — the R×n edge dicts, not the PQ codes,
        # would otherwise dominate the search node / broadcast footprint
        # (~50-100 resident bytes per edge vs 4). Walks are bit-identical.
        g.pack()
        self._driver_graph = g
        return g

    def probe(
        self,
        query: list[float],
        k: int,
        ef: int | None = None,
        dist_col: str = "distance",
        allowed=None,
        rerank_mult: int = 48,
    ):
        """Top-k beam search over the merged graph → small DataFrame
        (id, dist_col), same output contract as HNSWIndex.probe.
        ``allowed`` (iterable of ids or a one-column DataFrame) runs the
        filtered walk — serving here is already driver-materialized and
        guarded by SERVE_MAX_ROWS, so an allowed set bounded by the same
        cap collects consistently. ``rerank_mult`` sizes the ADC
        shortlist on PQ-quantized graphs (k·rerank_mult candidates
        HARVESTED FROM THE WALK'S VISITED SET before the exact rerank —
        the beam itself stays at the configured ef; ignored unquantized).
        Default 48, measured at the 1.2M clustered drill
        (drills/drill_1200k_r10_part_ef_ab.json pqr_merged_grid):
        recall@10 0.56 / 0.864 / 0.948 at rerank 4 / 16 / 48 with FLAT
        serving wall-clock, while ef-scaling at shallow rerank moved
        nothing (0.56 at ef 256) — within-cluster ADC ordering, not walk
        exploration, is the quantized merged tier's binding constraint at
        density — the rerank join stays broadcast-sized at any depth
        here. (r11: shortlist depth no longer widens the beam —
        _Graph.search(shortlist=...) harvests the visited set, so deep
        rerank costs ~nothing extra; re-measured at 1.2M, see
        drills/drill_1200k_r11_harvest.json.)"""
        g = self._graph()
        allowed_ids = None
        if allowed is not None:
            if hasattr(allowed, "collect"):
                allowed_ids = {row[0] for row in allowed.collect()}
            else:
                allowed_ids = set(allowed)
        quantized = "pq_books" in (self.params or {})
        by_sim = self.dist in ("cosine", "ip")  # similarity ops classes
        q = _prep_query(self.dist, [float(x) for x in query])
        hits = g.search(
            np.asarray(q, dtype=np.float64), k, ef=ef,
            allowed_ids=allowed_ids,
            shortlist=k * rerank_mult if quantized else None,
        )
        if not quantized:
            if by_sim:
                # output = EXACT similarities (fold-exact dot against the
                # stored unit/augmented vectors — replayed identically
                # offline), (sim desc, id asc); walk membership is decided
                # by the l2 walk
                sims = _sims_for_ids(g, [h for h, _ in hits], q)
                rows = sorted(zip((h for h, _ in hits), sims),
                              key=lambda t: (-t[1], t[0]))[:k]
                return self._spark.createDataFrame(
                    [(h, float(s)) for h, s in rows],
                    f"{self.id_col} {self.id_type}, {dist_col} double",
                )
            return self._spark.createDataFrame(
                [(h, float(d)) for h, d in hits],
                f"{self.id_col} {self.id_type}, {dist_col} double",
            )
        # ADC shortlist -> EXACT rerank: tiny id list joins the parquet
        # vertices; l2 indexes rank by the l2 fold asc,
        # cosine/ip indexes by the inner-product fold against the
        # unit/augmented query desc (unit vertices: dot == cosine;
        # augmented vertices vs [q, 0]: dot == exact x.q)
        from pyspark.sql import functions as F

        from ..functions.vector import inner_product, l2_dist

        short = self._spark.createDataFrame(
            [(h,) for h, _ in hits], f"{self.id_col} {self.id_type}"
        )
        if by_sim:
            exact = inner_product("vec", q).alias(dist_col)
            order = [F.col(dist_col).desc(), F.col(self.id_col).asc()]
        else:
            exact = l2_dist("vec", q).alias(dist_col)
            order = [F.col(dist_col).asc(), F.col(self.id_col).asc()]
        return (
            self.vertices.join(F.broadcast(short), self.id_col)
            .select(F.col(self.id_col), exact)
            .orderBy(*order)
            .limit(k)
        )

    def search_batch(
        self,
        queries,
        query_vec: str,
        qid_col: str,
        k: int,
        dist_col: str = "distance",
        rerank_mult: int = 32,
    ):
        """Distributed batch serving over the merged graph: the (guarded)
        driver graph broadcasts ONCE — with PQ serving that broadcast is
        16 B/vec codes, small enough to sit on every executor — and the
        query DataFrame streams through mapInPandas (Arrow batches), one
        beam walk per query. Unquantized graphs emit exact walk distances
        directly; PQ graphs emit a k·rerank_mult ADC shortlist that joins
        the parquet vertices + query vectors for EXACT distances and a
        per-query windowed top-k (the same serving shape as
        ShardedHNSW.search_batch(rerank=...)).

        Shortlist depth (``rerank_mult``, default 32 here vs 48 on
        probe()) no longer prices into the walk: r11 harvests the
        k·rerank_mult ADC candidates from the walk's VISITED SET at the
        configured ef (_Graph.search(shortlist=...)) instead of widening
        the beam to k·rerank_mult — the r10 coupling made the sf0.1 bench
        key 2.4× slower for recall the visited set already contained.
        Deep rerank now costs only a larger broadcast join, so the batch
        default sits at the measured knee: 1.2M harvest ladder recall
        0.832/0.90/0.936/0.952 at rerank 16/24/32/48 with sf0.1 bench
        1.93/1.95/2.26/3.08 s (drills/drill_1200k_r11_harvest.json) —
        32 buys 10pt recall over the r10-shipped 16 for ~0.3 s."""
        import pandas as pd
        from pyspark.sql import Window, functions as F

        from ..functions.vector import l2_dist
        from ..shipping import ensure_package_on_workers

        spark = queries.sparkSession
        ensure_package_on_workers(spark)
        g = self._graph()
        bc = spark.sparkContext.broadcast(g)
        quantized = "pq_books" in (self.params or {})
        by_sim = self.dist in ("cosine", "ip")
        n_short = k * rerank_mult if quantized else None
        id_col, idt = self.id_col, self.id_type
        qschema = {f.name: f.dataType.simpleString() for f in queries.schema}
        schema = f"{qid_col} {qschema[qid_col]}, {id_col} {idt}, __wd double"
        qcast = F.col(query_vec).cast("array<double>")
        if self.dist == "cosine":
            qprep = _normalize_expr(query_vec)
        elif self.dist == "ip":
            qprep = F.concat(qcast, F.array(F.lit(0.0)))  # [q, 0]
        else:
            qprep = qcast
        qsel = queries.select(F.col(qid_col), qprep.alias("__qv"))
        # the per-query beam walks below parallelize over query partitions
        # — spread a single-split query table first (see _spread_queries)
        walk_src = _spread_queries(qsel)

        def run(batches):
            graph = bc.value
            for pdf in batches:
                hit_ids: list = []
                hit_dists: list = []
                rep_idx: list = []
                for i, qv in enumerate(pdf["__qv"].tolist()):
                    # np.array (COPY): a float64 Arrow slice fed zero-copy
                    # into the walk's BLAS matmul can sum in a different
                    # SIMD order than the driver/offline's fresh aligned
                    # buffers — observed 1-ulp distance drift flipping
                    # round-8 oracle digits. A fresh allocation pins the
                    # same kernel everywhere.
                    hits = graph.search(
                        np.array(qv, dtype=np.float64), k, shortlist=n_short
                    )
                    ids_only = [h[0] for h in hits]
                    if by_sim and not quantized:
                        # exact similarities from the stored unit/augmented
                        # vectors (same fold-exact dot as probe / offline)
                        hit_dists.extend(_sims_for_ids(graph, ids_only, qv))
                    else:
                        hit_dists.extend(h[1] for h in hits)
                    hit_ids.extend(ids_only)
                    rep_idx.extend([i] * len(hits))
                out = pdf.iloc[rep_idx][[qid_col]].reset_index(drop=True)
                out[id_col] = hit_ids
                out["__wd"] = np.asarray(hit_dists, dtype=np.float64)
                yield out

        walked = walk_src.mapInPandas(run, schema)
        if not quantized:
            # cosine/ip: __wd already holds the exact similarities for the
            # walk's k hits (membership decided by the l2 walk — no extra
            # shuffle needed to re-rank k rows per query)
            return walked.select(
                qid_col, id_col, F.col("__wd").alias(dist_col)
            )
        from ..functions.vector import inner_product

        exact = (
            inner_product("vec", "__qv")
            if by_sim
            else l2_dist("vec", "__qv")
        ).alias(dist_col)
        w = Window.partitionBy(qid_col).orderBy(
            F.col(dist_col).desc() if by_sim else F.col(dist_col).asc(),
            F.col(id_col).asc(),
        )
        return (
            walked.select(qid_col, id_col)
            .join(self.vertices, id_col)
            .join(qsel, qid_col)
            .select(qid_col, id_col, exact)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    def insert(self, df) -> "VamanaIndex":
        """Refused by design: the merged graph is a BATCH artifact — its
        edge set is a global prune over all clusters, and splicing rows in
        afterward would silently degrade the degree-bound/recall contract.
        For continuous ingestion migrate to the routed ShardedHNSW tier
        (:meth:`to_routed_ingest` is the one-liner; its insert is
        driver-gated and has a streaming foreachBatch twin), and rebuild
        the merged artifact on the pipeline's cadence."""
        raise ValueError(
            "vamana is a batch-build artifact; migrate to the ingestible "
            "routed tier with index.to_routed_ingest() (ShardedHNSW.insert "
            "/ streaming.ann_ingest take it from there) and rebuild the "
            "merged graph on schedule"
        )

    def to_routed_ingest(
        self,
        shards: int = 8,
        n_probe: int | None = 2,
        max_iter: int = 5,
        replicate_eps: float = 0.0,
    ):
        """Migrate to the INGESTIBLE serving tier — the one-liner every
        vamana insert refusal points at: rebuild a routed ``ShardedHNSW``
        (whose ``insert`` / ``streaming.ann_ingest`` accept continuous
        rows) from this index's stored vertices, preserving the ops class.

        Vector recovery from the stored (transformed) vertices is exact
        for every ops class: l2 vertices are stored raw; cosine vertices
        are stored unit-normalized and cosine is normalization-invariant,
        so raw queries return the same similarities; ip vertices carry the
        MIPS augmentation coordinate appended LAST by the lossless concat
        in :meth:`build`, so slicing it off recovers the raw vectors
        bit-exactly and the routed tier's native MIPS walk serves them (no
        frozen M² carried over — inserts would invalidate it anyway).

        The result serves the same corpus with the ROUTED tier's
        semantics (per-shard HNSW graphs, n_probe centroid pruning) —
        recall characteristics are that tier's own, threshold-tested in
        tests/test_hnsw.py, not the merged graph's. Use it when ingestion
        matters more than the batch artifact's walk quality; rebuild the
        merged graph on the pipeline's cadence."""
        from pyspark.sql import functions as F

        from .hnsw import HNSWIndex

        p = self.params or {}
        vec = F.col("vec")
        if self.dist == "ip":
            first = self.vertices.select("vec").head(1)
            stored_dim = int(p.get("dim") or (len(first[0][0]) if first else 1))
            vec = F.slice(vec, 1, stored_dim - 1)
        src = self.vertices.select(F.col(self.id_col), vec.alias(self.vec_col))
        out = HNSWIndex.build_routed(
            src, self.vec_col, self.id_col, shards=shards,
            m=p.get("m", 8),
            ef_construction=p.get("ef_construction", 48),
            ef_search=p.get("ef_search", 48),
            dist=self.dist, seed=p.get("seed", 42), max_iter=max_iter,
            replicate_eps=replicate_eps,
        )
        if n_probe is not None:
            out.default_n_probe = int(n_probe)
        return out

    # -- persistence -------------------------------------------------------
    def save(self, path: str) -> None:
        import json

        self.vertices.write.mode("overwrite").parquet(f"{path}/vertices")
        self.edges.write.mode("overwrite").parquet(f"{path}/edges")
        meta = self._spark.createDataFrame(
            [(self.vec_col, self.id_col, self.dist, str(self.entry),
              self.id_type, json.dumps(self.params or {}))],
            "vec_col string, id_col string, dist string, entry string, "
            "id_type string, params string",
        )
        meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "VamanaIndex":
        import json

        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        entry: object = meta["entry"]
        if meta["id_type"] in ("bigint", "int", "long", "smallint", "tinyint"):
            entry = int(entry)
        return cls(
            meta["vec_col"], meta["id_col"], meta["dist"],
            spark.read.parquet(f"{path}/vertices"),
            spark.read.parquet(f"{path}/edges"),
            entry, spark, id_type=meta["id_type"],
            params=json.loads(meta["params"]),
        )


def offline_vamana(
    parquet_path: str,
    vec_col: str,
    id_col: str,
    shards: int = 4,
    m: int = 8,
    ef_construction: int = 48,
    ef_search: int = 48,
    overlap_eps: float = 0.2,
    r: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    dist: str = "l2",
    min_lists: int = 2,
    alpha: float = 1.2,
    max_lists: int = 4,
    entry_points: int | None = None,
) -> _Graph:
    """Replay ``VamanaIndex.build`` without Spark: same centroids, same
    overlap routing fold arithmetic (eps-ball ∪ min_lists closest, (d, b)
    tie order), same id-sorted sub-graph builds, same
    symmetrized union, the SAME ``_robust_prune`` kernel the Spark
    workers run (shared function — bit-identical edge sets by
    construction), same pseudo-medoid entry, same multi-entry seed cells
    (dedicated k-means at 4x shards capped 512, per-cell (distance, id)
    medoid — the r8 navigability fix). ``dist="cosine"``
    replays the normalize-then-l2 build (same _normalize_row floats the
    Spark expression stores). Returns the driver-serving _Graph shell —
    probes on it match probe() bit-exactly. Valid only on inputs small
    enough for the full-table training path."""
    from .hnsw import _read_sorted
    from .ivfflat import IVFFlatIndex, _lloyds_numpy

    ids, vecs = _read_sorted(parquet_path, vec_col, id_col)
    if dist not in ("l2", "cosine", "ip"):
        raise ValueError("offline_vamana replays l2, cosine and ip builds")
    vecs = _transform_rows(dist, vecs)
    n, dim = len(vecs), len(vecs[0]) if vecs else 0
    if n * dim > IVFFlatIndex.DRIVER_TRAIN_MAX_CELLS:
        raise ValueError("offline_vamana only replicates the full-table training path")
    if n < shards:
        raise ValueError(f"table has fewer than shards={shards} rows")
    centroids = _lloyds_numpy(vecs, [list(v) for v in vecs[:shards]], max_iter)

    thr_mult = (1.0 + overlap_eps) ** 2
    ml = min(min_lists, shards)
    members: dict[int, tuple[list, list]] = {}
    for i, v in zip(ids, vecs):
        dists = [fold.l2_sq(v, c) for c in centroids]
        thr = min(dists) * thr_mult
        ranked = [b for _, b in sorted((d, b) for b, d in enumerate(dists))]
        top = set(ranked[:ml])
        cap = set(ranked[:max_lists]) if max_lists is not None else set(ranked)
        for b, d in enumerate(dists):
            if (d <= thr and b in cap) or b in top:
                members.setdefault(b, ([], []))[0].append(i)
                members[b][1].append(v)

    pairs: set = set()
    for b, (mids, mvecs) in sorted(members.items()):
        g = _Graph(m, ef_construction, ef_search, "l2", seed)
        g.add_all(mids, np.asarray(mvecs, dtype=np.float64))
        for v, nbs in g.edges[0].items():
            for nb in nbs:
                pairs.add((g.ids[v], g.ids[nb]))
    sym = pairs | {(d, s) for s, d in pairs}

    by_id = dict(zip(ids, vecs))

    adj_ext: dict = {}
    cand_by_src: dict = {}
    for s, d in sym:
        cand_by_src.setdefault(s, []).append(d)
    for s, cands in cand_by_src.items():
        adj_ext[s] = _robust_prune(
            np.asarray(by_id[s], dtype=np.float64),
            cands,
            np.asarray([by_id[d] for d in cands], dtype=np.float64),
            r, float(alpha),
        )

    pm = _centroid_mean(centroids)
    entry_ext = min(ids, key=lambda i: (fold.exact("l2", by_id[i], pm), i))

    # multi-entry seeds — the SAME shared kernel the Spark build's
    # full-table path runs (_cell_entry_points: id-ordered k-means init,
    # fold-exact first-min assignment, lowest-id medoid ties), so the
    # seeds are identical by construction
    if entry_points is None:
        entry_points = min(512, 4 * shards)
    entry_points = min(int(entry_points), n)
    entry_point_exts: list = []
    if entry_points > 1:
        smat = np.asarray(vecs, dtype=np.float64)
        eidx = _cell_entry_points(
            smat, list(ids), max_entries=entry_points, max_iter=max_iter
        )
        entry_point_exts = [ids[i] for i in eidx]

    g = _Graph(r, ef_construction, ef_search, "l2", seed)
    order = sorted(ids)
    g.ids = list(order)
    g.vecs = np.asarray([by_id[i] for i in order], dtype=np.float64)
    g._refresh_norms()
    idmap = {ext: i for i, ext in enumerate(order)}
    layer0: dict[int, list[int]] = {i: [] for i in range(len(order))}
    for s, nbs in adj_ext.items():
        layer0[idmap[s]] = [idmap[d] for d in nbs]
    g.edges = [layer0]
    g.entry = idmap[entry_ext]
    if entry_point_exts:
        g.entry_points = [idmap[e] for e in entry_point_exts]
    return g


def offline_vamana_partitioned(
    parquet_path: str,
    vec_col: str,
    id_col: str,
    cells: int = 8,
    cells_max_iter: int = 5,
    model=None,
    graph: _Graph | None = None,
    pq_centers=None,
    ef_serve: int | None = None,
    replicate_eps: float = 0.0,
    replicate_cap: int | None = None,
    **build_kw,
) -> tuple[list, dict]:
    """Replay ``VamanaIndex.build(...).to_partitioned(cells=...)`` without
    Spark: same merged adjacency (offline_vamana), same cell-centroid
    training recipe (id-ordered seeds + full-table id-sorted training),
    same first-min fold routing as the Spark argmin, same in-cell edge
    restriction in prune-rank order, same numpy entry selection
    ((distance, id) ties), optional same frozen-codebook PQ quantization.
    ``replicate_eps``/``replicate_cap`` mirror the SPANN closure
    assignment (ball ∩ top-cap ∪ top-1 over fold-exact squared
    distances — route_overlap's exact rule, so replicated cuts replay
    bit-exactly too). Returns (cell_centroids, {cell: _Graph shell}) —
    probes replay with ``hnsw.offline_routed_search``, matching the
    returned ShardedHNSW bit-exactly. Valid only on inputs
    small enough for the full-table training path."""
    from .hnsw import _read_sorted
    from .ivfflat import IVFFlatIndex, _lloyds_numpy

    # ``graph``: a prebuilt offline_vamana replay (read-only here) — the
    # merge build is the expensive part, and oracle memos share it
    g = graph if graph is not None else offline_vamana(
        parquet_path, vec_col, id_col, **build_kw
    )
    ids, vecs = _read_sorted(parquet_path, vec_col, id_col)
    # cells train/route over the same transformed vectors the Spark
    # to_partitioned sees (its vertices are stored unit/augmented)
    vecs = _transform_rows(build_kw.get("dist", "l2"), vecs)
    n, dim = len(vecs), len(vecs[0]) if vecs else 0
    if n * dim > IVFFlatIndex.DRIVER_TRAIN_MAX_CELLS:
        raise ValueError(
            "offline_vamana_partitioned only replicates the full-table "
            "training path"
        )
    if n < cells:
        raise ValueError(f"index has fewer than cells={cells} vertices")
    centroids = _lloyds_numpy(vecs, [list(v) for v in vecs[:cells]], cells_max_iter)

    if replicate_cap is None:
        replicate_cap = VamanaIndex.REPLICATE_CAP_DEFAULT
    members: dict[int, list] = {}
    for i, v in zip(ids, vecs):
        dists = [fold.l2_sq(v, c) for c in centroids]
        if replicate_eps > 0:
            # closure assignment: ball ∩ top-replicate_cap ∪ top-1, ties
            # on (d, cell) — route_overlap's exact rule over the same
            # fold-exact squared distances
            order = sorted(range(len(dists)), key=lambda b: (dists[b], b))
            thr = dists[order[0]] * (1.0 + replicate_eps) ** 2
            capped = set(order[:replicate_cap])
            for b in order:
                if b == order[0] or (dists[b] <= thr and b in capped):
                    members.setdefault(b, []).append(i)
        else:
            members.setdefault(dists.index(min(dists)), []).append(i)

    adj_ext = {
        g.ids[v]: [g.ids[d] for d in nbs] for v, nbs in g.edges[0].items()
    }
    by_vec = dict(zip(ids, vecs))
    r_deg = build_kw.get("r", 16)
    efc = build_kw.get("ef_construction", 48)
    # same serving-beam floor derivation as to_partitioned (shells serve
    # deeper than the merged build's ef_search — see PARTITIONED_EF_SERVE)
    efs = (
        int(ef_serve)
        if ef_serve is not None
        else max(
            int(build_kw.get("ef_search", 48)),
            VamanaIndex.PARTITIONED_EF_SERVE,
        )
    )
    seed = build_kw.get("seed", 42)
    # the same storage-form record to_partitioned's shells carry
    form = (
        _storage_form("pq", model=model, pq_centers=pq_centers)
        if model is not None else {}
    )
    graphs: dict[int, _Graph] = {}
    for b, mids in sorted(members.items()):
        mids = sorted(mids)
        cellset = set(mids)
        mat = np.asarray([by_vec[i] for i in mids], dtype=np.float64)
        sg = _Graph(r_deg, efc, efs, "l2", seed)
        sg.ids = list(mids)
        sg.vecs = mat
        sg._refresh_norms()
        idmap = {e: k for k, e in enumerate(mids)}
        layer0: dict[int, list[int]] = {}
        for k, e in enumerate(mids):
            layer0[k] = [idmap[d] for d in adj_ext.get(e, []) if d in cellset]
        sg.edges = [layer0]
        c = np.asarray(centroids[b], dtype=np.float64)
        d = np.linalg.norm(mat - c, axis=1)
        sg.entry = min(range(len(mids)), key=lambda k: (d[k], mids[k]))
        eps = _cell_entry_points(mat, mids)
        if eps:
            sg.entry_points = eps
        _attach_unreached(layer0, mat, sg.entry, eps)
        _quantize_shard(sg, form)
        graphs[b] = sg
    return centroids, graphs


def offline_vamana_search(
    g: _Graph,
    queries: list[tuple],
    k: int,
    dist: str = "l2",
    allowed_ids: set | None = None,
    rerank: tuple | None = None,
) -> list[tuple]:
    """Replay ``VamanaIndex.probe`` and ``search_batch`` on an
    offline_vamana graph (a point probe is a batch of one): one walk per
    (qid, vec) query.

    - l2: the walk's exact distances, in walk order; ``allowed_ids``
      replays the filtered walk.
    - cosine / ip (the graph of ``offline_vamana(dist=...)``): the same
      query prep as the build and serving (:func:`_prep_query`), an l2
      walk, then EXACT similarities by the fold-exact dot over the stored
      transformed rows (:func:`_sims_for_ids`), (similarity desc, id).
    - ``rerank=(vectors_by_id, rerank_mult, ef)``: the PQ serving shape of
      ``quantize_pq(model)`` on an l2 graph (quantize a fresh replay first,
      ``hnsw.offline_quantize({0: g}, "pq", ...)``): the k·rerank_mult
      shortlist is harvested from the visited set of a walk at ``ef``
      (None = the configured ef — the same _Graph.search(shortlist=...)
      call the Spark path makes) and reranks with the exact left-fold l2
      Spark evaluates, (d, id)-ordered.

    Returns [(qid, id, distance or similarity)]."""
    out = []
    for qid, qv in queries:
        qn = list(qv) if dist == "l2" else _prep_query(dist, [float(x) for x in qv])
        q = np.asarray(qn, dtype=np.float64)
        if rerank is not None:
            hits = g.search(
                q, k, ef=rerank[2], allowed_ids=allowed_ids,
                shortlist=k * rerank[1],
            )
            top = fold.exact_rerank("l2", rerank[0], [h for h, _ in hits], qv, k)
        elif dist == "l2":
            top = g.search(q, k, allowed_ids=allowed_ids)
        else:
            hits = g.search(q, k, allowed_ids=allowed_ids)
            sims = _sims_for_ids(g, [h for h, _ in hits], qn)
            top = sorted(
                ((h, float(s)) for (h, _), s in zip(hits, sims)),
                key=lambda t: (-t[1], t[0]),
            )
        out += [(qid, h, float(d)) for h, d in top]
    return out
