"""IVFFlat — inverted-file vector index as a batch DataFrame job.

Reference semantics (src/storage/index/ivfflat_index.cpp):
  * build   — Lloyd's k-means over all vectors (fixed iteration count,
              deterministic init from the first ``lists`` rows, :77-90) →
              ``lists`` centroids; every vector is assigned to its nearest
              centroid's bucket (:46-57).
  * probe   — rank centroids by distance to the query, take the nearest
              ``probe_lists`` buckets, per-bucket top-k, global top-k merge
              (:104-144).
  * insert  — append to the nearest bucket; centroids stay frozen (:92-95).

Spark-first re-expression (this is the reference capability that fits Spark
best — batch index construction):
  * The centroid set is tiny (lists × dim doubles) and lives on the driver /
    in one-node plan literals (``fold.sql_vecs_lit``); the
    *assignments* relation (id, bucket, vector) is the big distributed state
    and never leaves executors.
  * Assignment = argmin over the literal centroid table: one left-to-right
    pass over (l2², index) per row. No UDF, no shuffle.
  * Centroid recomputation = groupBy(bucket).agg(avg(vec[i]) per dimension) —
    map-side partial aggregation, one shuffle of lists×dim values per
    iteration regardless of data size.
  * Build stores the assignments as an eager local checkpoint: a leaf the
    index owns, which probe, batch probe and insert start from without
    re-analyzing the build's plan; ``shipping.release_checkpoint`` frees it.
  * Probe = bucket filter (partition-pruned when the assignments table is
    written partitioned by bucket) + TakeOrderedAndProject top-k.

At 100 TB: build cost is max_iter scans (each embarrassingly parallel);
lists should be ~sqrt(N). Every literal is one plan node whatever its size,
so plan analysis does not grow with lists × dim; execution does: the
literal argmin scores lists × dim cells per row in interpreted higher-order
functions, so past ``_LITERAL_ASSIGN_MAX_CELLS`` (65,536 cells, e.g. 256
centroids × 256 dims) the assignment switches to ``_assign_via_broadcast`` —
the centroid matrix broadcast once per executor, one numpy matmul argmin per
Arrow batch (20× faster at that size), zero shuffle. Probe touches only
probe_lists/lists of the data — with bucket-partitioned storage that is
partition pruning, not a filter scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from .. import fold

BUCKET_COL = "__bucket"


def _lloyds_numpy(
    vectors: list[list[float]], init: list[list[float]], max_iter: int
) -> list[list[float]]:
    """Driver-side Lloyd's k-means, semantics matching the reference
    (ivfflat_index.cpp:77-90): argmin ties -> lowest index (np.argmin),
    empty buckets keep their previous centroid, fixed iteration cap."""
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    cents = np.asarray(init, dtype=np.float64)
    for _ in range(max_iter):
        # ||x - c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant per row
        d = -2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)
        assign = np.argmin(d, axis=1)
        new = cents.copy()
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                new[j] = members.mean(axis=0)
        moved = float(np.abs(new - cents).max())
        cents = new
        if moved < 1e-9:
            break
    return cents.tolist()


def _nearest_centroid(vec: str, centroids: list[list[float]]) -> Column:
    """0-based index of the nearest centroid of the array<double> operand
    ``vec`` (SQL text; ties → lowest index, matching the reference's
    sequential argmin FindCentroid, ivfflat_index.cpp:46-57): one
    ``F.expr`` of :func:`fold.sql_nearest_l2` over the literal table."""
    return F.expr(fold.sql_nearest_l2(vec, fold.sql_vecs_lit(centroids)))


def nearest_buckets(dist: str, query_vec: str, centroids: list[list[float]], n: int) -> Column:
    """array<int> of the ``n`` nearest centroids of a ``query_vec`` column
    (``rank_buckets`` order): probe_batch and search_batch routing."""
    return F.expr(
        fold.sql_nearest_centroids(
            dist, fold.sql_operand(query_vec), fold.sql_vecs_lit(centroids), n
        )
    )


# literal-centroid assignment scores every row against lists × dim cells
# with interpreted higher-order functions; past this budget the broadcast
# numpy argmin runs instead. The literal is one plan node at any size, so the
# budget is execution time: over 2,000 rows (local[2]) the literal argmin
# executed in 8.4 s at 256×256 cells and 41 s at 1,024×256, the broadcast
# argmin in 0.4 s and 0.4-0.8 s (the two meet near 16×64: 0.30 against 0.35 s)
_LITERAL_ASSIGN_MAX_CELLS = 65_536


def _assign_via_broadcast(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out_col=None
) -> DataFrame:
    """Bucket assignment for LARGE centroid sets (lists ≈ √N at 100 TB can
    be 10k × 768 dims ≈ 60 MB — too slow to score per row in higher-order
    functions, and a cross-join against a centroid table would multiply
    rows ×lists).

    Broadcast the centroid matrix once per executor, argmin per Arrow batch
    with one matrix multiply (‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², row term
    constant) — a narrow map, zero shuffle, identical tie semantics to the
    literal path (np.argmin → lowest index)."""
    import numpy as np
    import pandas as pd

    from ..shipping import ensure_package_on_workers

    out_col = out_col or BUCKET_COL
    spark = df.sparkSession
    ensure_package_on_workers(spark)
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    from pyspark.sql import types as T

    cols = df.columns
    # NB: StructType.add MUTATES the df's cached schema (and then
    # mapInPandas resolves the phantom column against the input) — build a
    # fresh StructType instead
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def run(batches):
        cents = bc.value
        c_sq = (cents * cents).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue  # empty Arrow batch → 1-D empty array, matmul raises
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            d = -2.0 * (x @ cents.T) + c_sq
            out = pdf[cols].copy()
            out[out_col] = np.argmin(d, axis=1).astype("int32")
            yield out

    return df.mapInPandas(run, schema)


def assign_nearest(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out_col: str
) -> DataFrame:
    """Nearest-centroid assignment with the scale switch every routing
    consumer shares (IVF assignment, routed-HNSW builds and inserts,
    partitioned-vamana cells): the literal argmin up to
    ``_LITERAL_ASSIGN_MAX_CELLS`` centroid cells, broadcast numpy argmin
    past it. ``vec_col`` must already be array<double>."""
    if len(centroids) * len(centroids[0]) <= _LITERAL_ASSIGN_MAX_CELLS:
        return df.withColumn(out_col, _nearest_centroid(fold.sql_col(vec_col), centroids))
    return _assign_via_broadcast(df, vec_col, centroids, out_col=out_col)


def route_overlap(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    thr_mult: float,
    out_col: str = "__shard",
    min_lists: int = 1,
    max_lists: int | None = None,
) -> DataFrame:
    """(id, vec, shard) rows where EVERY centroid whose squared distance is
    within ``thr_mult``× of the row's minimum receives the row — the
    SPANN/DiskANN overlapping-cluster routing — UNIONed with the row's
    ``min_lists`` closest centroids ((d², centroid index) order, so ties
    are deterministic) and CAPPED at the ``max_lists`` closest.

    ``max_lists`` is the SPANN closure-assignment replica cap (the paper
    uses ≤8): without it the eps-ball EXPLODES when k-means runs with
    fewer centroids than natural clusters — centroids converge to
    BETWEEN-cluster means, every row's distance ratios compress, and the
    ball catches most of the centroid table (measured: 5.35× total
    replication, a 913k-row shard, on a 256-component mixture routed to
    64 centroids at the 2.2M scale drill — the resulting straggler shard
    alone ran ~90 min of single-threaded build). The cap bounds
    replication (≤ max_lists×) and therefore per-shard build cost,
    trading marginal boundary recall that n_probe recovers.

    ``min_lists`` exists because the eps-ball alone DEGENERATES on
    well-clustered data: when clusters are far apart relative to eps, no
    row's second centroid falls inside (1+eps)× of its first, every
    cluster routes disjointly, and a merge-build's final graph is a set
    of disconnected islands (observed: merged-vamana recall@10 collapsed
    to 0.32 on a 256-component mixture at the 2.2M-row scale drill).
    DiskANN's published construction (Subramanya et al. 2019 §4) sends
    each point to its ℓ closest centers for exactly this reason; the
    union keeps the ball's richer adaptive overlap on diffuse data while
    guaranteeing ℓ-way stitching everywhere else. Unlike
    :func:`assign_nearest` (the literal argmin up to 65,536 centroid
    cells, higher-order functions Spark 4.1.2 runs interpreted),
    this always runs the broadcast numpy kernel: per-row k× HOF scoring of
    a literal expression measured ~1.5-2× slower at BOTH sf0.01 and sf0.1
    (interleaved in-session probe, round 7 — 0.22 vs 0.42 s and 0.39 vs
    0.55 s), and since the kernel accumulates per-dim sequentially the
    (1+eps) threshold fires bit-identically to fold.py's l2², so offline
    oracle replays agree with it. Zero shuffle, no ×lists row blowup
    before the filter."""
    import numpy as np
    import pandas as pd

    from ..shipping import ensure_package_on_workers

    spark = base.sparkSession
    ensure_package_on_workers(spark)
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    idt = {f.name: f.dataType.simpleString() for f in base.schema}[id_col]
    schema = f"{id_col} {idt}, {vec_col} array<double>, {out_col} int"

    def run(batches):
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                # a zero-row Arrow batch yields a 1-D empty array below —
                # x.shape[1] would raise IndexError
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            # FOLD-EXACT distances (fold.py): the same float64 op order
            # as fold.py's Spark and Python folds and the offline
            # replays, so the (1+eps)× threshold fires bit-identically on
            # all three. A plain matmul decomposition computes different
            # last-ulp floats and could flip boundary memberships — unlike
            # argmin, a threshold compare has no tie rule to hide behind.
            d = fold.l2_sq_pairwise(x, cents)
            thr = d.min(axis=1) * thr_mult
            keep = d <= thr[:, None]
            # stable argsort == (d, centroid index) order — identical
            # tie rule to the offline replays' sorted((d, b)) ranking
            if max_lists is not None and max_lists < d.shape[1]:
                order = np.argsort(d, axis=1, kind="stable")
                in_cap = np.zeros_like(keep)
                np.put_along_axis(in_cap, order[:, :max_lists], True, axis=1)
                keep &= in_cap
                if min_lists > 1:
                    np.put_along_axis(
                        keep, order[:, :min_lists], True, axis=1
                    )
            elif min_lists > 1:
                top = np.argsort(d, axis=1, kind="stable")[:, :min_lists]
                np.put_along_axis(keep, top, True, axis=1)
            rows_idx, shard_idx = np.nonzero(keep)
            out = pdf.iloc[rows_idx][[id_col, vec_col]].reset_index(drop=True)
            out[out_col] = shard_idx.astype("int32")
            yield out

    return base.mapInPandas(run, schema)


def split_oversized_cells(
    routed: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    max_rows: int,
    seed: int = 42,
    out_col: str = "__shard",
    train_budget_rows: int = 200_000,
) -> tuple[DataFrame, list[list[float]]]:
    """Cut any routed cell holding more than ``max_rows`` rows into
    ``ceil(n/max_rows)`` SPATIAL sub-cells — the SPANN-style hierarchical
    answer to the straggler problem the 2.2M scale drill measured (one
    913k-row cell ran ~90 min of single-threaded graph build while 31
    cores idled; k-means with fewer centroids than natural clusters makes
    such cells routinely).

    Mechanism: a deterministic md5-prefix sample of each oversized cell
    (value-keyed — independent of partitioning) trains nested k-means
    sub-centroids driver-side (id-sorted seeds, the main build's recipe);
    rows of split cells re-route to base+argmin(sub-centroid) in ONE
    broadcast Arrow pass (fold-exact distances, lowest-index ties, no
    shuffle). A spatial split preserves neighborhood coherence — a plain
    hash split thins every sub-cell's proposal neighborhoods and was
    measured to cost merged-vamana ~0.18 recall@10. Still-oversized
    sub-cells (pathological nested geometry) get a final md5 HASH split
    so the row bound is hard; their duplicated centroids rank adjacent in
    probe routing, so n_probe coverage is unchanged.

    Returns (re-routed DataFrame, flat centroid list with one entry per
    FINAL cell). Driver state stays bounded: cell counts + sub-centroid
    matrices, never rows."""
    import math as _math

    import numpy as np

    counts = {
        r[out_col]: r["cnt"]
        for r in routed.groupBy(out_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    ks = [
        max(1, _math.ceil(counts.get(i, 0) / max_rows))
        for i in range(len(centroids))
    ]
    if all(k == 1 for k in ks):
        return routed, centroids
    split_ids = [i for i, k in enumerate(ks) if k > 1]

    # deterministic bounded sample per split cell (md5 value hash — the
    # operators/sampling.py recipe, partitioning-independent)
    budget = max(train_budget_rows // len(split_ids), 64)
    pred = F.lit(False)
    hexpfx = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    for i in split_ids:
        frac = min(1.0, max(budget, ks[i] * 16) / counts[i])
        thr = format(min(int(frac * 16**4) + 1, 16**4 - 1), "04x")
        pred = pred | ((F.col(out_col) == i) & (hexpfx < F.lit(thr)))
    srows = sorted(
        routed.filter(pred).select(out_col, id_col, vec_col).collect(),
        key=lambda r: (r[out_col], r[id_col]),
    )
    by_cell: dict[int, list] = {}
    for r in srows:
        by_cell.setdefault(r[out_col], []).append(list(r[vec_col]))

    submats: dict[int, list[list[float]]] = {}
    for i in split_ids:
        rows = by_cell.get(i, [])
        k_i = ks[i]
        if len(rows) < k_i:
            # degenerate sample: hash split handles it in the fallback
            ks[i] = 1
            continue
        submats[i] = _lloyds_numpy(rows, [list(v) for v in rows[:k_i]], 5)
    bases = [0]
    for k in ks:
        bases.append(bases[-1] + k)

    spark = routed.sparkSession
    from ..shipping import ensure_package_on_workers

    ensure_package_on_workers(spark)
    bc = spark.sparkContext.broadcast(
        {i: np.asarray(m, dtype=np.float64) for i, m in submats.items()}
    )
    bc_base = spark.sparkContext.broadcast(bases)
    cols = routed.columns
    schema = routed.schema
    from pyspark.sql import types as T

    shard_np = (
        "int64"
        if isinstance(schema[out_col].dataType, T.LongType)
        else "int32"
    )

    def reroute(batches):
        subs = bc.value
        base = bc_base.value
        for pdf in batches:
            if not len(pdf):
                continue
            shards = pdf[out_col].to_numpy()
            new = np.empty(len(shards), dtype=np.int64)
            for cell in np.unique(shards):
                mask = shards == cell
                if int(cell) not in subs:
                    new[mask] = base[int(cell)]
                    continue
                sm = subs[int(cell)]
                x = np.asarray(
                    pdf.loc[mask, vec_col].tolist(), dtype=np.float64
                )
                # fold-exact distances (fold.py); np.argmin keeps the
                # lowest index on ties like every router here
                d = fold.l2_sq_pairwise(x, sm)
                new[mask] = base[int(cell)] + np.argmin(d, axis=1)
            out = pdf[cols].copy()
            out[out_col] = new.astype(shard_np)
            yield out

    routed = routed.mapInPandas(reroute, schema)
    flat: list[list[float]] = []
    for i in range(len(centroids)):
        flat.extend(submats.get(i, [centroids[i]]) if ks[i] > 1 else [centroids[i]])

    # hard bound: hash-split anything STILL past 2× the cap (nested
    # k-means can be imbalanced on pathological geometry) — duplicated
    # centroids, deterministic md5 sub-assignment
    counts2 = {
        r[out_col]: r["cnt"]
        for r in routed.groupBy(out_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    ks2 = [
        max(1, _math.ceil(counts2.get(i, 0) / (2 * max_rows)))
        for i in range(len(flat))
    ]
    if any(k > 1 for k in ks2):
        bases2 = [0]
        for k in ks2:
            bases2.append(bases2[-1] + k)
        # one F.expr each, not one F.lit per cell (a py4j round trip each);
        # an integer literal past int32 parses as BIGINT, as F.lit's does
        base_arr = F.expr("array(" + ", ".join(str(int(b)) for b in bases2[:-1]) + ")")
        ks_arr = F.expr("array(" + ", ".join(str(int(k)) for k in ks2) + ")")
        sub = F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long"),
            F.element_at(ks_arr, F.col(out_col) + 1).cast("long"),
        )
        routed = routed.withColumn(
            out_col,
            (F.element_at(base_arr, F.col(out_col) + 1) + sub).cast(
                "bigint" if shard_np == "int64" else "int"
            ),
        )
        flat = [flat[i] for i in range(len(flat)) for _ in range(ks2[i])]
    return routed, flat


@dataclass
class IVFFlatIndex:
    """A built IVFFlat index: frozen centroids + distributed assignments."""

    vec_col: str
    lists: int
    probe_lists: int
    dist: str  # 'l2' | 'cosine' | 'ip'  (vector_l2_ops etc., catalog.h:322-331)
    centroids: list[list[float]]
    assignments: DataFrame  # all base-table columns + BUCKET_COL
    params: dict = field(default_factory=dict)

    # centroid training happens driver-side on at most this many matrix
    # cells (rows × dim); larger inputs train on a deterministic sample —
    # the standard IVF recipe (FAISS trains on a sample too). The full-table
    # assignment pass is always distributed.
    DRIVER_TRAIN_MAX_CELLS = 32_000_000

    # -- build ------------------------------------------------------------
    @classmethod
    def build(
        cls,
        df: DataFrame,
        vec_col: str,
        lists: int,
        probe_lists: int = 1,
        dist: str = "l2",
        max_iter: int = 10,
        init_order: str | None = None,
        cache: bool = True,
    ) -> "IVFFlatIndex":
        """Batch-build via a DataFrame Lloyd's loop.

        init_order: column giving the deterministic "first lists rows" init
        (the reference initializes centroids from the first ``lists`` heap
        rows, ivfflat_index.cpp:82-84). Defaults to the first column.
        """
        vec = F.col(vec_col).cast("array<double>")
        order = init_order or df.columns[0]
        n = df.count()
        if n == 0 or lists <= 0:
            # tables smaller than `lists` (incl. empty) clamp — the
            # reference builds on an empty heap without complaint
            # (vector.03 creates indexes before any INSERT)
            empty = df.withColumn(BUCKET_COL, F.lit(0).cast("int")).limit(0)
            return cls(vec_col, 0, probe_lists, dist, [], empty)
        # dim probe: one row (a single row-group read at any scale) —
        # r13: the seed rows no longer get their own TopN job; on the
        # full-table path they are the first `lists` rows of the training
        # collect, on the sampled path a bounded TopN below.
        dim = len(df.select(vec.alias("v")).first()["v"])
        if n * dim <= cls.DRIVER_TRAIN_MAX_CELLS:
            # Small training set: ONE unordered collect + numpy Lloyd's on
            # the driver. Identical semantics (argmin ties -> first index,
            # empty buckets keep their centroid) without max_iter
            # driver-roundtrip jobs — the distributed loop costs ~2
            # jobs/iteration in scheduling alone, which dwarfs the math
            # below ~millions of cells. Sorted by `order` DRIVER-SIDE so
            # the fp summation order (and thus the trained centroids) is
            # REPRODUCIBLE bit-for-bit regardless of how the scan splits —
            # offline_centroids() replays exactly this stable sort for the
            # DuckDB oracle. (r13: replaces the global-sort exchange the
            # Spark orderBy paid before collecting; same total order for
            # the unique init-order keys index builds use — ties were
            # partition-dependent under the global sort too.)
            rows = df.select(F.col(order).alias("__o"), vec.alias("v")).collect()
            rows.sort(key=lambda r: (r["__o"] is None, r["__o"]))
            vecs = [r["v"] for r in rows]
            centroids = [list(v) for v in vecs[:lists]]
            lists = len(centroids)
            centroids = _lloyds_numpy(vecs, centroids, max_iter)
        else:
            # At scale: train on a deterministic sample on the driver (the
            # standard IVF recipe — FAISS trains centroids on a sample too),
            # sized to the same cell budget. Seeds stay the reference's
            # "first `lists` rows" (a bounded per-partition TopN).
            seed_rows = (
                df.orderBy(order).limit(lists).select(vec.alias("v")).collect()
            )
            centroids = [list(r["v"]) for r in seed_rows]
            lists = len(centroids)
            frac = min(1.0, cls.DRIVER_TRAIN_MAX_CELLS / (n * dim))
            vecs = (
                df.sample(fraction=frac, seed=42)
                .orderBy(order)
                .select(vec.alias("v"))
                .collect()
            )
            centroids = _lloyds_numpy(
                [r["v"] for r in vecs], centroids, max_iter
            )

        # One distributed assignment pass over the full table. Spread to
        # full parallelism if the source arrived as a single file split.
        src = df
        want = df.sparkSession.sparkContext.defaultParallelism
        if n > want and src.rdd.getNumPartitions() < want:
            src = src.repartition(want)
        if lists * dim <= _LITERAL_ASSIGN_MAX_CELLS:
            assignments = src.withColumn(
                BUCKET_COL, _nearest_centroid(fold.sql_operand(vec_col), centroids)
            )
        else:
            assignments = _assign_via_broadcast(src, vec_col, centroids)
        if cache:
            # materialize once into a leaf this index owns: probes, batch
            # probes and inserts start from it without re-analyzing the
            # build's plan, and a second build over the same input gets a
            # leaf of its own (a cache() entry is shared by every equal
            # plan). shipping.release_checkpoint frees it.
            assignments = assignments.localCheckpoint(eager=True)
        return cls(vec_col, lists, probe_lists, dist, centroids, assignments)

    # -- probe ------------------------------------------------------------
    def rank_buckets(self, query: list[float]) -> list[int]:
        """Centroid ranking happens on the centroid set only (driver-side,
        lists entries) — mirrors the reference's probe step 1, which uses the
        index's own distance function (ivfflat_index.cpp FindCentroid)."""
        return fold.rank_centroids(self.dist, self.centroids, query)

    def probe(
        self,
        query: list[float],
        k: int,
        probe_lists: int | None = None,
        dist_col: str = "distance",
        where: Column | None = None,
    ) -> DataFrame:
        """ANN top-k: scan only the probe_lists nearest buckets.

        With probe_lists == lists this is EXACT (all buckets scanned) — used
        by the hash-match oracle; smaller probe_lists trades recall for a
        proportionally smaller scan.

        ``where`` is a metadata PRE-filter (filtered vector search): applied
        to the probed buckets' rows BEFORE any distance is computed, so the
        predicate pushes into the (bucket-pruned, columnar) assignments scan
        and the top-k is taken among matching rows only — not post-filtered
        from an unfiltered top-k, which can return < k rows at high
        selectivity.
        """
        from ..similarity.brute import ASCENDING, DIST_FNS

        p = probe_lists if probe_lists is not None else self.probe_lists
        buckets = self.rank_buckets(query)[:p]
        fn = DIST_FNS[self.dist]
        cand = self.assignments.filter(F.expr(fold.sql_int_in(BUCKET_COL, buckets)))
        if where is not None:
            cand = cand.filter(where)
        out = cand.withColumn(dist_col, fn(self.vec_col, query))
        order = F.col(dist_col).asc() if ASCENDING[self.dist] else F.col(dist_col).desc()
        return out.orderBy(order).limit(k).drop(BUCKET_COL)

    def probe_batch(
        self,
        queries: DataFrame,
        query_vec: str,
        query_id: str,
        k: int,
        probe_lists: int | None = None,
        dist_col: str = "distance",
        where: Column | None = None,
    ) -> DataFrame:
        """ANN top-k for a whole DataFrame of queries — the KNN-join shape
        (millions of queries against the index, the realistic batch workload;
        cf. knn_join in similarity.brute for the index-less broadcast form).

        Per query: rank centroids (a transform over the literal centroid
        array — narrow, no shuffle), explode the nearest probe_lists bucket
        ids, join the assignments on bucket, score candidates, keep top-k
        per query via a window. The only shuffles are the bucket join and
        the per-query window, both on well-spread keys. With probe_lists ==
        lists this is exact (the distributed brute-force KNN join,
        oracle-checked); smaller probe_lists scans probe_lists/lists of the
        data per query. ``where`` is the metadata PRE-filter (filtered
        vector search) applied to the item side before the bucket join —
        same semantics as :meth:`probe`.

        Output: (qid, all assignment columns, dist_col), ``qid`` being the
        query's ``query_id`` value (renamed to avoid colliding with the
        item side's columns in self-join setups). Ties broken by the
        item-side ``query_id`` column when present, keeping results
        deterministic.
        """
        from pyspark.sql import Window

        from ..similarity.brute import ASCENDING, DIST_FNS

        p = probe_lists if probe_lists is not None else self.probe_lists
        q = queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
            F.explode(nearest_buckets(self.dist, query_vec, self.centroids, p)).alias(BUCKET_COL),
        )
        # distance scoring below is CPU-bound; an under-partitioned query
        # side (one file split) would pin it to one core (cf. dedup.minhash
        # _spread — same rationale, no-op at scale where inputs have
        # thousands of splits). Partition by qid ALONE (r13): when the item
        # side broadcasts, the join keeps this clustering and the per-query
        # top-k window reuses it — hashpartitioning(qid, bucket) cannot
        # satisfy the window's qid distribution, which forced a
        # partial/final WindowGroupLimit split around a second exchange
        # (measured 0.58-0.72 -> 0.40-0.44 s warm at sf0.1; 2 fewer
        # exchanges, identical rows). Which side broadcasts is Spark's
        # size-based choice: a cached query side with enough partitions
        # skips this repartition and is the side that broadcasts
        # (BuildLeft), so the window then adds Exchange
        # hashpartitioning(qid) with that partial/final split (the
        # batch-probe plan of a 64-query cached DataFrame against 2,000
        # rows). Granularity is one task per group of qids (a query's
        # probe_lists buckets score in one task, same total pair count);
        # queries >> cores keeps tasks balanced.
        want = queries.sparkSession.sparkContext.defaultParallelism
        if queries.rdd.getNumPartitions() < want:
            q = q.repartition(want, "qid")
        items = self.assignments if where is None else self.assignments.filter(where)
        cand = q.join(items, BUCKET_COL)
        out = cand.withColumn(dist_col, DIST_FNS[self.dist](self.vec_col, "__qv"))
        order = [
            F.col(dist_col).asc() if ASCENDING[self.dist] else F.col(dist_col).desc()
        ]
        if query_id in self.assignments.columns:
            order.append(F.col(query_id).asc())  # deterministic under ties
        w = Window.partitionBy("qid").orderBy(*order)
        return (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn", "__qv", BUCKET_COL)
        )

    # -- insert (frozen centroids, ref :92-95) ----------------------------
    def insert(self, rows: DataFrame) -> "IVFFlatIndex":
        new = rows.withColumn(
            BUCKET_COL, _nearest_centroid(fold.sql_operand(self.vec_col), self.centroids)
        )
        return IVFFlatIndex(
            self.vec_col,
            self.lists,
            self.probe_lists,
            self.dist,
            self.centroids,
            self.assignments.unionByName(new),
            self.params,
        )

    # -- persistence ------------------------------------------------------
    def save(self, path: str) -> None:
        """Write assignments partitioned by bucket → probe becomes partition
        pruning (only probe_lists/lists of files are even listed)."""
        self.assignments.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(
            f"{path}/assignments"
        )
        spark = self.assignments.sparkSession
        cent = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.centroids)],
            "bucket int, centroid array<double>",
        )
        cent.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(
        cls, spark, path: str, vec_col: str, probe_lists: int, dist: str = "l2"
    ) -> "IVFFlatIndex":
        cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("bucket").collect()
        centroids = [list(r["centroid"]) for r in cent_rows]
        assignments = spark.read.parquet(f"{path}/assignments")
        return cls(vec_col, len(centroids), probe_lists, dist, centroids, assignments)


def estimate_modes(
    df,
    vec_col: str,
    order_col: str,
    max_modes: int = 1024,
    sample_cells: int = 2_000_000,
    seed: int = 42,
    max_iter: int = 4,
    flat_ratio: float = 0.82,
) -> int:
    """Mode-count estimate via a k-means inertia elbow on a bounded,
    deterministic driver sample (VERDICT r11 #4 / NOTES r12 lead #2 — wire
    per-cell-book cell counts to the corpus's MEASURED mode structure
    instead of a pure rows/cell target).

    Method: sweep k over a doubling grid (2, 4, ..., max_modes); inertia(k)
    = mean squared distance of the sample to its nearest of k trained
    centroids. Doublings that peel apart multi-mode cells drop inertia
    hard; doublings past the mode count only split WITHIN-mode variance,
    worth a vanishing fraction in high dim (isotropic gaussian one-split
    gain ~2/(pi*d) of the cell variance). The estimate is the LAST k whose
    incoming doubling still bought more than (1 - flat_ratio) — NOT the
    first flat point: in high dim, distance concentration makes the curve
    flat-then-drop-then-flat on many-mode corpora (random mode centers are
    near-equidistant, so coarse clusterings buy little until k reaches M —
    measured: a 64-mode dim-32 corpus shows ratio ~0.9 at k=2..8, the
    cliff only at k~M), and a first-flat rule exits at the leading
    plateau. Unclustered corpora never produce a significant doubling
    (uniform data: ratio ~ (1/2)^(2/d) -> ~1) and return the grid floor 2,
    so the caller's max(rows_target, modes) clamp falls back to the row
    target. The sweep early-exits two consecutive flat doublings AFTER a
    significant one (within-mode splits stay flat forever). With maximin
    seeding the estimate lands ON the mode count for separated mixtures
    (measured: 8/64/256-mode synthetics and the 1.2M drill corpus all
    exact); should a hard corpus still push it a doubling high, that
    direction is safe for the clamp, whose requirement is cells >= modes
    (finer cells stay unimodal; coarser is what collapses per-cell
    books).

    Cost/scale: ONE bounded sample collect (<= sample_cells/dim rows,
    seeded fraction sample like IVFFlatIndex's at-scale training path) +
    driver BLAS k-means sweeps — never a corpus-sized driver structure.
    Deterministic: seeded sample, id-ordered, maximin seeding computed
    once at the cap and prefix-sliced per k (see the seeding note below).
    Estimation-only surface (the result picks a CELL COUNT; no serving
    artifact derives from these centroids), so plain BLAS is fine — the
    fold-exact trainers are for oracle-compared surfaces."""
    import numpy as np
    from pyspark.sql import functions as F

    n = df.count()
    if n == 0:
        return 2
    dim = len(df.select(vec_col).first()[0])
    frac = min(1.0, sample_cells / float(max(1, n * dim)))
    src = df if frac >= 1.0 else df.sample(fraction=frac, seed=seed)
    rows = (
        src.orderBy(order_col)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    n_s = len(x)
    if n_s < 16:
        return 2

    # maximin (greedy farthest-point) seeding, computed ONCE at the grid
    # cap and sliced per k (prefix property: the first k maximin seeds
    # are the k-seed maximin set). Stride/prefix inits under-COVER
    # separated modes (k-means rarely splits a captured pair on its
    # own), which inflates inertia(k~M) with between-mode mass and
    # pushes the elbow doublings past the true count — measured on the
    # 1.2M drill corpus (256 modes, sigma-1 noise): stride init
    # estimated the 1024 cap, maximin lands at M. Deterministic: seed 0
    # = row 0 of the id-ordered sample, argmax ties -> lowest index.
    xx = (x * x).sum(axis=1)

    def _maximin_seeds(k: int) -> np.ndarray:
        order = [0]
        mind = xx - 2.0 * (x @ x[0]) + xx[0]
        for _ in range(1, k):
            nxt = int(np.argmax(mind))
            order.append(nxt)
            d = xx - 2.0 * (x @ x[nxt]) + xx[nxt]
            np.minimum(mind, d, out=mind)
        return np.asarray(order)

    def inertia(k: int, seeds: np.ndarray) -> float:
        cents = np.asarray(
            _lloyds_numpy(x.tolist(), x[seeds[:k]].tolist(), max_iter),
            dtype=np.float64,
        )
        d = (
            xx[:, None]
            - 2.0 * (x @ cents.T)
            + (cents * cents).sum(axis=1)
        )
        return float(np.maximum(d.min(axis=1), 0.0).mean())

    # k past n_s//8 has <8 sample rows per mode — too thin to resolve
    cap = max(2, min(int(max_modes), n_s // 8))
    seeds = _maximin_seeds(cap)
    k = 2
    prev = inertia(k, seeds)
    best = 2  # last k whose incoming doubling was significant
    flats_since = 0
    while k * 2 <= cap:
        nxt = inertia(k * 2, seeds)
        k *= 2
        if prev > 0.0 and nxt / prev <= flat_ratio:
            best = k
            flats_since = 0
        else:
            flats_since += 1
            if best > 2 and flats_since >= 2:
                break  # past the modes: within-mode splits stay flat
        prev = nxt
    return best


def offline_centroids(
    parquet_path: str,
    vec_col: str,
    order_col: str,
    lists: int,
    max_iter: int,
) -> list[list[float]]:
    """Replay ``IVFFlatIndex.build``'s driver-side training WITHOUT Spark —
    pyarrow scan + the same ``_lloyds_numpy`` over rows sorted by
    ``order_col`` (the same deterministic order build() collects in), so the
    returned centroids are bit-identical to a Spark build over the same
    parquet. Used to inline centroid literals into the DuckDB correctness
    oracle for partial-probe ANN queries, making the approximate candidate
    set itself exactly checkable. Only valid on inputs small enough for the
    full-table training path (DRIVER_TRAIN_MAX_CELLS)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[order_col, vec_col])
    keys = np.asarray(t[order_col])
    order = np.argsort(keys, kind="stable")
    # to_pylist -> python floats (exact float32→float widening), matching
    # what Spark's collect() of CAST(vec AS array<double>) hands the trainer
    vecs = t[vec_col].to_pylist()
    vecs = [vecs[i] for i in order]
    n, dim = len(vecs), len(vecs[0]) if vecs else 0
    if n * dim > IVFFlatIndex.DRIVER_TRAIN_MAX_CELLS:
        raise ValueError(
            "offline_centroids only replicates the full-table training path "
            f"({n}×{dim} cells exceeds DRIVER_TRAIN_MAX_CELLS)"
        )
    init = vecs[: min(lists, n)]
    return _lloyds_numpy(vecs, [list(v) for v in init], max_iter)
