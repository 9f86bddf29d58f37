"""Binary quantization (1 bit/dim) — the extreme-compression ANN tier.

At 100 TB the cheapest index is the one whose codes fit in the CPU cache:
1-bit-per-dimension sign codes shrink a 64-dim float32 vector from 256 B
to 8 B (32x), and Hamming distance over the packed words is XOR+popcount —
pure integer ALU work inside whole-stage codegen, no floats, no UDFs.
This is the "binary quantization" tier modern vector stores ship as their
fastest coarse filter (cf. the 1-bit LSH of Charikar STOC'02 — the sign of
a projection preserves angle — and FAISS's IndexBinaryFlat); the standard
recipe is Hamming shortlist -> exact rerank, which `rerank_topk` provides.

Design choices, all driven by oracle exactness:

  threshold   per-dim MIDRANGE (mn+mx)/2, not the mean: min/max are exact
              in floating point regardless of aggregation order, so Spark
              and DuckDB derive bit-identical thresholds (a mean would
              drift by summation order and could flip a borderline bit).
  encode      bit d = (x_d > thr_d), packed MSB-first into array<bigint>
              words via a sequence/slice/aggregate HOF chain — expression
              size is O(words), so a 768-dim corpus packs into 12 words
              without a 768-term unrolled projection.
  distance    Hamming = sum_w bit_count(words_w XOR qwords_w) — equals the
              per-bit mismatch count the oracle SQL computes directly
              (popcount of XOR == sum of bit inequalities), so no rounding
              is needed anywhere: the score is an exact integer.
  rerank      Hamming top-m shortlist (global TakeOrderedAndProject on an
              integer key) -> exact float L2 on the m survivors only.

Scale: train is one (dim, x) shuffle with dimension-sized output (driver
holds O(dims) thresholds, like IVF centroids); encode is a narrow
projection; probe is a full scan of 8-byte codes + top-k — the scan the
other tiers (IVF routing, graph walks) exist to avoid, but at 32x
compression it is the strongest brute-force baseline per byte.

CLUSTERED-CORPUS CAVEAT (found by the 2.2M scale drill, not by any
small-scale test): GLOBAL midrange thresholds collapse on strongly
clustered data — all members of a tight cluster fall on the same side of
the global midrange in most dims, so their codes are (near-)identical and
Hamming carries no within-cluster signal (routed-tier recall measured
0.856 → 0.10). The fix is LOCAL thresholds per routing unit:
ShardedHNSW.quantize_bq(local=True) derives them per shard,
ivfcodes.BQCodes(per_bucket=True) per IVF bucket — the 1-bit analog of
IVF residual encoding. The flat corpus-wide tier keeps global thresholds
(across clusters Hamming still separates; within-cluster resolution is
what the routed/bucketed variants exist for).

SEEDED ROTATION (r8, measured): an orthonormal rotation before
sign-taking (train(rotation=rotation_matrix(dim, seed)) / ShardedHNSW.
quantize_bq(rotation_seed=...)) fixes a DIFFERENT failure mode than
local thresholds: AXIS-ALIGNED ANISOTROPY. When variance concentrates in
few dims (real embeddings' decaying PCA spectrum), the dominant dims get
one bit each while the many near-constant dims burn theirs on noise;
rotating spreads the dominant directions across every bit (numpy sweep:
shortlist recall 0.46 -> 0.92 with 4-dominant-of-64 dims, 0.45 -> 0.84
on a 1/d power-law spectrum, pinned by
tests/test_hnsw.py::test_bq_rotation_recovers_anisotropic_recall). On
ISOTROPIC cluster mixtures rotation measures recall-NEUTRAL (1.2M drill:
0.394 plain vs 0.408 rotated at 64 multi-modal shards) — it does not
substitute for unimodal sharding; the two levers are orthogonal and
compose. And on UNIFORM-BOX data (bounded per-dim, already balanced —
the sf0.01 testdata) rotation can mildly HURT (recall report: 0.635 →
0.555): sums of uniforms concentrate near the midrange threshold, so
more bits sit borderline. Rotation is an opt-in lever for decaying
spectra, not a default. Oracle exactness survives in every mode because
the rotated coordinate is a sequential fold in all three engines (see
rotation_matrix below).

The reference stores raw doubles in all its indexes
(src/storage/index/ivfflat_index.cpp, hnsw_index.cpp); compression tiers
are this repo's north-star scale extension alongside SQ8/PQ.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from .. import fold
from ..functions.vector import l2_dist, vec_lit
from .quantize import dim_stats

# 32 bits per word, stored in (signed) longs: the MSB-first fold acc*2+b
# would overflow a signed int64 at the 64th bit under ANSI mode, and 32-bit
# words XOR/popcount identically. 768 dims -> 24 words.
WORD_BITS = 32


# --- seeded rotation (the RaBitQ-style fix for the 1-bit resolution
# bound): a random ORTHONORMAL rotation applied before sign-taking spreads
# cluster structure across every dim, so a multi-modal shard's midrange
# thresholds carry within-mode position instead of only mode identity.
# L2 geometry is rotation-invariant, so the downstream Hamming/ADC
# semantics are unchanged — only the code quality improves.
#
# Oracle exactness contract (the reason for the fold shapes below): the
# rotated coordinate x'_d = sum_j R[d][j]*x_j is computed as a SEQUENTIAL
# LEFT FOLD with 0.0 init in all three engines — Spark F.aggregate,
# driver Python loop, DuckDB list_reduce(list_transform(...)) — which are
# bit-identical IEEE op sequences (verified: same 64-dim dot product
# returns the same double in all three). BLAS matmuls are NOT used for
# any value that crosses the engine boundary (their summation order is
# buffer-alignment-dependent — see bustub_vectordb_spark/fold.py).


def rotation_matrix(dim: int, seed: int) -> list[list[float]]:
    """Seeded random orthonormal rotation (QR of a Gaussian, columns
    sign-fixed by diag(R) so the decomposition is unique). Returned as
    plain floats: the matrix is INLINED into both the Spark plan and the
    oracle SQL, so both engines consume literally identical values."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = rng.standard_normal((dim, dim))
    q, r = np.linalg.qr(a)
    # np.where, not np.sign: sign(0.0) == 0 would silently zero a whole
    # column and break orthonormality if an R diagonal were exactly 0.
    q = q * np.where(np.diag(r) >= 0, 1.0, -1.0)
    return [[float(x) for x in row] for row in q]


def rotate_col(vec_col: str, rotation: list[list[float]]) -> Column:
    """array<double> of rotated coordinates, one sequential fold per output
    dim (a dot product against a rotation row), as one ``F.expr``. The
    matrix rides as ONE nested-array literal, constant-folded into a single
    Literal node, and row dimensionality is enforced: zip_with would
    silently NULL-pad a short row into wrong-but-plausible rotated
    values."""
    dim = len(rotation)
    v = fold.sql_operand(vec_col)
    row = f"element_at({fold.sql_vecs_lit(rotation)}, __d)"
    ok = f"assert_true(size({v}) = {dim}, 'rotate: vector must have {dim} dims')"
    # assert_true is NULL on success
    return F.expr(
        f"CASE WHEN {ok} IS NULL THEN "
        f"transform(sequence(1, {dim}), __d -> {fold.sql_dot(v, row)}) END"
    )


def rotate_vec(vec, rotation: list[list[float]]) -> list[float]:
    """Driver-side rotation with the SAME sequential-fold op order as
    rotate_col / the oracle's list_reduce — bit-identical results."""
    if len(vec) != len(rotation):
        raise ValueError(f"query dims {len(vec)} != rotation dims {len(rotation)}")
    out = []
    for row in rotation:
        acc = 0.0
        for x, r in zip(vec, row):
            acc = acc + float(x) * float(r)
        out.append(acc)
    return out


def hamming_words(words: Column, qwords: Column) -> Column:
    """XOR + popcount over two packed word arrays — exact integer distance."""
    return F.aggregate(
        F.zip_with(words, qwords, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )


@dataclass
class BQModel:
    """Per-dimension midrange thresholds (driver-resident, O(dims)).

    ``rotation`` (optional): a seeded orthonormal matrix applied BEFORE
    sign-taking (train with ``rotation=rotation_matrix(dim, seed)``). When
    set, thresholds live in ROTATED space and every encode path — row
    column, query, batch query side — rotates first with the shared
    fold-exact kernel, so all downstream Hamming machinery is unchanged.
    Driver state stays O(dims²) ≈ 32 KB at 64 dims (centroid-sized)."""

    thresholds: list[float]
    rotation: list[list[float]] | None = field(default=None)

    @classmethod
    def train(
        cls,
        df: DataFrame,
        vec_col: str,
        rotation: list[list[float]] | None = None,
    ) -> "BQModel":
        src = (
            df.select(rotate_col(vec_col, rotation).alias("__rv"))
            if rotation is not None
            else df
        )
        rows = dim_stats(src, "__rv" if rotation is not None else vec_col).orderBy(
            "dim"
        ).collect()
        return cls([(r["mn"] + r["mx"]) / 2.0 for r in rows], rotation)

    @property
    def dims(self) -> int:
        return len(self.thresholds)

    @property
    def n_words(self) -> int:
        return (self.dims + WORD_BITS - 1) // WORD_BITS

    def _bits(self, vec: Column | str, thr: Column | None = None) -> Column:
        """array<bigint> of 0/1 sign bits (strict >, matching the oracle);
        ``thr`` is a per-row thresholds column in place of the model's
        (per-bucket thresholds, similarity/ivfcodes.BQCodes).

        Row dimensionality is ENFORCED (assert_true): zip_with would pad a
        short/long row with NULLs, which when().otherwise(0) would silently
        turn into plausible-looking zero bits — a wrong Hamming distance
        with no error anywhere. encode_query raises the same way."""
        thr = vec_lit(self.thresholds) if thr is None else thr

        def bit(x, t):
            return F.when(x > t, F.lit(1)).otherwise(F.lit(0)).cast("long")

        if self.rotation is not None:
            # rotate_col enforces dimensionality itself (same assert_true
            # pattern), and its output is exactly self.dims wide
            return F.zip_with(rotate_col(vec, self.rotation), thr, bit)
        v = (F.col(vec) if isinstance(vec, str) else vec).cast("array<double>")
        ok = F.assert_true(
            F.size(v) == F.lit(self.dims),
            F.lit(f"BQ encode: vector must have {self.dims} dims"),
        )
        return F.when(ok.isNull(), F.zip_with(v, thr, bit))  # assert_true is NULL on success

    def encode_words(self, vec: Column | str, thr: Column | None = None) -> Column:
        """Pack sign bits MSB-first into ``array<bigint>`` words (``thr``:
        see :meth:`_bits`).

        word[w] = fold over bits[w*32 .. w*32+31] (WORD_BITS=32 per word —
        NOT 64: the MSB-first acc*2+b fold would overflow signed int64 at
        the 64th bit under ANSI mode) of acc*2 + bit. The HOF
        chain keeps the generated expression O(n_words) regardless of
        dimensionality."""
        bits = self._bits(vec, thr)
        return F.transform(
            F.sequence(F.lit(0), F.lit(self.n_words - 1)),
            lambda w: F.aggregate(
                F.slice(bits, w * WORD_BITS + 1, WORD_BITS),
                F.lit(0).cast("long"),
                lambda acc, b: acc * 2 + b,
            ),
        )

    def encode_query(self, query: list[float]) -> list[int]:
        """Driver-side packing of the query — same MSB-first layout (and
        the same fold-exact rotation as the row side when one is set)."""
        if len(query) != self.dims:
            raise ValueError(f"query dims {len(query)} != model dims {self.dims}")
        if self.rotation is not None:
            query = rotate_vec(query, self.rotation)
        bits = [1 if float(x) > t else 0 for x, t in zip(query, self.thresholds)]
        # no tail padding: the Spark fold packs a short final word without
        # shifting, so the driver must fold over exactly the same bits
        words = []
        for w in range(self.n_words):
            acc = 0
            for b in bits[w * WORD_BITS : (w + 1) * WORD_BITS]:
                acc = acc * 2 + b
            words.append(acc)
        return words

    def hamming(self, words: Column, query: list[float]) -> Column:
        """XOR + popcount over the packed words — exact integer distance."""
        qwords = F.expr(
            "array("
            + ", ".join(f"CAST({int(w)} AS BIGINT)" for w in self.encode_query(query))
            + ")"
        )
        return hamming_words(words, qwords)

    def hamming_topk(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        query: list[float],
        k: int,
        dist_col: str = "hamming",
    ) -> DataFrame:
        """Coarse probe: encode (narrow projection) -> integer Hamming ->
        global top-k. Ties (common: Hamming is a small-integer score) break
        by id ascending, mirroring the oracle."""
        words = self.encode_words(vec_col)
        return (
            df.select(F.col(id_col), self.hamming(words, query).alias(dist_col))
            .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
            .limit(k)
        )

    def hamming_join(
        self,
        queries: DataFrame,
        q_vec: str,
        q_id: str,
        items: DataFrame,
        i_vec: str,
        i_id: str,
        k: int,
        dist_col: str = "hamming",
    ) -> DataFrame:
        """Batch top-k by Hamming: every (query, item) pair scored.

        The query side is broadcast (batches are serving-sized), so the
        corpus is scanned once with NO shuffle before the per-query top-k
        window — and the pair scoring is XOR+popcount over 8-byte codes,
        the cheapest possible brute-force kernel: this IS the scale story
        of the BQ tier (32x less data movement than float distance)."""
        from pyspark.sql import Window
        from pyspark.sql.functions import broadcast

        qw = broadcast(
            queries.select(
                F.col(q_id).alias("qid"), self.encode_words(q_vec).alias("_qw")
            )
        )
        # spread an under-partitioned item side BEFORE the pair scoring
        # (r13): a small parquet corpus arrives as ONE file split, and
        # since the query side is broadcast the |Q|x|N| XOR+popcount pass
        # and its partial per-query group-limit then run in a single task
        # (measured: bq_batch flat across 8 vs 32 cores, r12 scaling 0.89).
        # Round-robin repartition of the raw rows only — per-pair scores
        # and the (dist, id)-ordered window are partition-independent, so
        # the result set (and every oracle hash) is unchanged. No-op at
        # scale, where the corpus already carries many splits.
        want = items.sparkSession.sparkContext.defaultParallelism
        if items.rdd.getNumPartitions() < want:
            items = items.repartition(want)
        iw = items.select(F.col(i_id), self.encode_words(i_vec).alias("_iw"))
        scored = iw.crossJoin(qw).select(
            "qid", F.col(i_id), hamming_words(F.col("_iw"), F.col("_qw")).alias(dist_col)
        )
        w = Window.partitionBy("qid").orderBy(
            F.col(dist_col).asc(), F.col(i_id).asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )

    def rerank_topk(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        query: list[float],
        k: int,
        shortlist: int = 50,
        dist_col: str = "dist",
    ) -> DataFrame:
        """Hamming shortlist (top-``shortlist``) -> exact L2 rerank -> top-k.

        The shortlist is k-sized, so the join back to the full-precision
        source broadcasts; only ``shortlist`` exact distances are computed
        no matter the corpus size."""
        from pyspark.sql.functions import broadcast

        short = self.hamming_topk(df, vec_col, id_col, query, shortlist)
        exact = F.round(l2_dist(vec_col, [float(x) for x in query]), 6)
        return (
            df.join(broadcast(short.select(id_col)), id_col, "inner")
            .select(F.col(id_col), exact.alias(dist_col))
            .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
            .limit(k)
        )


def _rot_cte(table: str, vec_col: str, id_col: str, rotation: list[list[float]]) -> str:
    """CTEs producing (id, dim, x) in ROTATED space plus rotated-space
    midrange thresholds. The rotated coordinate is a DuckDB list_reduce
    left fold over list_transform products — the IEEE-identical op
    sequence to Spark's F.aggregate(zip_with(...), 0.0, +) and the
    driver's rotate_vec loop (0.0 + y1 == y1 exactly), so a sign bit can
    never flip across the engine boundary."""
    dim = len(rotation)
    rows = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in rotation
    )
    return f"""rmat AS (SELECT [{rows}]::DOUBLE[][] AS m),
    relems AS (
        SELECT {id_col}, t.d AS dim,
               list_reduce(list_transform(range(1, {dim + 1}),
                           i -> ({vec_col}::DOUBLE[])[i] * m[t.d][i]),
                           (a, b) -> a + b) AS x
        FROM {table}, rmat, range(1, {dim + 1}) t(d)
    ),
    dims AS (SELECT dim, (min(x) + max(x)) / 2.0 AS thr FROM relems GROUP BY dim)"""


def bq_rotated_hamming_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    rotation: list[list[float]],
    dist_col: str = "hamming",
) -> str:
    """DuckDB replica of the ROTATED train -> encode -> Hamming -> top-k:
    rows rotate in SQL (fold-exact, matrix inlined), the query arrives
    pre-rotated by the same driver kernel the Spark side uses."""
    rq = rotate_vec(query, rotation)
    rqvals = ", ".join(repr(float(x)) for x in rq)
    return f"""
    WITH {_rot_cte(table, vec_col, id_col, rotation)},
    q AS (SELECT unnest([{rqvals}]) AS qx,
                 generate_subscripts([{rqvals}], 1) AS dim)
    SELECT {id_col},
           sum(CASE WHEN (e.x > d.thr) <> (q.qx > d.thr)
                    THEN 1 ELSE 0 END)::BIGINT AS {dist_col}
    FROM relems e JOIN dims d USING (dim) JOIN q USING (dim)
    GROUP BY {id_col}
    ORDER BY {dist_col} ASC, {id_col} ASC
    LIMIT {k}
    """


def bq_rotated_rerank_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    rotation: list[list[float]],
    shortlist: int = 50,
    dist_col: str = "dist",
) -> str:
    """Rotated Hamming shortlist -> exact L2 rerank on the RAW vectors
    (rotation affects only which rows make the shortlist; the final
    distances are original-space, same 6dp round as rerank_topk)."""
    rq = rotate_vec(query, rotation)
    rqvals = ", ".join(repr(float(x)) for x in rq)
    qvals = ", ".join(repr(float(x)) for x in query)
    return f"""
    WITH {_rot_cte(table, vec_col, id_col, rotation)},
    q AS (SELECT unnest([{rqvals}]) AS qx,
                 generate_subscripts([{rqvals}], 1) AS dim),
    short AS (
        SELECT {id_col}
        FROM relems e JOIN dims d USING (dim) JOIN q USING (dim)
        GROUP BY {id_col}
        ORDER BY sum(CASE WHEN (e.x > d.thr) <> (q.qx > d.thr)
                          THEN 1 ELSE 0 END) ASC, {id_col} ASC
        LIMIT {shortlist}
    ),
    elems AS (
        SELECT {id_col}, generate_subscripts({vec_col}, 1) AS dim,
               unnest({vec_col}::DOUBLE[]) AS x
        FROM {table}
    ),
    qraw AS (SELECT unnest([{qvals}]) AS qx,
                    generate_subscripts([{qvals}], 1) AS dim)
    SELECT {id_col},
           round(sqrt(sum((e.x - qraw.qx) * (e.x - qraw.qx))), 6) AS {dist_col}
    FROM elems e JOIN qraw USING (dim)
    WHERE {id_col} IN (SELECT {id_col} FROM short)
    GROUP BY {id_col}
    ORDER BY {dist_col} ASC, {id_col} ASC
    LIMIT {k}
    """


def _dims_cte(table: str, vec_col: str) -> str:
    return f"""
    dims AS (
        SELECT i AS dim, (min(x) + max(x)) / 2.0 AS thr
        FROM (SELECT unnest({vec_col}::DOUBLE[]) AS x,
                     generate_subscripts({vec_col}, 1) AS i
              FROM {table})
        GROUP BY i
    )"""


def bq_hamming_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    dist_col: str = "hamming",
) -> str:
    """Self-contained DuckDB replica of train -> encode -> Hamming -> top-k.

    Thresholds are midranges computed in SQL (exact, order-independent);
    the Hamming distance is the per-dim bit-mismatch count, which equals
    popcount-of-XOR over any packing. No rounding: the score is integer."""
    qvals = ", ".join(repr(float(x)) for x in query)
    return f"""
    WITH {_dims_cte(table, vec_col)},
    q AS (SELECT unnest([{qvals}]) AS qx,
                 generate_subscripts([{qvals}], 1) AS dim),
    elems AS (
        SELECT {id_col}, generate_subscripts({vec_col}, 1) AS dim,
               unnest({vec_col}::DOUBLE[]) AS x
        FROM {table}
    )
    SELECT {id_col},
           sum(CASE WHEN (e.x > d.thr) <> (q.qx > d.thr)
                    THEN 1 ELSE 0 END)::BIGINT AS {dist_col}
    FROM elems e JOIN dims d USING (dim) JOIN q USING (dim)
    GROUP BY {id_col}
    ORDER BY {dist_col} ASC, {id_col} ASC
    LIMIT {k}
    """


def bq_batch_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    query_pred: str,
    k: int,
    dist_col: str = "hamming",
) -> str:
    """DuckDB replica of hamming_join with the query batch drawn from the
    same table by ``query_pred`` (e.g. ``vec_id % 97 = 0``)."""
    return f"""
    WITH {_dims_cte(table, vec_col)},
    bits AS (
        SELECT {id_col}, dim, CASE WHEN x > thr THEN 1 ELSE 0 END AS b
        FROM (SELECT {id_col}, generate_subscripts({vec_col}, 1) AS dim,
                     unnest({vec_col}::DOUBLE[]) AS x
              FROM {table})
        JOIN dims USING (dim)
    ),
    q AS (SELECT {id_col} AS qid, dim, b AS qb FROM bits WHERE {query_pred}),
    d AS (
        SELECT q.qid, bits.{id_col},
               sum(CASE WHEN b <> qb THEN 1 ELSE 0 END)::BIGINT AS {dist_col}
        FROM bits JOIN q USING (dim)
        GROUP BY q.qid, bits.{id_col}
    ),
    r AS (
        SELECT qid, {id_col}, {dist_col},
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {dist_col}, {id_col}) AS rn
        FROM d
    )
    SELECT qid, {id_col}, {dist_col} FROM r WHERE rn <= {k}
    """


def bq_rerank_oracle_sql(
    table: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    shortlist: int = 50,
    dist_col: str = "dist",
) -> str:
    """Hamming shortlist -> exact L2 rerank, mirroring BQModel.rerank_topk
    step by step (same strict->, same tie-breaks, same 6dp final round)."""
    qvals = ", ".join(repr(float(x)) for x in query)
    return f"""
    WITH {_dims_cte(table, vec_col)},
    q AS (SELECT unnest([{qvals}]) AS qx,
                 generate_subscripts([{qvals}], 1) AS dim),
    elems AS (
        SELECT {id_col}, generate_subscripts({vec_col}, 1) AS dim,
               unnest({vec_col}::DOUBLE[]) AS x
        FROM {table}
    ),
    short AS (
        SELECT {id_col}
        FROM elems e JOIN dims d USING (dim) JOIN q USING (dim)
        GROUP BY {id_col}
        ORDER BY sum(CASE WHEN (e.x > d.thr) <> (q.qx > d.thr)
                          THEN 1 ELSE 0 END) ASC, {id_col} ASC
        LIMIT {shortlist}
    )
    SELECT {id_col},
           round(sqrt(sum((e.x - q.qx) * (e.x - q.qx))), 6) AS {dist_col}
    FROM elems e JOIN q USING (dim)
    WHERE {id_col} IN (SELECT {id_col} FROM short)
    GROUP BY {id_col}
    ORDER BY {dist_col} ASC, {id_col} ASC
    LIMIT {k}
    """
