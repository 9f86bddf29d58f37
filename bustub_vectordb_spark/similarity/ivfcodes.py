"""One IVF codes index: IVF routing over bucket rows stored as compressed
codes — the FAISS IVFSQ and IVFPQ layouts and a 1-bit IVFBQ, served by one
build, one probe and one save.

The reference serves one IVF layout (src/storage/index/ivfflat_index.cpp
104-144): rank the centroids, scan the nearest ``probe_lists`` buckets, take
the top-k. Here a bucket's rows are stored as codes with NO raw-vector
column, so the scan that ranks them reads 1 byte per dim (SQ8), 1 bit per
dim (BQ) or m small ints (PQ) instead of 8 bytes per dim — at 100 TB the
difference between a RAM-resident codes sweep and a spilling float scan.
Raw vectors are read only to re-rank a shortlist exactly. One pipeline
serves every form:

  build   train the form on the IVF assignments, encode every row once into
          (id, bucket, codes), and store that in a checkpoint leaf the index
          owns (``shipping.release_checkpoint`` frees it);
  probe   route → the form's score over the probed buckets' codes (after
          the ``where`` semi-join) → the top-``rerank`` by (score, id) →
          exact distance on the shortlist's raw vectors → top-k by
          (distance, id).

A storage form is the only code that knows its codes. It supplies the
encode, the shortlist score with its rounding and direction, and the
rounding of the exact distance, as values it holds; the probe never asks
which form it serves. Forms whose query side differs per bucket (BQ with
per-bucket thresholds, residual PQ) take the query form of the row's bucket
from one literal table (:func:`by_bucket`), and a global form is that
table's one-entry case.

Every step is deterministic (ties broken by id), so the approximation —
bucket pruning and shortlist depth — is part of the hash-gated semantics
(queries.py ``ann_ivf_sq8_rerank*``, ``ann_ivf_bq*_rerank``,
``ann_ivfpq*_rerank``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .. import fold
from ..index.ivfflat import BUCKET_COL, IVFFlatIndex
from .bq import BQModel, hamming_words
from .brute import ASCENDING, DIST_FNS
from .pq import PQModel, _split, adc_fold
from .quantize import SQ8Model


def by_bucket(buckets, values: list, schema: str) -> str:
    """SQL text of ``values[i]`` for a row of bucket ``buckets[i]``: one
    literal table (one plan node at any size, ``fold.sql_lit``) indexed
    by the row's bucket. A one-entry table needs no index: a global form,
    or a probe of one bucket."""
    table = fold.sql_lit(values, f"array<{schema}>")
    if len(values) == 1:
        return f"element_at({table}, 1)"
    keys = fold.sql_lit([int(b) for b in buckets], "array<int>")
    return f"element_at({table}, CAST(array_position({keys}, {fold.sql_col(BUCKET_COL)}) AS INT))"


class CodesForm:
    """What every storage form holds besides its model: the codes column
    name (the on-disk layout of saved indexes), the shortlist score's
    rounding (None: the score is used as computed) and direction, and the
    rounding of the exact re-rank distance. A form is constructed from its
    build parameters; ``train`` returns it trained, and state that only
    training or ``load`` sets is not a constructor argument."""

    codes_col = "__codes"
    score_dp: int | None = None
    score_asc = True
    exact_dp: int | None = None

    def encode(self, ivf, vec_col: str, id_col: str) -> DataFrame:
        """(id, bucket, codes) over the IVF assignments — no raw vectors."""
        return ivf.assignments.select(
            F.col(id_col), F.col(BUCKET_COL), self.code(ivf, vec_col).alias(self.codes_col)
        )

    def save(self, spark, path: str) -> dict:
        """Write the form's model beside the codes; returns its meta columns."""
        raise NotImplementedError(
            f"{type(self).__name__} indexes are not persisted; rebuild them instead"
        )


@dataclass
class SQ8Codes(CodesForm):
    """SQ8 storage: one byte per dimension (similarity/quantize.py), for the
    l2, cosine and ip ops classes. ``model`` trains on the IVF assignments
    when not given. The ADC score is rounded to 9 dp before ordering: Spark
    folds the dim sum left to right and DuckDB's list_sum may differ in the
    last bits, so the rounding makes the shortlist boundary
    engine-independent. The exact distance is rounded to 8 dp."""

    model: SQ8Model | None = None
    metric: str = field(default="l2", init=False)

    score_dp = 9
    exact_dp = 8

    @property
    def score_asc(self) -> bool:
        return SQ8Model._METRICS[self.metric]

    def train(self, ivf, vec_col: str, id_col: str) -> "SQ8Codes":
        if ivf.dist not in SQ8Model._METRICS:
            raise ValueError(
                f"SQ8 codes support {sorted(SQ8Model._METRICS)} indexes, got {ivf.dist!r}"
            )
        out = SQ8Codes(self.model or SQ8Model.train(ivf.assignments, vec_col))
        out.metric = ivf.dist
        return out

    def code(self, ivf, vec_col: str) -> Column:
        return self.model.encode(vec_col)

    def score(self, codes: str, query: list[float], buckets: list[int], ivf) -> Column:
        return self.model.adc_score(fold.sql_col(codes), query, self.metric)

    def save(self, spark, path: str) -> dict:
        spark.createDataFrame(
            [(i, float(mn), float(mx)) for i, (mn, mx) in enumerate(zip(self.model.mins, self.model.maxs))],
            "dim int, mn double, mx double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
        return {}

    @classmethod
    def load(cls, spark, path: str, meta: dict) -> "SQ8Codes":
        stats = spark.read.parquet(f"{path}/stats").orderBy("dim").collect()
        out = cls(SQ8Model([r["mn"] for r in stats], [r["mx"] for r in stats]))
        out.metric = meta["dist"]
        return out


@dataclass
class BQCodes(CodesForm):
    """BQ storage: 1 bit per dimension packed into 32-bit words
    (similarity/bq.py), scored by integer Hamming — no rounding anywhere
    before the rerank; the exact distance is rounded to 8 dp.

    Thresholds are the global midranges (``model``, trained on the IVF
    assignments when not given) or, with ``per_bucket``, each bucket's own
    (``model`` is then unused).
    A bucket is one cluster, and global midranges put the whole cluster on
    one side of every dim, collapsing its codes to the same word (2.2M
    drill: recall 0.856 → 0.10); bucket-local thresholds split the local
    distribution — the 1-bit analog of IVF residual encoding. The
    per-bucket thresholds are driver-resident, O(buckets × dims), the size
    of the centroid table."""

    model: BQModel | None = None
    per_bucket: bool = False
    bucket_thresholds: dict[int, list[float]] | None = field(default=None, init=False)

    codes_col = "__bq_words"
    exact_dp = 8

    def train(self, ivf, vec_col: str, id_col: str) -> "BQCodes":
        if not self.per_bucket:
            return BQCodes(self.model or BQModel.train(ivf.assignments, vec_col))
        rows = (
            ivf.assignments.select(
                F.col(BUCKET_COL).alias("b"),
                F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
            )
            .groupBy("b", "dim")
            .agg(((F.min("x") + F.max("x")) / 2.0).alias("thr"))
            .orderBy("b", "dim")
            .collect()
        )
        thr: dict[int, list[float]] = {}
        for r in rows:
            thr.setdefault(r["b"], []).append(r["thr"])
        # the words' shape (n_words) comes from the thresholds' dims
        out = BQCodes(BQModel(next(iter(thr.values()))), True)
        out.bucket_thresholds = thr
        return out

    def code(self, ivf, vec_col: str) -> Column:
        if self.bucket_thresholds is None:
            return self.model.encode_words(vec_col)
        thr = self.bucket_thresholds
        return self.model.encode_words(
            vec_col, F.expr(by_bucket(list(thr), list(thr.values()), "array<double>"))
        )

    def score(self, codes: str, query: list[float], buckets: list[int], ivf) -> Column:
        if self.bucket_thresholds is None:
            probed, words = [], [self.model.encode_query(query)]
        else:
            thr = self.bucket_thresholds
            probed = [b for b in buckets if b in thr]  # a bucket without rows has none
            words = [BQModel(thr[b]).encode_query(query) for b in probed]
        return hamming_words(F.col(codes), F.expr(by_bucket(probed, words, "array<bigint>")))


@dataclass
class PQCodes(CodesForm):
    """PQ storage: ``m`` codes of ``k`` centroids per vector
    (similarity/pq.py), l2 only, scored by the unrounded ADC fold over the
    query's m×k lookup table; the exact distance is unrounded too.

    ``residual`` (IVFADC, Jégou 2011 §III-D — the default) codes the
    RESIDUAL x − centroid[bucket(x)]. On clustered corpora global codebooks
    spend their k centroids separating clusters, so a bucket's codes
    collapse toward a few codewords (1.2M clustered rows: global recall@10
    0.128 against residual 0.906, drills/drill_1200k_ivf_tiers.json);
    residuals re-center every bucket at the origin so the codebook budget
    resolves local structure. The query's table is then q − centroid[b] per
    probed bucket. ``residual=False`` keeps one global table (uniform
    corpora measure the two equal: sf0.01 recall report 0.785 residual
    against 0.795 global)."""

    m: int = 16
    k: int = 32
    residual: bool = True
    model: PQModel | None = field(default=None, init=False)

    codes_col = "codes"

    def _source(self, ivf, vec_col: str) -> DataFrame:
        """The IVF assignments with ``__src``, the vectors the codebooks
        quantize: raw, or residuals (an elementwise subtraction, no order
        to vary)."""
        v = fold.sql_operand(vec_col)
        if self.residual:
            cents = by_bucket(range(len(ivf.centroids)), ivf.centroids, "array<double>")
            v = f"zip_with({v}, {cents}, (__x, __c) -> __x - __c)"
        return ivf.assignments.withColumn("__src", F.expr(v))

    def train(self, ivf, vec_col: str, id_col: str) -> "PQCodes":
        if ivf.dist != "l2":
            raise ValueError("PQ codes support l2 indexes (the ADC lookup table is l2)")
        out = PQCodes(self.m, self.k, self.residual)
        out.model = PQModel.train(self._source(ivf, vec_col), "__src", id_col, m=self.m, k=self.k)
        return out

    def encode(self, ivf, vec_col: str, id_col: str) -> DataFrame:
        return self.model.encode(
            self._source(ivf, vec_col), "__src", id_col, self.codes_col, keep=(BUCKET_COL,)
        )

    def score(self, codes: str, query: list[float], buckets: list[int], ivf) -> Column:
        if not self.residual:
            luts = [self.model.lut(query)]
        else:
            q = np.asarray(query, dtype=np.float64)
            luts = [
                self.model.lut([float(x) for x in q - np.asarray(ivf.centroids[b])])
                for b in buckets
            ]
        return adc_fold(fold.sql_col(codes), by_bucket(buckets, luts, "array<array<double>>"))

    def save(self, spark, path: str) -> dict:
        rows = [
            (i, j, [float(x) for x in self.model.centroids[i][j]])
            for i in range(self.model.m)
            for j in range(self.model.k)
        ]
        spark.createDataFrame(
            rows, "subspace int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
        return {"residual": ("int", int(self.residual))}

    @classmethod
    def load(cls, spark, path: str, meta: dict) -> "PQCodes":
        cb = spark.read.parquet(f"{path}/codebooks").collect()
        m = max(r["subspace"] for r in cb) + 1
        cents = []
        for i in range(m):
            sub = sorted((r for r in cb if r["subspace"] == i), key=lambda r: r["code"])
            cents.append(np.asarray([list(r["centroid"]) for r in sub], dtype=np.float64))
        # saves from before residual codes carry no residual column
        out = cls(m, len(cents[0]), bool(meta.get("residual", 0)))
        out.model = PQModel(cents, _split(sum(c.shape[1] for c in cents), m))
        return out


def _exists(spark, path: str) -> bool:
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


@dataclass
class IVFCodesIndex:
    """An IVF index whose bucket rows are stored as codes in one storage
    form (:class:`SQ8Codes`, :class:`BQCodes` or :class:`PQCodes`). The
    probe's scan provably reads codes, not vectors
    (tests/test_quantize.py::test_probe_plan_reads_codes_only)."""

    ivf: object  # IVFFlatIndex
    form: SQ8Codes | BQCodes | PQCodes
    codes: DataFrame  # (id_col, BUCKET_COL, form.codes_col) — no raw vectors
    vec_col: str
    id_col: str
    # probes without an explicit rerank depth use this; None → 4×k
    default_rerank: int | None = None

    @classmethod
    def build(cls, ivf, vec_col: str, id_col: str, form) -> "IVFCodesIndex":
        """Train ``form`` on ``ivf``'s assignments (keeping a model the form
        was given) and encode every row once. The codes are a checkpoint leaf this
        index owns: a second build over the same input gets a leaf of its
        own, where a cache() entry is shared by every equal plan."""
        form = form.train(ivf, vec_col, id_col)
        codes = form.encode(ivf, vec_col, id_col).localCheckpoint(eager=True)
        return cls(ivf, form, codes, vec_col, id_col)

    @property
    def assignments(self) -> DataFrame:
        """The underlying IVF assignment relation — lets the planner's
        filtered-search dispatch (index/selection.py) route a ``where``
        predicate here instead of the HNSW allowed-set path."""
        return self.ivf.assignments

    def probe(
        self,
        query: list[float],
        k: int,
        rerank: int | None = None,
        probe_lists: int | None = None,
        dist_col: str = "distance",
        where=None,
    ) -> DataFrame:
        """route → the form's score over codes → exact re-rank of the
        shortlist.

        1. the ``probe_lists`` nearest IVF buckets (driver-side, O(lists));
        2. the form's score over those buckets' CODES (the codes leaf — raw
           vectors unread), top-``rerank`` by (score, id);
        3. the exact distance on raw vectors for the shortlist ids only
           (broadcast into the fetch join), top-``k`` by (distance, id).

        ``where`` (Column predicate over the base table) plans FILTERED
        search: matching ids semi-join into the codes scan BEFORE the
        shortlist, so the top-k is taken among matching rows. The re-rank
        follows the IVF index's ops class: ascending for l2, descending for
        the similarities. ``rerank`` defaults to ``default_rerank``, else
        4×k, and must be at least 1.
        """
        if rerank is None:
            rerank = 4 * k if self.default_rerank is None else self.default_rerank
        if rerank < 1:
            raise ValueError(f"rerank must be >= 1 (got {rerank})")
        form = self.form
        buckets = self.ivf.rank_buckets(query)[: (probe_lists or self.ivf.probe_lists)]
        in_buckets = F.expr(fold.sql_int_in(BUCKET_COL, buckets))
        cand = self.codes.filter(in_buckets)
        if where is not None:
            allowed = self.ivf.assignments.filter(where).select(self.id_col)
            cand = cand.join(allowed, self.id_col, "left_semi")
        score = form.score(form.codes_col, query, buckets, self.ivf)
        if form.score_dp is not None:
            score = F.round(score, form.score_dp)
        shortlist = (
            cand.select(F.col(self.id_col), score.alias("__score"))
            .orderBy(
                F.col("__score").asc() if form.score_asc else F.col("__score").desc(),
                F.col(self.id_col).asc(),
            )
            .limit(rerank)
        )
        # raw-vector fetch: only the probed buckets are scanned (partition
        # pruning on bucket-partitioned storage) and only shortlist ids
        # survive the broadcast semi-join
        raw = self.ivf.assignments.filter(in_buckets).select(
            F.col(self.id_col), F.col(self.vec_col)
        )
        exact = DIST_FNS[self.ivf.dist](self.vec_col, query)
        if form.exact_dp is not None:
            exact = F.round(exact, form.exact_dp)
        order = F.col(dist_col).asc() if ASCENDING[self.ivf.dist] else F.col(dist_col).desc()
        return (
            raw.join(F.broadcast(shortlist.select(self.id_col)), self.id_col)
            .select(F.col(self.id_col), exact.alias(dist_col))
            .orderBy(order, F.col(self.id_col).asc())
            .limit(k)
        )

    def save(self, path: str) -> None:
        """Codes partitioned by bucket (probe = partition pruning on disk),
        the form's model (SQ8 ``stats`` or PQ ``codebooks``), ``meta`` and
        the IVF index's own layout beside them, so ``load`` restores a
        probe-identical index. A BQ form is refused before anything is
        written."""
        spark = self.codes.sparkSession
        extra = self.form.save(spark, path)
        self.codes.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(f"{path}/codes")
        cols = {
            "vec_col": ("string", self.vec_col),
            "id_col": ("string", self.id_col),
            "probe_lists": ("int", int(self.ivf.probe_lists)),
            "dist": ("string", self.ivf.dist),
            "default_rerank": ("int", self.default_rerank),
            **extra,
        }
        spark.createDataFrame(
            [tuple(v for _, v in cols.values())],
            ", ".join(f"{c} {t}" for c, (t, _) in cols.items()),
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        self.ivf.save(f"{path}/ivf")

    @classmethod
    def load(cls, spark, path: str) -> "IVFCodesIndex":
        meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
        form_cls = SQ8Codes if _exists(spark, f"{path}/stats") else PQCodes
        form = form_cls.load(spark, path, meta)
        ivf = IVFFlatIndex.load(
            spark, f"{path}/ivf", meta["vec_col"], meta["probe_lists"], meta.get("dist", "l2")
        )
        codes = spark.read.parquet(f"{path}/codes").persist()
        return cls(ivf, form, codes, meta["vec_col"], meta["id_col"], meta.get("default_rerank"))
