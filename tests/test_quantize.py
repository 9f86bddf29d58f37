"""SQ8 scalar quantization (similarity/quantize.py): code bounds,
constant-dimension guard, ADC recall vs exact KNN, round-trip error bound."""

import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.catalog import read_table
from bustub_vectordb_spark.queries import QUERY_VEC
from bustub_vectordb_spark.similarity.brute import knn
from bustub_vectordb_spark.similarity.quantize import SQ8Model, dim_stats


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def model(emb):
    return SQ8Model.train(emb, "embedding")


def test_codes_in_byte_range(emb, model):
    stats = emb.select(
        F.array_min(model.encode("embedding")).alias("lo"),
        F.array_max(model.encode("embedding")).alias("hi"),
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).collect()[0]
    assert 0 <= stats["lo"] and stats["hi"] <= 255


def test_constant_dim_encodes_zero(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0])], "id bigint, v array<double>"
    )
    m = SQ8Model.train(df, "v")
    codes = {r["id"]: r["c"] for r in df.select("id", m.encode("v").alias("c")).collect()}
    assert codes[1][0] == 0 and codes[2][0] == 0  # dim 0 constant
    assert codes[1][1] == 0 and codes[2][1] == 255  # dim 1 spans the range


def test_roundtrip_error_bounded(emb, model):
    """Decoded values deviate from the original by at most scale/2 + eps
    per dimension (the quantizer's resolution bound)."""
    scales = [(hi - lo) / 255.0 for lo, hi in zip(model.mins, model.maxs)]
    max_scale = max(scales)
    mn = F.array(*[F.lit(float(v)) for v in model.mins])
    mx = F.array(*[F.lit(float(v)) for v in model.maxs])
    decoded = F.transform(
        model.encode("embedding"),
        lambda c, i: F.get(mn, i) + c * (F.get(mx, i) - F.get(mn, i)) / 255.0,
    )
    worst = emb.select(
        F.array_max(
            F.zip_with(
                decoded,
                F.col("embedding").cast("array<double>"),
                lambda d, x: F.abs(d - x),
            )
        ).alias("err")
    ).agg(F.max("err").alias("e")).collect()[0]["e"]
    assert worst <= max_scale / 2 + 1e-9


def test_adc_recall_vs_exact(emb, model):
    exact = [r["vec_id"] for r in knn(emb, "embedding", QUERY_VEC, 10).collect()]
    approx = [
        r["vec_id"]
        for r in model.adc_topk(emb, "embedding", "vec_id", QUERY_VEC, 10).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, f"SQ8 recall@10 {recall}"


def test_adc_recall_cosine_and_ip(emb, model):
    """ADC compressed serving for the other two reference ops classes
    (vector_cosine_ops / vector_ip_ops, catalog.h:322-331): asymmetric
    scores over decoded codes keep recall vs the exact similarity top-k."""
    from bustub_vectordb_spark.functions.vector import cosine_similarity, inner_product

    exact_cos = [
        r["vec_id"]
        for r in emb.select("vec_id", cosine_similarity("embedding", QUERY_VEC).alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    approx_cos = [
        r["vec_id"]
        for r in model.adc_topk(
            emb, "embedding", "vec_id", QUERY_VEC, 10, metric="cosine"
        ).collect()
    ]
    assert len(set(exact_cos) & set(approx_cos)) / 10 >= 0.9

    exact_ip = [
        r["vec_id"]
        for r in emb.select("vec_id", inner_product("embedding", QUERY_VEC).alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    approx_ip = [
        r["vec_id"]
        for r in model.adc_topk(
            emb, "embedding", "vec_id", QUERY_VEC, 10, metric="ip"
        ).collect()
    ]
    assert len(set(exact_ip) & set(approx_ip)) / 10 >= 0.9


def test_ivf_sq8_cosine_index_probe(emb):
    """SQ8 codes on a cosine IVF index: ADC shortlist + exact re-rank both
    order descending; results match the exact cosine top-k within the
    probed buckets (all buckets probed → fully exact)."""
    from bustub_vectordb_spark.functions.vector import cosine_similarity
    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.similarity.ivfcodes import IVFCodesIndex, SQ8Codes

    idx = IVFFlatIndex.build(
        emb, "embedding", lists=8, probe_lists=8, dist="cosine",
        max_iter=5, init_order="vec_id",
    )
    sq = IVFCodesIndex.build(idx, "embedding", "vec_id", SQ8Codes())
    got = [r["vec_id"] for r in sq.probe(QUERY_VEC, k=10, rerank=40).collect()]
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", cosine_similarity("embedding", QUERY_VEC).alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert len(set(got) & set(exact)) / 10 >= 0.9


def test_ivf_sq8_rerank_recall(spark, emb, sf_dir):
    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.similarity.ivfcodes import IVFCodesIndex, SQ8Codes

    idx = IVFFlatIndex.build(
        emb, "embedding", lists=8, probe_lists=4, max_iter=5, init_order="vec_id"
    )
    sq = IVFCodesIndex.build(
        idx, "embedding", "vec_id", SQ8Codes(SQ8Model.train(emb, "embedding"))
    )
    exact = [r["vec_id"] for r in knn(emb, "embedding", QUERY_VEC, 10).collect()]
    got = [
        r["vec_id"]
        for r in sq.probe(QUERY_VEC, k=10, rerank=40, probe_lists=4).collect()
    ]
    recall = len(set(exact) & set(got)) / 10
    # 4/8 buckets probed: misses can only come from bucket pruning
    assert recall >= 0.7, f"IVFSQ recall@10 {recall}"
    # within the probed buckets the result is exact (rerank covers k)
    assert got == sorted(got, key=lambda v: exact.index(v) if v in exact else 999)


def test_probe_plan_reads_codes_only(spark, emb):
    """The materialized-codes contract (VERDICT r2 item 5): the ADC stage of
    an SQ8 codes probe must scan the stored codes relation — the raw
    embedding column appears nowhere in its plan. Only the rerank stage
    (bounded to `rerank` rows) touches vectors."""
    import io
    from contextlib import redirect_stdout

    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.shipping import release_checkpoint
    from bustub_vectordb_spark.similarity.ivfcodes import IVFCodesIndex, SQ8Codes

    idx = IVFFlatIndex.build(
        emb, "embedding", lists=8, probe_lists=4, max_iter=5, init_order="vec_id"
    )
    sq = IVFCodesIndex.build(idx, "embedding", "vec_id", SQ8Codes())
    codes_col = sq.form.codes_col
    try:
        buckets = idx.rank_buckets(QUERY_VEC)[:4]
        adc = sq.codes.filter(F.col("__bucket").isin(buckets)).select(
            "vec_id", sq.form.score(codes_col, QUERY_VEC, buckets, idx).alias("__adc")
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            adc.explain("formatted")
        plan = buf.getvalue()
        # codes come from the stored (vector-free) checkpoint leaf: the
        # probe's own scan — "(1) Scan ExistingRDD" — outputs exactly
        # (id, bucket, codes). The leaf carries no build lineage at all.
        assert "Scan ExistingRDD" in plan
        scan_out = plan.split("(1) Scan ExistingRDD")[1].splitlines()[1]
        assert "Output" in scan_out
        assert codes_col in scan_out
        assert "embedding" not in scan_out, "ADC stage must not read raw vectors"
        # the end-to-end probe serves from the same codes
        got = sq.probe(QUERY_VEC, k=10, rerank=40, probe_lists=4).collect()
        assert len(got) == 10
    finally:
        release_checkpoint(sq.codes)


def test_sql_create_index_sq8(spark, emb):
    """CREATE INDEX ... USING ivfflat WITH (sq8=1): the registered index
    stores materialized codes, the planner routes KNN through it, and the
    rerank recovers exact ordering within the probed buckets."""
    from bustub_vectordb_spark.index.selection import plan_knn
    from bustub_vectordb_spark.similarity.ivfcodes import IVFCodesIndex, SQ8Codes
    from bustub_vectordb_spark.sql import SqlEngine

    engine = SqlEngine(spark)
    engine.catalog.register("emb_sq8", emb)
    engine.execute(
        "CREATE INDEX sq8_idx ON emb_sq8 USING ivfflat (embedding vector_l2_ops)"
        " WITH (lists = 8, probe_lists = 8, sq8 = 1, rerank = 40);"
    )
    (info,) = engine.indexes.lookup("emb_sq8", "embedding")
    assert isinstance(info.index, IVFCodesIndex)
    assert isinstance(info.index.form, SQ8Codes)
    assert info.index.default_rerank == 40

    plan = plan_knn(engine.indexes, "emb_sq8", emb, "embedding", QUERY_VEC, 10)
    assert plan.strategy == "vector_index_scan(ivfflat)"
    got = [r["vec_id"] for r in plan.df.collect()]
    # probe_lists = lists → all buckets probed; rerank ≥ k → exact top-k
    exact = [r["vec_id"] for r in knn(emb, "embedding", QUERY_VEC, 10).collect()]
    assert got == exact


def test_sq8_refuses_pq_quantized_graph():
    """Reciprocal of the SQ8-first guard: SQ8-encoding a PQ graph would
    silently no-op (vecs already None) — must refuse instead."""
    import numpy as np
    import pytest

    from bustub_vectordb_spark.index.hnsw import _Graph

    g = _Graph(4, 16, 16, "l2", 42)
    g.add_all(list(range(40)), np.random.default_rng(3).standard_normal((40, 8)))
    books = [np.asarray([[0.0] * 4, [1.0] * 4])] * 2
    g.quantize_pq(books, [(0, 4), (4, 8)])
    with pytest.raises(ValueError, match="PQ-quantized"):
        g.quantize_sq8([0.0] * 8, [1.0] * 8)
