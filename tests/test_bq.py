"""Binary quantization (similarity/bq.py): packing parity between the
Spark HOF encoder and the driver query encoder, Hamming semantics,
shortlist-rerank recall vs exact KNN, and dimension-scaling of the words."""

import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.catalog import read_table
from bustub_vectordb_spark.queries import QUERY_VEC
from bustub_vectordb_spark.similarity.brute import knn
from bustub_vectordb_spark.similarity.bq import WORD_BITS, BQModel


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def model(emb):
    return BQModel.train(emb, "embedding")


def test_spark_and_driver_packing_agree(emb, model):
    """Encoding a stored vector through the Spark HOF chain must equal
    encoding the same floats through encode_query — one packing layout."""
    rows = emb.select(
        "embedding", model.encode_words("embedding").alias("words")
    ).limit(20).collect()
    assert rows
    for r in rows:
        assert list(r["words"]) == model.encode_query(list(r["embedding"]))


def test_hamming_is_bit_mismatch_count(spark):
    """2-dim toy corpus: Hamming equals the hand-counted sign mismatches."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [10.0, 0.0]), (3, [10.0, 10.0])],
        "id bigint, v array<double>",
    )
    m = BQModel.train(df, "v")  # thresholds (5.0, 5.0)
    got = {
        r["id"]: r["hamming"]
        for r in m.hamming_topk(df, "v", "id", [10.0, 10.0], 3).collect()
    }
    assert got == {3: 0, 2: 1, 1: 2}


def test_word_count_scales_with_dims(spark):
    """A corpus wider than one word packs into ceil(d/WORD_BITS) words and
    the two encoders still agree (exercises the slice boundary)."""
    d = WORD_BITS + 7
    df = spark.createDataFrame(
        [(i, [float((i * j) % 5 - 2) for j in range(d)]) for i in range(6)],
        "id bigint, v array<double>",
    )
    m = BQModel.train(df, "v")
    assert m.n_words == 2
    for r in df.select("v", m.encode_words("v").alias("w")).collect():
        assert list(r["w"]) == m.encode_query(list(r["v"]))


def test_rerank_recall_vs_exact(emb, model):
    """1-bit codes are lossy; the Hamming-shortlist -> exact-rerank recipe
    must still recover most of the exact top-10."""
    exact = [r["vec_id"] for r in knn(emb, "embedding", QUERY_VEC, 10).collect()]
    got = [
        r["vec_id"]
        for r in model.rerank_topk(
            emb, "embedding", "vec_id", QUERY_VEC, 10, shortlist=50
        ).collect()
    ]
    recall = len(set(exact) & set(got)) / 10
    assert recall >= 0.7, f"BQ rerank recall@10 {recall}"


def test_rerank_exact_distances(emb, model):
    """Reranked distances are the true L2 (sqrt of the exact sum), so any
    id present in both exact KNN and the rerank output carries the same
    rounded distance."""
    exact = {
        r["vec_id"]: round(r["distance"], 6)
        for r in knn(emb, "embedding", QUERY_VEC, 10).collect()
    }
    got = {
        r["vec_id"]: r["dist"]
        for r in model.rerank_topk(emb, "embedding", "vec_id", QUERY_VEC, 10).collect()
    }
    common = set(exact) & set(got)
    assert common
    for vid in common:
        assert abs(exact[vid] - got[vid]) < 1e-5


def test_hamming_join_matches_single_probes(emb, model):
    """Batch serving must equal running hamming_topk per query."""
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    batch = {
        (r["qid"], r["vec_id"]): r["hamming"]
        for r in model.hamming_join(
            queries, "embedding", "vec_id", emb, "embedding", "vec_id", 5
        ).collect()
    }
    qvecs = {r["vec_id"]: list(r["embedding"]) for r in queries.collect()}
    for qid, qv in qvecs.items():
        single = {
            (qid, r["vec_id"]): r["hamming"]
            for r in model.hamming_topk(emb, "embedding", "vec_id", qv, 5).collect()
        }
        assert {k: v for k, v in batch.items() if k[0] == qid} == single


def test_hamming_join_no_preshuffle(emb, model):
    """The corpus side reaches the top-k window without an Exchange below
    the broadcast join (queries are broadcast; the only hash Exchange is
    the per-qid window partitioning)."""
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    plan = model.hamming_join(
        queries, "embedding", "vec_id", emb, "embedding", "vec_id", 5
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ivf_bq_probe_recall_and_codes_only(spark, emb, sf_dir):
    """BQ codes: probed recall vs exact KNN holds, and the shortlist
    stage scans the codes relation (no raw-vector column below the
    shortlist's TakeOrdered)."""
    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.similarity.ivfcodes import BQCodes, IVFCodesIndex

    ivf = IVFFlatIndex.build(
        emb, "embedding", lists=8, probe_lists=4, max_iter=5, init_order="vec_id"
    )
    idx = IVFCodesIndex.build(ivf, "embedding", "vec_id", BQCodes())
    got = idx.probe(QUERY_VEC, k=10, rerank=40, probe_lists=8).collect()
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY_VEC, 10).collect()}
    assert len({r["vec_id"] for r in got} & exact) / 10 >= 0.5
    assert idx.codes.columns == ["vec_id", "__bucket", idx.form.codes_col]


def test_encode_rejects_wrong_dims(spark, model):
    """A corpus row with the wrong dimensionality must ERROR, not encode
    as silent zero bits (review finding)."""
    import pyspark

    df = spark.createDataFrame([(1, [0.5, 0.5])], "id bigint, v array<double>")
    with pytest.raises(Exception, match="dims"):
        df.select(model.encode_words("v").alias("w")).collect()


def test_ivf_bq_per_bucket_beats_global_on_clustered(spark):
    """The scale-drill regression in miniature: a strongly clustered
    corpus where GLOBAL midranges collapse each cluster's codes to one
    word. Per-bucket thresholds must recover in-cluster discrimination."""
    import numpy as np

    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.similarity.ivfcodes import BQCodes, IVFCodesIndex

    rng = np.random.RandomState(7)
    centers = rng.uniform(-100, 100, size=(4, 16))
    rows = []
    for i in range(400):
        c = centers[i % 4]
        rows.append((i, (c + rng.uniform(-1, 1, 16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    ivf = IVFFlatIndex.build(
        df, "embedding", lists=4, probe_lists=1, max_iter=5, init_order="vec_id"
    )
    q = rows[0][1]
    exact = {
        r["vec_id"]
        for r in knn(df, "embedding", q, 10).collect()
    }

    def recall(idx):
        got = {r["vec_id"] for r in idx.probe(q, k=10, rerank=20, probe_lists=1).collect()}
        return len(got & exact) / 10

    g = recall(IVFCodesIndex.build(ivf, "embedding", "vec_id", BQCodes()))
    l = recall(IVFCodesIndex.build(ivf, "embedding", "vec_id", BQCodes(per_bucket=True)))
    assert l >= g, (l, g)
    assert l >= 0.6, l
