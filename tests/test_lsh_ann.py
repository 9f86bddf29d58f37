"""LSH-bucketed ANN (similarity/lsh_ann.py) — candidate-set determinism,
probe semantics, and recall vs exact cosine KNN. The oracle gate already
hash-matches the probe outputs vs DuckDB; these tests cover the properties
the gate can't see (self-retrieval, recall, plan shape)."""

import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.queries import QUERY_VEC
from bustub_vectordb_spark.similarity.lsh_ann import (
    lsh_knn,
    lsh_knn_batch,
    make_planes,
    packed_code,
    probe_codes,
    query_code,
)


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


def test_probe_codes_enumeration():
    codes = probe_codes(0b1010, 4, 1)
    assert codes == [0b1010, 0b1011, 0b1000, 0b1110, 0b0010]
    # ball sizes: sum C(16, i) for i <= 3
    assert len(probe_codes(12345, 16, 3)) == 1 + 16 + 120 + 560


def test_row_code_matches_driver_code(emb):
    """The Spark packed_code expression and the driver-side query_code must
    agree on the same vector — otherwise a query would probe the wrong
    Hamming ball around its own bucket."""
    planes = make_planes(16, 64, seed=42)
    rows = (
        emb.select("vec_id", "embedding", packed_code("embedding", planes).alias("code"))
        .limit(20)
        .collect()
    )
    for r in rows:
        assert r["code"] == query_code(list(r["embedding"]), planes), r["vec_id"]


def test_self_retrieval(emb):
    """A query identical to a stored vector has Hamming distance 0 to its
    own bucket — it must always be the top hit (similarity 1)."""
    for r in emb.filter(F.col("vec_id").isin([3, 111, 222])).collect():
        hits = lsh_knn(
            emb, "embedding", "vec_id", list(r["embedding"]), 3, max_hamming=1
        ).collect()
        assert hits[0]["vec_id"] == r["vec_id"]
        assert hits[0]["similarity"] == pytest.approx(1.0, abs=1e-6)


def test_results_subset_of_exact_ordering(emb):
    """Probe hits are exact-cosine-scored: every returned similarity must
    equal the brute-force similarity for that id, descending."""
    from bustub_vectordb_spark.functions.vector import cosine_similarity

    hits = lsh_knn(emb, "embedding", "vec_id", QUERY_VEC, 10, max_hamming=3).collect()
    assert len(hits) >= 1
    sims = [r["similarity"] for r in hits]
    assert sims == sorted(sims, reverse=True)
    truth = {
        r["vec_id"]: r["s"]
        for r in emb.select(
            "vec_id", F.round(cosine_similarity("embedding", QUERY_VEC), 8).alias("s")
        ).collect()
    }
    for r in hits:
        assert r["similarity"] == pytest.approx(truth[r["vec_id"]], abs=1e-8)


@pytest.mark.slow
def test_recall_grows_with_hamming_radius(emb):
    """Widening the multi-probe ball can only add candidates; at h =
    n_planes the ball is the whole space → results equal exact KNN."""
    exact = [
        r["vec_id"]
        for r in lsh_knn(
            emb, "embedding", "vec_id", QUERY_VEC, 10, n_planes=16, max_hamming=16
        ).collect()
    ]
    from bustub_vectordb_spark.functions.vector import cosine_similarity

    brute = [
        r["vec_id"]
        for r in emb.select(
            "vec_id", cosine_similarity("embedding", QUERY_VEC).alias("s")
        )
        .orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert exact == brute

    r2 = {r["vec_id"] for r in lsh_knn(emb, "embedding", "vec_id", QUERY_VEC, 10, max_hamming=2).collect()}
    r4 = {r["vec_id"] for r in lsh_knn(emb, "embedding", "vec_id", QUERY_VEC, 10, max_hamming=4).collect()}
    assert len(r4 & set(brute)) >= len(r2 & set(brute))


def test_batch_probe_matches_single_probes(emb):
    """The batch equi-join on exploded probe codes must return exactly what
    per-query single probes return (same Hamming ball, same top-k)."""
    qids = [0, 50, 100]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    batch = lsh_knn_batch(
        emb, "embedding", "vec_id", queries, "qid", "qv", k=5, max_hamming=2
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["qid"], []).append((r["vec_id"], r["similarity"]))
    for r in emb.filter(F.col("vec_id").isin(qids)).collect():
        single = [
            (h["vec_id"], h["similarity"])
            for h in lsh_knn(
                emb, "embedding", "vec_id", list(r["embedding"]), 5, max_hamming=2
            ).collect()
        ]
        assert got[r["vec_id"]] == single


def test_probe_stays_jvm_side(emb):
    """The whole probe (code computation, filter, top-k) must be codegen'd
    JVM expressions — no Python evaluation on the data path."""
    import io
    from contextlib import redirect_stdout

    df = lsh_knn(emb, "embedding", "vec_id", QUERY_VEC, 10)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "pythonUDF" not in p
