"""The IVF codes index (similarity/ivfcodes.py) across its storage forms:
save/load round trips, the BQ save refusal, and codes storage each index
owns."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
from bustub_vectordb_spark.similarity.ivfcodes import (
    BQCodes,
    IVFCodesIndex,
    PQCodes,
    SQ8Codes,
)

QUERY = [0.1 * ((i % 7) - 3) for i in range(64)]


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


def _clustered(spark):
    rng = np.random.RandomState(3)
    X = rng.uniform(-5, 5, size=(400, 16))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(400)],
        "vec_id bigint, embedding array<double>",
    )
    return df, X[7].tolist()


@pytest.mark.parametrize("form", ["sq8", "pq", "pq-residual"])
def test_save_load_roundtrip(spark, emb, tmp_path, form):
    """Every persisted form saves (bucket-partitioned codes + its model +
    meta + IVF layout) and the reloaded index probes identically: SQ8 keeps
    its quantizer stats, PQ its codebooks and probe_lists, residual PQ its
    residual flag (global tables against residual codes would score
    garbage), and every form its default rerank depth."""
    from bustub_vectordb_spark.similarity.quantize import SQ8Model

    if form == "pq-residual":
        df, q = _clustered(spark)
        ivf = IVFFlatIndex.build(
            df, "embedding", lists=4, probe_lists=2, max_iter=5, init_order="vec_id"
        )
        idx = IVFCodesIndex.build(ivf, "embedding", "vec_id", PQCodes(m=8, k=16))
        k, idx.default_rerank = 5, 20
    else:
        ivf = IVFFlatIndex.build(
            emb, "embedding", lists=8, probe_lists=4, max_iter=5, init_order="vec_id"
        )
        codes = (
            SQ8Codes(SQ8Model.train(emb, "embedding"))
            if form == "sq8"
            else PQCodes(m=16, k=32, residual=False)
        )
        idx = IVFCodesIndex.build(ivf, "embedding", "vec_id", codes)
        q, k, idx.default_rerank = QUERY, 10, 40
    before = [(r["vec_id"], r["distance"]) for r in idx.probe(q, k).collect()]
    path = str(tmp_path / form)
    idx.save(path)
    loaded = IVFCodesIndex.load(spark, path)
    assert type(loaded.form) is type(idx.form)
    assert loaded.default_rerank == idx.default_rerank
    if form == "sq8":
        assert loaded.form.model.mins == idx.form.model.mins
        assert loaded.form.model.maxs == idx.form.model.maxs
    else:
        assert loaded.form.residual is (form == "pq-residual")
        assert (loaded.form.model.m, loaded.form.model.k) == (idx.form.m, idx.form.k)
        for a, b in zip(loaded.form.model.centroids, idx.form.model.centroids):
            assert np.array_equal(a, b)
    assert loaded.ivf.probe_lists == ivf.probe_lists
    after = [(r["vec_id"], r["distance"]) for r in loaded.probe(q, k).collect()]
    assert after == before


def test_bq_save_refused_before_writing(spark, tmp_path):
    """BQ codes are not persisted: save names the form and writes nothing,
    so no half-written save is left for load to misread."""
    df, _ = _clustered(spark)
    ivf = IVFFlatIndex.build(df, "embedding", lists=4, probe_lists=2, max_iter=5)
    for form in (BQCodes(), BQCodes(per_bucket=True)):
        idx = IVFCodesIndex.build(ivf, "embedding", "vec_id", form)
        with pytest.raises(NotImplementedError, match="BQCodes"):
            idx.save(str(tmp_path / "bq"))
        assert not (tmp_path / "bq").exists()


@pytest.mark.parametrize("form", [SQ8Codes, BQCodes, PQCodes])
def test_indexes_own_their_codes(spark, emb, form):
    """Two codes indexes built over one IVF index each hold their codes in a
    checkpoint leaf of their own: releasing one leaves the other fully
    stored and answering as before. A persist() entry is shared by every
    equal plan, so unpersisting one index's codes would drop the other's."""
    from bustub_vectordb_spark.shipping import release_checkpoint

    src = emb.filter(F.col("vec_id") != -7919)  # a plan no other test caches
    ivf = IVFFlatIndex.build(
        src, "embedding", lists=8, probe_lists=2, max_iter=5, init_order="vec_id"
    )

    def leaf_rdd(idx):
        return idx.codes._jdf.queryExecution().analyzed().rdd()

    def stored():
        return {
            i.id(): i.numCachedPartitions()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    def answer(idx):
        return [(r["vec_id"], r["distance"]) for r in idx.probe(QUERY, 10).collect()]

    a, b = (IVFCodesIndex.build(ivf, "embedding", "vec_id", form()) for _ in range(2))
    ra, rb = leaf_rdd(a), leaf_rdd(b)
    assert ra.id() != rb.id()
    want = answer(b)
    assert answer(a) == want
    release_checkpoint(a.codes)
    held = stored()
    assert ra.id() not in held
    assert held.get(rb.id()) == rb.getNumPartitions()
    assert answer(b) == want
    release_checkpoint(b.codes)
    assert rb.id() not in stored()
    release_checkpoint(ivf.assignments)
