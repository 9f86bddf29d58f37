"""Product quantization (similarity/pq.py): compression factor, recall,
ADC plan purity, offline-replay determinism. Model: FAISS IndexPQ
(Jégou et al. 2011); the reference stores raw doubles (src/storage/
index/*.cpp) — PQ is the north-star scale extension beside SQ8."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.similarity.brute import knn
from bustub_vectordb_spark.similarity.pq import (
    PQModel,
    offline_pq,
    offline_pq_search,
    pq_rerank_topk,
)

QUERY = [0.1 * ((i % 7) - 3) for i in range(64)]


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def pq(emb):
    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    codes = model.encode(emb, "embedding", "vec_id").cache()
    codes.count()
    return model, codes


def test_pq_codes_shape_and_compression(emb, pq):
    model, codes = pq
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r["codes"]) == 16 for r in rows)
    assert all(0 <= c < 32 for r in rows for c in r["codes"])
    # 64 dims × 8 B -> 16 codes: 32× fewer value slots than float64 storage


def test_pq_adc_recall_and_rerank(emb, pq):
    model, codes = pq
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY, 10).collect()}

    adc = model.adc_topk(codes, "vec_id", QUERY, 10).collect()
    assert len(adc) == 10
    ds = [r["distance"] for r in adc]
    assert ds == sorted(ds)
    adc_recall = len({r["vec_id"] for r in adc} & exact) / 10

    rr = pq_rerank_topk(model, codes, emb, "embedding", "vec_id", QUERY, 10).collect()
    assert len(rr) == 10
    # reranked distances are exact l2
    truth = {
        r["vec_id"]: r["distance"]
        for r in knn(emb, "embedding", QUERY, emb.count()).collect()
    }
    for r in rr:
        assert r["distance"] == pytest.approx(truth[r["vec_id"]], abs=1e-9)
    rr_recall = len({r["vec_id"] for r in rr} & exact) / 10
    assert rr_recall >= adc_recall
    assert rr_recall >= 0.8  # m=16/k=32 with 4x rerank on 500 random vectors


def test_pq_adc_is_pure_codegen(pq):
    """The ADC scan must stay JVM-side: the lookup table is a literal and
    the fold is native — no Python evaluation nodes in the plan."""
    import io
    from contextlib import redirect_stdout

    model, codes = pq
    df = model.adc_topk(codes, "vec_id", QUERY, 10)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_pq_offline_replay_matches_spark(emb, pq, sf_dir):
    """Train + encode + ADC replayed numpy-only must equal the distributed
    result — the oracle contract."""
    model, codes = pq
    omodel, ids, ocodes = offline_pq(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id", m=16, k=32
    )
    for a, b in zip(model.centroids, omodel.centroids):
        assert np.array_equal(a, b)
    spark_codes = {
        r["vec_id"]: list(r["codes"]) for r in codes.collect()
    }
    for rid, row in zip(ids, ocodes):
        assert spark_codes[rid] == [int(c) for c in row]
    want = [
        (i, round(d, 8)) for i, d in offline_pq_search(omodel, ids, ocodes, QUERY, 10)
    ]
    got = [
        (r["vec_id"], round(r["distance"], 8))
        for r in model.adc_topk(codes, "vec_id", QUERY, 10).collect()
    ]
    assert got == want


def test_ivfpq_probe_recall_and_plan(emb, spark, sf_dir):
    """IVFPQ: bucket pruning composes with PQ ADC + exact rerank — recall
    holds vs exact KNN, distances are exact, and the ADC shortlist plan
    stays JVM-side (no Python eval over the codes scan)."""
    import io
    from contextlib import redirect_stdout

    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.similarity.ivfcodes import IVFCodesIndex, PQCodes

    ivf = IVFFlatIndex.build(
        emb, "embedding", lists=8, probe_lists=2, max_iter=5, init_order="vec_id"
    )
    idx = IVFCodesIndex.build(ivf, "embedding", "vec_id", PQCodes(m=16, k=32))
    got = idx.probe(QUERY, 10, rerank=40, probe_lists=4).collect()
    assert len(got) == 10
    exact_rows = knn(emb, "embedding", QUERY, 10).collect()
    exact = {r["vec_id"]: r["distance"] for r in exact_rows}
    hits = {r["vec_id"] for r in got}
    assert len(hits & set(exact)) / 10 >= 0.7  # 4/8 buckets probed
    for r in got:
        if r["vec_id"] in exact:
            assert r["distance"] == pytest.approx(exact[r["vec_id"]], abs=1e-9)

    buf = io.StringIO()
    with redirect_stdout(buf):
        idx.probe(QUERY, 10).explain("formatted")
    # the codes scan (ADC shortlist side) must not re-evaluate Python; the
    # only allowed Python stage is the one-time encode that built `codes`
    plan = buf.getvalue()
    assert plan.count("BatchEvalPython") == 0


def test_ivfpq_filtered_plan_knn(emb):
    """plan_knn(where=...) over an IVF codes index must route the predicate
    into the codes scan (assignments passthrough) and return only matching
    rows — filtered search, not a post-filter — in every storage form."""
    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.index.registry import VectorIndexRegistry
    from bustub_vectordb_spark.index.selection import plan_knn
    from bustub_vectordb_spark.similarity.ivfcodes import (
        BQCodes,
        IVFCodesIndex,
        PQCodes,
        SQ8Codes,
    )

    ivf = IVFFlatIndex.build(
        emb, "embedding", lists=8, probe_lists=8, max_iter=5, init_order="vec_id"
    )
    allowed = {r["vec_id"] for r in emb.filter(F.col("label") == 2).collect()}
    for form in (PQCodes(m=16, k=32), SQ8Codes(), BQCodes(per_bucket=True)):
        idx = IVFCodesIndex.build(ivf, "embedding", "vec_id", form)
        reg = VectorIndexRegistry()
        reg.create("emb_codes", "embeddings", "embedding", "ivfflat", idx)

        plan = plan_knn(
            reg, "embeddings", emb, "embedding", QUERY, 10, where=F.col("label") == 2
        )
        assert plan.strategy == "vector_index_scan(ivfflat)", form
        got = plan.df.collect()
        assert len(got) == 10, form
        assert {r["vec_id"] for r in got} <= allowed, form


def test_ivfpq_residual_beats_global_on_clustered(spark):
    """TRUE IVFADC (residual=True): on a clustered corpus, global PQ
    codebooks re-separate the clusters the coarse quantizer already
    separated, collapsing within-bucket resolution (the PQ twin of the BQ
    global-threshold collapse); residual encoding re-centers every bucket
    so the codebook budget resolves local structure. Offline numpy sweep
    (6 queries): global 0.70 avg recall@10 vs residual 0.98."""
    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.similarity.ivfcodes import IVFCodesIndex, PQCodes

    rng = np.random.RandomState(7)
    CL, dim, n = 8, 16, 3000
    centers = rng.uniform(-10, 10, size=(CL, dim))
    X = centers[np.arange(n) % CL] + rng.normal(0, 0.3, (n, dim))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )
    ivf = IVFFlatIndex.build(
        df, "embedding", lists=8, probe_lists=2, max_iter=5, init_order="vec_id"
    )
    queries = [
        (X[qi] + rng.normal(0, 0.1, dim)).tolist() for qi in (5, 777, 2222)
    ]
    exacts = [
        {r["vec_id"] for r in knn(df, "embedding", q, 10).collect()}
        for q in queries
    ]

    def avg_recall(residual):
        idx = IVFCodesIndex.build(
            ivf, "embedding", "vec_id", PQCodes(m=8, k=32, residual=residual)
        )
        total = 0.0
        for q, exact in zip(queries, exacts):
            got = {
                r["vec_id"]
                for r in idx.probe(q, 10, rerank=40, probe_lists=2).collect()
            }
            total += len(got & exact) / 10
        return total / len(queries)

    glob, res = avg_recall(False), avg_recall(True)
    assert res >= 0.8, (glob, res)
    assert res >= glob, (glob, res)


@pytest.mark.slow
def test_routed_residual_pq_beats_global_on_clustered(spark):
    """The in-graph twin of IVFADC (r9): a k-means shard is one cluster,
    so GLOBAL codebooks re-separate the clusters the routing already
    separated and within-shard code resolution collapses — measured at
    1.2M as 0.128 global vs 0.906 residual recall@10 deep
    (drills/drill_1200k_ivf_tiers.json). Residual codes against the
    frozen routing centroid recover the local structure. Planted
    miniature: clustered corpus, shallow rerank, residual must beat
    global by a wide margin."""
    from bustub_vectordb_spark.index.hnsw import (
        HNSWIndex,
        routed_residual_df,
    )
    from bustub_vectordb_spark.similarity.brute import knn

    rng = np.random.RandomState(11)
    CL = 8
    centers = rng.uniform(-20, 20, size=(CL, 16))
    rows = [
        (i, (centers[i % CL] + rng.normal(0, 0.3, 16)).tolist())
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = rows[5][1]
    exact = {r["vec_id"] for r in knn(df, "embedding", q, 10).collect()}
    routed = HNSWIndex.build_routed(
        df, "embedding", "vec_id", shards=CL, m=8,
        ef_construction=48, ef_search=48,
    )

    def recall(residual):
        if residual:
            model = PQModel.train(
                routed_residual_df(df, "embedding", "vec_id", routed.centroids),
                "__res", "vec_id", m=4, k=16,
            )
        else:
            model = PQModel.train(df, "embedding", "vec_id", m=4, k=16)
        pqx = routed.quantize_pq(model, residual=residual)
        got = {
            r["vec_id"]
            for r in pqx.probe(q, 10, n_probe=2, rerank=df).collect()
        }
        return len(got & exact) / 10

    r_res, r_glob = recall(True), recall(False)
    assert r_res >= 0.8, (r_res, r_glob)
    assert r_res >= r_glob + 0.2, (r_res, r_glob)


def test_routed_residual_pq_insert_uses_frozen_center(spark):
    """Insert into a residual-PQ routed index: rows landing on a shard
    born EMPTY at build time must encode against that shard's frozen
    routing centroid (params carry pq_residual; the upsert closure reads
    the centroid floats, never re-derives anything) — and be findable."""
    from bustub_vectordb_spark.index.hnsw import (
        HNSWIndex,
        routed_residual_df,
    )

    rng = np.random.RandomState(13)
    # two tight clusters far apart; build sees only cluster A, so one
    # shard's members all come from A and the other is near-empty
    a = rng.normal(0, 0.2, size=(300, 8))
    b = rng.normal(30, 0.2, size=(8, 8))
    rows_a = [(i, a[i].tolist()) for i in range(300)]
    df_a = spark.createDataFrame(rows_a, "vec_id bigint, embedding array<double>")
    routed = HNSWIndex.build_routed(
        df_a, "embedding", "vec_id", shards=2, m=4,
        ef_construction=16, ef_search=16,
    )
    model = PQModel.train(
        routed_residual_df(df_a, "embedding", "vec_id", routed.centroids),
        "__res", "vec_id", m=4, k=8,
    )
    pqx = routed.quantize_pq(model, residual=True)
    assert pqx.params.get("pq_residual") == 1
    new = spark.createDataFrame(
        [(1000 + i, b[i].tolist()) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    pqx2 = pqx.insert(new)
    got = {r["vec_id"] for r in pqx2.probe(b[0].tolist(), 3, rerank=None).collect()}
    assert got & {1000 + i for i in range(8)}, got


@pytest.mark.slow
def test_routed_local_pq_beats_centroid_residual_on_multimodal_shards(spark):
    """When shards are COARSER than the cluster structure (the DDL-default
    geometry at scale), even residual codes against the shard centroid
    collapse — the centroid sits BETWEEN the shard's modes, so residuals
    keep the multi-modal offsets and the global codebook budget
    re-separates them (1.2M drill: 0.308 global / 0.51 residual deep
    recall at 48 shards over 256 clusters). Per-shard LOCAL books
    (quantize_pq_local) train on the shard's own rows and cover its modes
    by construction. Planted miniature: 2 shards over 8 clusters."""
    from bustub_vectordb_spark.index.hnsw import (
        HNSWIndex,
        routed_residual_df,
    )
    from bustub_vectordb_spark.similarity.brute import knn

    rng = np.random.RandomState(23)
    CL = 8
    centers = rng.uniform(-20, 20, size=(CL, 16))
    rows = [
        (i, (centers[i % CL] + rng.normal(0, 0.1, 16)).tolist())
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    routed = HNSWIndex.build_routed(
        df, "embedding", "vec_id", shards=2, m=8,
        ef_construction=48, ef_search=48,
    )
    queries = [rows[i][1] for i in (5, 100, 201)]
    exact = {
        i: {r["vec_id"] for r in knn(df, "embedding", q, 10).collect()}
        for i, q in enumerate(queries)
    }

    def recall(idx):
        # deep shortlist (the serving default for 1-bit codes, and the
        # geometry the drill measures): within a tight cluster ADC decodes
        # collapse toward the codewords, so shortlist DEPTH, not order,
        # carries the recall
        tot = 0.0
        for i, q in enumerate(queries):
            got = {
                r["vec_id"]
                for r in idx.probe(
                    q, 10, n_probe=1, rerank=df, rerank_mult=16
                ).collect()
            }
            tot += len(got & exact[i]) / 10
        return tot / len(queries)

    model = PQModel.train(
        routed_residual_df(df, "embedding", "vec_id", routed.centroids),
        "__res", "vec_id", m=4, k=16,
    )
    r_res = recall(routed.quantize_pq(model, residual=True))
    r_loc = recall(routed.quantize_pq_local(m=4, k=16))
    # the miniature can't reproduce the drill's 20pt gap (3 queries, deep
    # rerank covers much of a 1.5k-row shard) — pin the floor and
    # no-regression-vs-residual; the 1.2M drill row carries the ordering
    assert r_loc >= 0.8, (r_loc, r_res)
    assert r_loc >= r_res - 0.05, (r_loc, r_res)


def test_routed_local_pq_insert_trains_empty_shard_books(spark):
    """Insert routing rows to a shard born empty on a local-PQ index:
    the shard's books train on the arriving (id-sorted) batch and the
    rows are findable afterward."""
    from bustub_vectordb_spark.index.hnsw import HNSWIndex

    rng = np.random.RandomState(29)
    a = rng.normal(0, 0.2, size=(300, 8))
    b = rng.normal(30, 0.2, size=(20, 8))
    df_a = spark.createDataFrame(
        [(i, a[i].tolist()) for i in range(300)],
        "vec_id bigint, embedding array<double>",
    )
    routed = HNSWIndex.build_routed(
        df_a, "embedding", "vec_id", shards=2, m=4,
        ef_construction=16, ef_search=16,
    )
    pql = routed.quantize_pq_local(m=4, k=8)
    assert pql.params.get("pq_local") == 1
    new = spark.createDataFrame(
        [(1000 + i, b[i].tolist()) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    pql2 = pql.insert(new)
    got = {r["vec_id"] for r in pql2.probe(b[0].tolist(), 3).collect()}
    assert got & {1000 + i for i in range(20)}, got


def test_quantize_pq_local_rejects_already_quantized(spark):
    """r10 guard: quantize_pq_local on an already-quantized index must
    raise, mirroring the _Graph-level double-quantization guards —
    quantized graphs carry vecs=None, so the per-shard retrain would
    silently no-op yet stamp pq_local=1 next to the existing tier's
    params (self-contradictory index, ambiguous insert quantizer)."""
    import pytest

    from bustub_vectordb_spark.index.hnsw import HNSWIndex

    rng = np.random.RandomState(7)
    df = spark.createDataFrame(
        [(i, rng.normal(0, 1, 8).tolist()) for i in range(120)],
        "vec_id bigint, embedding array<double>",
    )
    routed = HNSWIndex.build_routed(
        df, "embedding", "vec_id", shards=2, m=4,
        ef_construction=16, ef_search=16,
    )
    pql = routed.quantize_pq_local(m=4, k=8)
    with pytest.raises(ValueError, match="already carry a quantized tier"):
        pql.quantize_pq_local(m=4, k=8)
    sq8 = routed.quantize(
        [-5.0] * 8, [5.0] * 8
    )  # SQ8 tier (params carry sq8_mins)
    with pytest.raises(ValueError, match="already carry a quantized tier"):
        sq8.quantize_pq_local(m=4, k=8)


def test_graph_quantize_pq_guards_run_before_mutation():
    """r10 guard: a residual-centers/vector dim mismatch (or bounds that
    do not cover the vector dim) must raise in the guard block BEFORE any
    attribute assignment — not mid-mutation with stale pq_books attached
    while vecs is still set."""
    import pytest

    from bustub_vectordb_spark.index.hnsw import _Graph

    g = _Graph(4, 8, 8, "l2", 42)
    mat = np.asarray([[float(i), float(i % 3)] for i in range(20)])
    g.add_all(list(range(20)), mat)
    books = [np.zeros((4, 1)), np.zeros((4, 1))]
    bounds = [(0, 1), (1, 2)]
    with pytest.raises(ValueError, match="does not match"):
        g.quantize_pq(books, bounds, centers=[[0.0, 0.0, 0.0]])
    with pytest.raises(ValueError, match="bounds cover"):
        g.quantize_pq(books, [(0, 1)], centers=None)
    # the failed calls left the graph unmutated and still quantizable
    assert g.vecs is not None and getattr(g, "pq_books", None) is None
    g.quantize_pq(books, bounds)
    assert g.vecs is None and g.pq_codes.shape == (20, 2)
