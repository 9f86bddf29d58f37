"""Distributed single-graph (Vamana/DiskANN-merge) build semantics: the
BUILD is distributed DataFrame ops, probes replay bit-exactly offline, and
the merged graph's recall beats the shard-pruned routed probe (it navigates
the whole corpus). Algorithm: DiskANN merge construction (Subramanya et
al. 2019 §4); reference surface: vector index build/probe
(src/storage/index/hnsw_index.cpp)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.index.vamana import VamanaIndex, offline_vamana
from bustub_vectordb_spark.similarity.brute import knn

QUERY = [0.1 * ((i % 7) - 3) for i in range(64)]
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def vamana(emb):
    return VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16
    )


def test_probe_matches_offline_replay(vamana, sf_dir):
    """The distributed build is a pure function of the table: the numpy
    replay (offline_vamana) must produce the identical graph walk."""
    got = [
        (r["vec_id"], r["distance"])
        for r in vamana.probe(QUERY, 10).collect()
    ]
    g = offline_vamana(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id",
        shards=4, overlap_eps=0.2, r=16,
    )
    want = [(i, float(d)) for i, d in g.search(np.asarray(QUERY), 10)]
    assert got == want


def test_recall_vs_exact_and_degree_bound(emb, vamana):
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY, 10).collect()}
    got = {r["vec_id"] for r in vamana.probe(QUERY, 10).collect()}
    assert len(got) == 10
    assert len(got & exact) / 10 >= 0.8
    # DiskANN degree bound holds for every vertex in the pruned adjacency
    over = vamana.edges.filter(F.size("neighbors") > 16).count()
    assert over == 0


def test_save_load_roundtrip(vamana, spark, tmp_path):
    before = [
        (r["vec_id"], r["distance"]) for r in vamana.probe(QUERY, 5).collect()
    ]
    vamana.save(str(tmp_path / "vamana"))
    loaded = VamanaIndex.load(spark, str(tmp_path / "vamana"))
    assert loaded.params == vamana.params and loaded.entry == vamana.entry
    after = [
        (r["vec_id"], r["distance"]) for r in loaded.probe(QUERY, 5).collect()
    ]
    assert after == before


def test_serving_guard_refuses_big_graph(vamana, monkeypatch):
    """Serving materializes the graph into the driver — past the cap the
    right move is a dedicated search node over the saved artifact, and the
    probe must refuse rather than OOM the driver."""
    fresh = VamanaIndex(
        vamana.vec_col, vamana.id_col, vamana.dist, vamana.vertices,
        vamana.edges, vamana.entry, vamana._spark, id_type=vamana.id_type,
        params=vamana.params,
    )
    monkeypatch.setattr(VamanaIndex, "SERVE_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="search node"):
        fresh.probe(QUERY, 5)


def test_build_plan_stays_distributed(emb):
    """The edge prune runs distributed — no corpus-sized collect. The
    pruned-adjacency plan must show the per-vertex candidate gather
    (Aggregate) feeding the Arrow-native RobustPrune stage
    (MapInArrow — zero-copy candidate buffers, r12 optimization), and
    every vertex of the source appears in the vertex set."""
    idx = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=3, overlap_eps=0.1, r=8
    )
    plan = idx.edges._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow prune_batches" in plan
    assert "Aggregate" in plan  # the groupBy(src) candidate gather
    assert idx.vertices.count() == emb.count()


@pytest.mark.slow
def test_vamana_recall_at_scale_sf01(spark):
    """Merged-graph recall at the bench scale factor (sf0.1, 2000
    vectors): one distributed DiskANN-merge build must hold recall@10 ≥
    0.9 averaged over 20 table queries — the merged graph navigates the
    WHOLE corpus, so it should match or beat the shard-pruned routed
    probe at the same scale."""
    from bustub_vectordb_spark.catalog import read_table

    emb = read_table(spark, "/root/testdata/sf0.1", "embeddings")
    idx = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16
    )
    queries = emb.filter(F.col("vec_id") % 100 == 3).limit(20).collect()
    assert len(queries) == 20
    recalls = []
    for r in queries:
        q = [float(x) for x in r["embedding"]]
        exact = {x["vec_id"] for x in knn(emb, "embedding", q, 10).collect()}
        got = {x["vec_id"] for x in idx.probe(q, 10).collect()}
        recalls.append(len(got & exact) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"vamana recall@10 at sf0.1: avg={avg} recalls={recalls}"


def test_pq_serving_exact_rerank_and_codes_only(emb, vamana, spark, sf_dir, tmp_path):
    """PQ-compressed serving (quantize_pq): the driver graph holds ONLY
    uint8 codes (never a float matrix — the DiskANN RAM/disk split),
    probes rerank exactly (distances match brute force for returned ids),
    the walk replays offline bit-exactly, and save/load keeps the frozen
    codebooks."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import offline_quantize
    from bustub_vectordb_spark.index.vamana import (
        offline_vamana,
        offline_vamana_search,
    )
    from bustub_vectordb_spark.similarity.pq import PQModel

    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    pq = vamana.quantize_pq(model)
    g = pq._graph()
    assert g.vecs is None and g.pq_codes is not None
    assert g.pq_codes.dtype.itemsize == 1

    exact = {r["vec_id"]: r["distance"] for r in knn(emb, "embedding", QUERY, 10).collect()}
    got = pq.probe(QUERY, 10).collect()
    assert len(got) == 10
    for r in got:
        if r["vec_id"] in exact:
            assert r["distance"] == pytest.approx(exact[r["vec_id"]], abs=1e-9)
    recall = len({r["vec_id"] for r in got} & set(exact)) / 10
    assert recall >= 0.7, recall

    # offline replay parity
    og = offline_vamana(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id",
        shards=4, overlap_eps=0.2, r=16,
    )
    by_id = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    offline_quantize({0: og}, "pq", model=model)
    want = offline_vamana_search(og, [(None, QUERY)], 10, rerank=(by_id, 48, None))
    assert [(r["vec_id"], r["distance"]) for r in got] == [
        (i, float(d)) for _qid, i, d in want
    ]

    # save/load keeps codebooks and probes identically
    pq.save(str(tmp_path / "vpq"))
    from bustub_vectordb_spark.index.vamana import VamanaIndex

    loaded = VamanaIndex.load(spark, str(tmp_path / "vpq"))
    assert "pq_books" in loaded.params
    after = [(r["vec_id"], r["distance"]) for r in loaded.probe(QUERY, 10).collect()]
    assert after == [(r["vec_id"], r["distance"]) for r in got]


def test_search_batch_matches_single_probes(emb, vamana):
    """Batch serving (broadcast graph + mapInPandas) must agree with
    per-query probe() on both the plain and the PQ-compressed graph."""
    from bustub_vectordb_spark.similarity.pq import PQModel

    queries = emb.limit(6).select(F.col("vec_id").alias("qid"), "embedding")
    qrows = queries.collect()

    out = vamana.search_batch(queries, "embedding", "qid", k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["vec_id"], r["distance"]))
    assert len(by_q) == 6
    for r in qrows:
        single = [
            (h["vec_id"], h["distance"])
            for h in vamana.probe([float(x) for x in r["embedding"]], 3).collect()
        ]
        assert sorted(by_q[r["qid"]]) == sorted(single)

    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    pq = vamana.quantize_pq(model)
    out = pq.search_batch(queries, "embedding", "qid", k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["vec_id"], r["distance"]))
    for r in qrows:
        single = [
            (h["vec_id"], h["distance"])
            for h in pq.probe([float(x) for x in r["embedding"]], 3).collect()
        ]
        assert sorted(by_q[r["qid"]]) == sorted(single)


def test_insert_refused_by_design(vamana, spark):
    new = spark.createDataFrame(
        [(99999, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="batch-build artifact"):
        vamana.insert(new)


def test_quantize_pq_refuses_oversize_codebook(emb, vamana):
    """uint8 codes cap the codebook at k=256; quantize_pq must refuse a
    larger PQModel up front (mirroring _Graph.quantize_pq) rather than
    corrupt codes at serve time."""
    from bustub_vectordb_spark.similarity.pq import PQModel

    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    model.centroids[0] = np.vstack([model.centroids[0]] * 9)  # 288 > 256
    with pytest.raises(ValueError, match="k <= 256"):
        vamana.quantize_pq(model)


def test_partitioned_serving_matches_offline_replay(emb, vamana, sf_dir):
    """to_partitioned: cell-sharded serving of the merged graph replays
    bit-exactly (same centroid training, routing fold, in-cell edge
    restriction, entry selection, walks, merge ordering)."""
    from bustub_vectordb_spark.index.hnsw import offline_routed_search
    from bustub_vectordb_spark.index.vamana import offline_vamana_partitioned

    part = vamana.to_partitioned(cells=4, n_probe=2)
    cents, graphs = offline_vamana_partitioned(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id",
        cells=4, shards=4, overlap_eps=0.2, r=16,
    )
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    got = [(r["vec_id"], r["distance"]) for r in part.probe(q, 10, n_probe=2).collect()]
    exp = [
        (int(i), float(d))
        for _qid, i, d in offline_routed_search(cents, graphs, [(None, q)], 10, 2)
    ]
    assert got == exp

    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    bt = sorted(
        (r["qid"], r["vec_id"], r["distance"])
        for r in part.search_batch(queries, "embedding", "qid", k=5, n_probe=2).collect()
    )
    qs = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    ebt = sorted(
        (int(qid), int(hid), float(d))
        for qid, hid, d in offline_routed_search(cents, graphs, qs, 5, 2)
    )
    assert bt == ebt


def test_partitioned_replicated_matches_offline_and_dedups(emb, vamana, sf_dir):
    """SPANN boundary replication (r12 stretch): to_partitioned(
    replicate_eps=E) runs closure assignment — a vertex joins every cell
    within (1+E)x of its nearest (capped at replicate_cap) — so the
    in-cell edge restriction keeps boundary neighborhoods alive. The cut
    must (a) actually replicate, (b) serve deduped ids, and (c) replay
    bit-exactly through the offline twin's mirrored closure rule."""
    from bustub_vectordb_spark.index.hnsw import offline_routed_search
    from bustub_vectordb_spark.index.vamana import offline_vamana_partitioned

    with pytest.raises(ValueError, match="replicate_eps"):
        vamana.to_partitioned(cells=4, replicate_eps=-0.1)
    with pytest.raises(ValueError, match="replicate_cap"):
        vamana.to_partitioned(cells=4, replicate_eps=0.1, replicate_cap=0)
    part = vamana.to_partitioned(cells=4, n_probe=2, replicate_eps=0.25)
    assert part.params["replicated"] is True
    cents, graphs = offline_vamana_partitioned(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id",
        cells=4, replicate_eps=0.25, shards=4, overlap_eps=0.2, r=16,
    )
    n = emb.count()
    assert sum(len(g.ids) for g in graphs.values()) > n  # replicas exist
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    got = [
        (r["vec_id"], r["distance"])
        for r in part.probe(q, 10, n_probe=2).collect()
    ]
    exp = [
        (int(i), float(d))
        for _qid, i, d in offline_routed_search(cents, graphs, [(None, q)], 10, 2)
    ]
    assert got == exp
    assert len({i for i, _ in got}) == 10  # replicas deduped in the top-k

    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    bt = sorted(
        (r["qid"], r["vec_id"], r["distance"])
        for r in part.search_batch(
            queries, "embedding", "qid", k=5, n_probe=2
        ).collect()
    )
    qs = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    ebt = sorted(
        (int(qid), int(hid), float(d))
        for qid, hid, d in offline_routed_search(cents, graphs, qs, 5, 2)
    )
    assert bt == ebt


def test_partitioned_replicated_composes_with_local_books(emb, vamana):
    """Replication × per-cell books (r12 lead check): quantize_pq_local on
    a REPLICATED cut trains each cell's books on its members INCLUDING
    replicas, serves deduped ids, and the offline twin composes the two
    features bit-exactly (replicated shells + local_mk replay)."""
    from bustub_vectordb_spark.index.hnsw import offline_quantize, offline_routed_search
    from bustub_vectordb_spark.index.vamana import offline_vamana_partitioned

    pql = vamana.to_partitioned(
        cells=4, n_probe=2, replicate_eps=0.25
    ).quantize_pq_local(m=16, k=32)
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    rows = pql.search_batch(
        queries, "embedding", "qid", k=5, n_probe=2, rerank=emb
    ).collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r["vec_id"])
    for qid, hits in per_q.items():
        assert len(hits) == len(set(hits)), f"replica leaked into top-k for {qid}"
    got = sorted((r["qid"], r["vec_id"], r["distance"]) for r in rows)
    cents, graphs = offline_vamana_partitioned(
        f"{SF_DIR}/embeddings.parquet", "embedding", "vec_id",
        cells=4, replicate_eps=0.25, shards=4, overlap_eps=0.2, r=16,
    )
    by_id = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    qs = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    offline_quantize(graphs, "pq", local_mk=(16, 32, 5))
    want = sorted(
        (int(qid), int(hid), float(d))
        for qid, hid, d in offline_routed_search(
            cents, graphs, qs, 5, 2, rerank=(by_id, 48, None)
        )
    )
    assert got == want


def test_partitioned_replicated_pqr_parity(emb, vamana):
    """Replication × residual PQ (quantized BEFORE the cut): replicated
    members carry residual codes by their own frozen entry-cell
    assignment (independent of which serving cells hold them), and the
    offline twin composes closure assignment + pq_centers bit-exactly."""
    from bustub_vectordb_spark.index.hnsw import offline_quantize, offline_routed_search
    from bustub_vectordb_spark.index.vamana import offline_vamana_partitioned
    from bustub_vectordb_spark.similarity.pq import PQModel

    model = PQModel.train(
        vamana.residual_source(), "__res", "vec_id", m=16, k=32
    )
    pqr = vamana.quantize_pq(model, residual=True)
    assert pqr.params.get("pq_centers")
    part = pqr.to_partitioned(cells=4, n_probe=2, replicate_eps=0.25)
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = sorted(
        (r["qid"], r["vec_id"], r["distance"])
        for r in part.search_batch(
            queries, "embedding", "qid", k=5, n_probe=2, rerank=emb
        ).collect()
    )
    cents, graphs = offline_vamana_partitioned(
        f"{SF_DIR}/embeddings.parquet", "embedding", "vec_id",
        cells=4, replicate_eps=0.25, shards=4, overlap_eps=0.2, r=16,
    )
    by_id = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    qs = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    offline_quantize(graphs, "pq", model=model, pq_centers=pqr.params["pq_centers"])
    want = sorted(
        (int(qid), int(hid), float(d))
        for qid, hid, d in offline_routed_search(
            cents, graphs, qs, 5, 2, rerank=(by_id, 48, None)
        )
    )
    assert got == want


def test_partitioned_serving_past_cap_recall(emb, vamana, monkeypatch):
    """The single-graph tier now serves corpora PAST the one-node cap:
    with SERVE_MAX_ROWS forced below the corpus, driver serving refuses
    but to_partitioned serves with recall@10 >= 0.9 — and no node (driver
    included) ever materializes the full graph."""
    from bustub_vectordb_spark.index.vamana import VamanaIndex
    from bustub_vectordb_spark.similarity.brute import knn

    monkeypatch.setattr(VamanaIndex, "SERVE_MAX_ROWS", 10)
    fresh = VamanaIndex(
        vamana.vec_col, vamana.id_col, vamana.dist, vamana.vertices,
        vamana.edges, vamana.entry, vamana._spark,
        id_type=vamana.id_type, params=vamana.params,
    )
    with pytest.raises(ValueError, match="dedicated search node"):
        fresh.probe([0.0] * 64, 5)

    part = fresh.to_partitioned(cells=4, n_probe=3)
    recalls = []
    for row in emb.filter(F.col("vec_id") % 50 == 7).limit(10).collect():
        q = list(row["embedding"])
        got = {r["vec_id"] for r in part.probe(q, 10).collect()}
        exact = {r["vec_id"] for r in knn(emb, "embedding", q, 10).collect()}
        recalls.append(len(got & exact) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, recalls


def test_partitioned_pq_serving_exact_rerank(emb, vamana, spark):
    """PQ codes inside cell-partitioned shells: blobs hold codes only,
    the exact rerank returns true distances — output distances must equal
    the brute-force values for the returned ids."""
    from bustub_vectordb_spark.similarity.pq import PQModel

    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    part = vamana.quantize_pq(model).to_partitioned(cells=4, n_probe=3)
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    hits = part.probe(q, 5, rerank=emb).collect()
    assert len(hits) == 5
    import numpy as np

    by_id = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    for r in hits:
        true = float(np.linalg.norm(by_id[r["vec_id"]] - np.asarray(q)))
        assert r["distance"] == pytest.approx(true, abs=1e-9)


def test_partitioned_pq_local_books(emb, vamana, spark, sf_dir, tmp_path):
    """Per-CELL local PQ codebooks (r11): to_partitioned(...).
    quantize_pq_local trains each cell shell's books on its OWN member
    rows — offline replay parity (train_local_pq runs verbatim on the
    replayed id-sorted cells), exact rerank distances, and save/load
    parity through the partitioned loader."""
    from bustub_vectordb_spark.index.hnsw import offline_quantize, offline_routed_search
    from bustub_vectordb_spark.index.vamana import (
        load_partitioned,
        offline_vamana_partitioned,
    )

    pql = vamana.to_partitioned(cells=4, n_probe=2).quantize_pq_local(
        m=16, k=32
    )
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = sorted(
        (r["qid"], r["vec_id"], r["distance"])
        for r in pql.search_batch(
            queries, "embedding", "qid", k=5, n_probe=2, rerank=emb
        ).collect()
    )
    cents, graphs = offline_vamana_partitioned(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id",
        cells=4, shards=4, overlap_eps=0.2, r=16,
    )
    by_id = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    qs = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    offline_quantize(graphs, "pq", local_mk=(16, 32, 5))
    want = sorted(
        (int(qid), int(hid), float(d))
        for qid, hid, d in offline_routed_search(
            cents, graphs, qs, 5, 2,
            rerank=(by_id, 48, None),  # the quantized vamana-partitioned default
        )
    )
    assert got == want
    # exact rerank distances are true distances
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    for r in pql.probe(q, 5, rerank=emb).collect():
        true = float(np.linalg.norm(np.asarray(by_id[r["vec_id"]]) - np.asarray(q)))
        assert r["distance"] == pytest.approx(true, abs=1e-9)
    # save/load parity (params carry pq_local markers; blobs carry books)
    pql.save(str(tmp_path / "pql"))
    loaded = load_partitioned(spark, str(tmp_path / "pql"))
    before = [(r["vec_id"], r["distance"]) for r in pql.probe(q, 5, rerank=emb).collect()]
    after = [(r["vec_id"], r["distance"]) for r in loaded.probe(q, 5, rerank=emb).collect()]
    assert after == before
    assert (loaded.params or {}).get("pq_local") == 1


@pytest.mark.slow
def test_compressed_tier_recall_holds_at_sf01(spark):
    """VERDICT r5 task 8 — quantizer-saturation check at the bench scale
    factor: the PQ-compressed serving tiers must hold their recall@10 at
    the 4x-larger sf0.1 corpus (2000 vectors), not just at sf0.01 where
    they were first measured. Thresholds sit under the deterministic
    measured values (vamana pq+rerank 0.835, flat pq rerank 0.790,
    partitioned pq+rerank 0.730 — tools/recall_report.py at sf0.1)."""
    from bustub_vectordb_spark.catalog import read_table
    from bustub_vectordb_spark.similarity.pq import PQModel, pq_rerank_topk

    emb = read_table(spark, "/root/testdata/sf0.1", "embeddings").cache()
    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    codes = model.encode(emb, "embedding", "vec_id").cache()
    idx = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16
    ).quantize_pq(model)
    part = idx.to_partitioned(cells=4, n_probe=3)

    queries = emb.filter(F.col("vec_id") % 100 == 3).limit(20).collect()
    assert len(queries) == 20
    rec = {"vamana_pq": [], "flat_pq": [], "part_pq": []}
    for row in queries:
        q = [float(x) for x in row["embedding"]]
        exact = {x["vec_id"] for x in knn(emb, "embedding", q, 10).collect()}
        rec["vamana_pq"].append(
            len({x["vec_id"] for x in idx.probe(q, 10).collect()} & exact) / 10
        )
        rec["flat_pq"].append(
            len({x["vec_id"] for x in pq_rerank_topk(
                model, codes, emb, "embedding", "vec_id", q, 10
            ).collect()} & exact) / 10
        )
        rec["part_pq"].append(
            len({x["vec_id"] for x in part.probe(q, 10, rerank=emb).collect()} & exact) / 10
        )
    avgs = {k: sum(v) / len(v) for k, v in rec.items()}
    assert avgs["vamana_pq"] >= 0.80, avgs
    assert avgs["flat_pq"] >= 0.75, avgs
    assert avgs["part_pq"] >= 0.65, avgs


def test_partitioned_serving_is_frozen(emb, vamana, spark):
    """The cell-partitioned artifact refuses insert (the shells are prune
    graphs, not HNSW graphs — extending them would silently corrupt the
    degree-bound contract), mirroring VamanaIndex.insert's refusal."""
    part = vamana.to_partitioned(cells=4, n_probe=2)
    new = spark.createDataFrame(
        [(999999, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="frozen serving artifact"):
        part.insert(new)


@pytest.mark.parametrize("dist", ["cosine", "ip"])
def test_similarity_build_serves_exact_values(emb, spark, sf_dir, dist):
    """dist="cosine": the merged graph builds over fold-exactly normalized
    copies (l2 == cosine order on the unit sphere); dist="ip": MIPS via
    the augmentation reduction (Bachrach et al. 2014) — l2 walks over
    [x, sqrt(M^2-|x|^2)] rows equal inner-product order, and the [q, 0]
    fold adds zero. Either way probe/search_batch report the EXACT
    similarity (vs brute-force values) and the offline replay matches
    bit-for-bit."""
    import numpy as np

    from bustub_vectordb_spark.index.vamana import (
        offline_vamana,
        offline_vamana_search,
    )

    v = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16, dist=dist
    )
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    got = [(r["vec_id"], r["distance"]) for r in v.probe(q, 10).collect()]
    g = offline_vamana(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id",
        shards=4, overlap_eps=0.2, r=16, dist=dist,
    )
    assert got == [
        (int(i), float(s))
        for _qid, i, s in offline_vamana_search(g, [(None, q)], 10, dist)
    ]

    # similarities are the TRUE cosine / inner-product values for the
    # returned ids
    rows = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    qn = np.asarray(q)
    for hid, sim in got:
        true = float(rows[hid] @ qn)
        if dist == "cosine":
            true /= np.linalg.norm(rows[hid]) * np.linalg.norm(qn)
        assert sim == pytest.approx(true, abs=1e-9)
    # recall vs exact KNN of the same metric
    exact = {r["vec_id"] for r in knn(emb, "embedding", q, 10, dist=dist).collect()}
    assert len({i for i, _ in got} & exact) / 10 >= 0.9

    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    bt = sorted(
        (r["qid"], r["vec_id"], r["distance"])
        for r in v.search_batch(queries, "embedding", "qid", k=5).collect()
    )
    qs = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    assert bt == sorted(
        (int(qid), int(hid), float(s))
        for qid, hid, s in offline_vamana_search(g, qs, 5, dist)
    )

    if dist == "cosine":
        with pytest.raises(ValueError, match="l2, cosine"):
            VamanaIndex.build(emb, "embedding", "vec_id", dist="hamming")


def test_quantize_pq_refuses_dim_mismatched_model(emb, spark):
    """A PQ model trained on RAW rows must be refused by a transformed
    (ip-augmented / cosine-normalized) index — silently dropping the
    augmentation dim crashed at serve time before the guard; the DDL path
    now trains on index.vertices."""
    from bustub_vectordb_spark.similarity.pq import PQModel

    model_raw = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    ip = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16, dist="ip"
    )
    with pytest.raises(ValueError, match="train the PQModel on index.vertices"):
        ip.quantize_pq(model_raw)
    # trained on the index's own (augmented) vertices: accepted and serves
    model_aug = PQModel.train(ip.vertices, "vec", "vec_id", m=13, k=32)
    hits = ip.quantize_pq(model_aug).probe([0.1] * 64, 5).collect()
    assert len(hits) == 5


@pytest.mark.slow
def test_partitioned_facade_save_load_roundtrip(emb, spark, tmp_path):
    """A saved cosine/ip partitioned artifact reloads WITH its ops-class
    facade (ops_dist + ip_m2 travel in params) and probes identically on
    raw queries; a bare ShardedHNSW.load would mis-serve them."""
    from bustub_vectordb_spark.index.vamana import (
        PartitionedVamanaServing,
        load_partitioned,
    )

    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    for dist in ("cosine", "ip"):
        idx = VamanaIndex.build(
            emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16,
            dist=dist,
        )
        part = idx.to_partitioned(cells=4, n_probe=3)
        assert isinstance(part, PartitionedVamanaServing)
        before = [(r["vec_id"], r["distance"]) for r in part.probe(q, 5).collect()]
        path = str(tmp_path / f"part_{dist}")
        part.save(path)
        loaded = load_partitioned(spark, path)
        assert isinstance(loaded, PartitionedVamanaServing)
        assert loaded.dist == dist
        after = [(r["vec_id"], r["distance"]) for r in loaded.probe(q, 5).collect()]
        assert after == before


def test_partitioned_facade_batch_serves_true_values(emb, spark):
    """The facade's batch path preps raw query columns and converts per
    query: cosine similarities and inner products must match brute-force
    values for the returned (qid, id) pairs within float tolerance."""
    import numpy as np

    rows = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    for dist in ("cosine", "ip"):
        part = VamanaIndex.build(
            emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16,
            dist=dist,
        ).to_partitioned(cells=4, n_probe=3)
        out = part.search_batch(queries, "embedding", "qid", k=5).collect()
        assert len(out) > 0
        for r in out:
            a, b = rows[r["qid"]], rows[r["vec_id"]]
            if dist == "cosine":
                true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            else:
                true = float(a @ b)
            assert r["distance"] == pytest.approx(true, abs=1e-6), (dist, r)


def test_partitioned_facade_rerank_uses_transformed_space(emb, spark, tmp_path):
    """rerank on a transformed partitioned artifact must run in the
    TRANSFORMED space (raw source rows would dim-mismatch the augmented
    query / mis-scale the unit walks): values stay exact native inner
    products; a reloaded facade keeps its n_probe pruning and rerank."""
    import numpy as np

    from bustub_vectordb_spark.index.vamana import load_partitioned

    rows = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    part = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16, dist="ip"
    ).to_partitioned(cells=4, n_probe=3)
    hits = part.probe(q, 5, rerank=emb).collect()  # raw source REPLACED
    assert len(hits) == 5
    for r in hits:
        true = float(rows[r["vec_id"]] @ np.asarray(q))
        assert r["distance"] == pytest.approx(true, abs=1e-6)

    path = str(tmp_path / "ip_part")
    part.save(path)
    loaded = load_partitioned(spark, path)
    assert loaded.default_n_probe == 3  # pruning survives the reload
    again = loaded.probe(q, 5, rerank=emb).collect()
    assert [(r["vec_id"], r["distance"]) for r in again] == [
        (r["vec_id"], r["distance"]) for r in hits
    ]


def test_to_routed_ingest_l2_migration_accepts_inserts(emb, vamana):
    """The one-liner every vamana insert refusal points at: migrate the
    batch artifact to the routed ShardedHNSW tier, which ACCEPTS inserts.
    The migrated index serves the same corpus (recall threshold vs exact)
    and a freshly inserted row is findable at its own location."""
    routed = vamana.to_routed_ingest(shards=4, n_probe=2, replicate_eps=0.2)
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY, 10).collect()}
    got = {r["vec_id"] for r in routed.probe(QUERY, 10).collect()}
    assert len(got & exact) / 10 >= 0.8

    target = [0.123] * 64
    spark = emb.sparkSession
    new = spark.createDataFrame(
        [(777777, target)], "vec_id long, embedding array<double>"
    )
    grown = routed.insert(new)  # the refusal path ends here: this works
    top = grown.probe(target, 1).collect()
    assert top[0]["vec_id"] == 777777


def test_to_routed_ingest_ip_recovers_raw_vectors(emb, spark):
    """ip migration slices the MIPS augmentation coordinate off the stored
    vertices, recovering the RAW vectors bit-exactly; the routed tier then
    serves native inner products — top hits match brute-force MIPS values."""
    import numpy as np

    q = QUERY
    idx = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16, dist="ip"
    )
    routed = idx.to_routed_ingest(shards=4, n_probe=3)
    rows = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    hits = routed.probe(q, 5).collect()
    assert len(hits) == 5
    for r in hits:
        true = float(rows[r["vec_id"]] @ np.asarray(q))
        assert r["distance"] == pytest.approx(true, abs=1e-6)
    # recall vs exact MIPS
    best = sorted(rows, key=lambda i: -(rows[i] @ np.asarray(q)))[:5]
    assert len({r["vec_id"] for r in hits} & set(best)) >= 4


@pytest.mark.slow
def test_to_routed_ingest_from_saved_facade(emb, spark, tmp_path):
    """A SAVED cosine partitioned facade migrates too (save persists the
    transformed vertices): the reloaded facade's to_routed_ingest yields
    an ingestible index serving true cosine similarities for raw queries
    (stored unit vectors are valid — cosine is normalization-invariant)."""
    import numpy as np

    from bustub_vectordb_spark.index.vamana import load_partitioned

    part = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16,
        dist="cosine",
    ).to_partitioned(cells=4, n_probe=3)
    path = str(tmp_path / "cos_part")
    part.save(path)
    loaded = load_partitioned(spark, path)
    routed = loaded.to_routed_ingest(shards=4, n_probe=3)
    rows = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    qv = np.asarray(QUERY)
    hits = routed.probe(QUERY, 5).collect()
    for r in hits:
        v = rows[r["vec_id"]]
        true = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        assert r["distance"] == pytest.approx(true, abs=1e-6)
    new = spark.createDataFrame(
        [(777778, [0.5] * 64)], "vec_id long, embedding array<double>"
    )
    grown = routed.insert(new)
    top = grown.probe([0.5] * 64, 1).collect()
    assert top[0]["vec_id"] == 777778


@pytest.mark.slow
def test_clustered_corpus_recall_needs_diverse_prune(spark):
    """Regression pin for the 2.2M scale-drill discovery: on a corpus of
    WELL-SEPARATED clusters, eps-ball-only routing + keep-R-nearest
    pruning collapses merged recall to ~0.3 (disconnected islands / no
    cross-cluster edges for the greedy walk). The ℓ=2 routing floor +
    RobustPrune α-occlusion must hold recall@10 ≥ 0.9 on exactly that
    geometry."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((32, 8)) * 6.0
    rows = []
    for i in range(2000):
        v = centers[i % 32] + rng.standard_normal(8)
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = VamanaIndex.build(
        df, "embedding", "vec_id", shards=16, overlap_eps=0.2, r=16
    )
    mat = np.asarray([v for _, v in rows])
    ids = np.asarray([i for i, _ in rows])
    recalls = []
    for qi in range(0, 2000, 100):
        q = mat[qi] + 0.3 * np.random.RandomState(qi).standard_normal(8)
        exact = set(ids[np.argsort(np.linalg.norm(mat - q, axis=1), kind="stable")[:10]].tolist())
        got = {r["vec_id"] for r in idx.probe(q.tolist(), 10).collect()}
        recalls.append(len(got & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.9, recalls


@pytest.mark.slow
def test_multi_entry_rescues_basin_trapped_walks(tmp_path):
    """Regression pin for the r8 1.2M drill finding: a SINGLE-medoid
    greedy walk over the merged graph can get trapped in the entry's
    cluster basin (one query here collapses to recall 0.0; at 1.2M the
    aggregate was 0.368). The default multi-entry seeds (dedicated
    entry-cell k-means, one (distance, id)-medoid vertex per cell —
    params["entry_ids"], replayed by offline_vamana) seed the beam in
    every basin: same ef, +|entries| distance evals, no trapped walks.
    entry_points=1 restores the single-medoid walk (the contrast)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(3)
    CL, dim, n = 32, 16, 12000
    centers = rng.standard_normal((CL, dim)) * 4.0
    X = centers[np.arange(n) % CL] + rng.standard_normal((n, dim))
    path = str(tmp_path / "me.parquet")
    pq.write_table(
        pa.table({"vec_id": np.arange(n), "embedding": list(X.tolist())}), path
    )
    single = offline_vamana(path, "embedding", "vec_id", shards=8, r=16,
                            entry_points=1)
    multi = offline_vamana(path, "embedding", "vec_id", shards=8, r=16)

    def recalls(g):
        out = []
        for qi in range(0, n, 997):
            q = X[qi] + 0.3 * np.random.RandomState(qi).standard_normal(dim)
            exact = set(
                np.argsort(np.linalg.norm(X - q, axis=1), kind="stable")[:10].tolist()
            )
            hits = {h for h, _ in g.search(np.asarray(q, dtype=np.float64), 10)}
            out.append(len(hits & exact) / 10)
        return out

    rs, rm = recalls(single), recalls(multi)
    assert min(rs) == 0.0  # the basin trap is REAL on this geometry
    assert min(rm) >= 0.5, rm  # ...and multi-entry rescues it
    assert sum(rm) >= sum(rs), (rs, rm)
    assert sum(rm) / len(rm) >= 0.95, rm


@pytest.mark.slow
def test_vamana_residual_pq_save_load_and_partitioned_parity(spark, tmp_path):
    """Residual PQ on the merged graph (entry-cell centers): params carry
    the frozen centers, save/load round-trips them (JSON), probes are
    identical after reload, and the partitioned shells (full center set,
    fold-exact per-member cells) return the same exact-reranked hits for
    a probe that stays inside one cell."""
    import numpy as np

    from bustub_vectordb_spark.index.vamana import VamanaIndex
    from bustub_vectordb_spark.similarity.pq import PQModel

    rng = np.random.RandomState(17)
    CL = 4
    centers = rng.uniform(-15, 15, size=(CL, 12))
    rows = [
        (i, (centers[i % CL] + rng.normal(0, 0.2, 12)).tolist())
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = VamanaIndex.build(
        df, "embedding", "vec_id", shards=CL, overlap_eps=0.3, r=8
    )
    assert idx.params.get("entry_ids"), "multi-entry seeds expected"
    model = PQModel.train(idx.residual_source(), "__res", "vec_id", m=4, k=16)
    idxq = idx.quantize_pq(model, residual=True)
    assert idxq.params.get("pq_centers")
    q = rows[9][1]
    want = [(r["vec_id"], round(r["distance"], 9)) for r in idxq.probe(q, 5).collect()]

    path = str(tmp_path / "vamana_pqr")
    idxq.save(path)
    back = VamanaIndex.load(spark, path)
    assert back.params.get("pq_centers") == idxq.params["pq_centers"]
    got = [(r["vec_id"], round(r["distance"], 9)) for r in back.probe(q, 5).collect()]
    assert got == want


def test_partitioned_cells_fully_reachable(spark):
    """The in-cell edge restriction must not strand members: after the r9
    reachability repair every cell vertex is BFS-reachable from the
    cell's seeds (entry + entry_points). Measured before the fix:
    partitioned recall pinned at exactly 0.858 across n_probe 2..32 on
    the 1.2M drill — the missing mass was unreachable at any n_probe."""
    import pickle
    from collections import deque

    import numpy as np

    from bustub_vectordb_spark.index.vamana import VamanaIndex

    rng = np.random.RandomState(31)
    CL = 16
    centers = rng.uniform(-12, 12, size=(CL, 10))
    rows = [
        (i, (centers[i % CL] + rng.normal(0, 0.2, 10)).tolist())
        for i in range(1200)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = VamanaIndex.build(df, "embedding", "vec_id", shards=4,
                            overlap_eps=0.2, r=8)
    part = idx.to_partitioned(cells=3, n_probe=2)
    for row in part.blobs.collect():
        g = pickle.loads(row["blob"])
        lay = g.edges[0]
        n = len(g.ids)
        seeds = set(getattr(g, "entry_points", None) or []) | {g.entry}
        seen = set(seeds)
        dq = deque(seeds)
        while dq:
            v = dq.popleft()
            for nb in lay.get(v, []):
                nb = int(nb)
                if nb not in seen:
                    seen.add(nb)
                    dq.append(nb)
        assert len(seen) == n, (row["shard"], n - len(seen), "unreachable")


def test_attach_unreached_repairs_linked_components():
    """r10 hardening: a mutually-linked in-cell component whose only paths
    from the seeds crossed cell boundaries has in-degree >= 1 on every
    vertex — the r9 in-degree heuristic never classified it as orphaned
    and it stayed unreachable at any n_probe. The repair must compute TRUE
    reachability (BFS from entry + entry_points) and attach one edge per
    unreached component from a SEED donor (the 1.2M re-drill showed a
    nearest-reachable-vertex donor buys no recall at 11x the cost, so
    seeds carry the repair: components become visible in a beam's first
    expansion)."""
    from collections import deque

    from bustub_vectordb_spark.index.vamana import _attach_unreached

    # vertices 0-2: seed-side chain; 3-4: 2-cycle (both have in-degree 1,
    # neither reachable from 0); 5: isolated singleton (in-degree 0)
    mat = np.asarray(
        [[0.0], [1.0], [2.0], [10.0], [11.0], [20.0]], dtype=np.float64
    )
    layer0 = {0: [1], 1: [2], 2: [0], 3: [4], 4: [3], 5: []}
    _attach_unreached(layer0, mat, entry=0, entry_points=[1])

    seen, dq = {0}, deque([0])
    while dq:
        v = dq.popleft()
        for nb in layer0.get(v, []):
            if nb not in seen:
                seen.add(nb)
                dq.append(nb)
    assert seen == set(range(6)), layer0
    # one edge per component, donor = the anchor's nearest SEED of {0, 1}:
    # 3 hangs off 1 (nearest seed to 10.0) and 4 is absorbed through the
    # 3->4 edge; 5 hangs off 1
    assert 3 in layer0[1] and 5 in layer0[1]
    assert all(4 not in layer0[u] for u in (0, 1, 2)), layer0
    assert 3 not in layer0[0] and 5 not in layer0[0], layer0


@pytest.mark.slow
def test_r10_serving_default_floors_at_sf01(spark):
    """VERDICT r10 #6 — pinned sf0.1 floors for the r10/r11 serving
    DEFAULTS, exercised with NO explicit ef/rerank overrides so a default
    regression (PARTITIONED_EF_SERVE, the 48-probe/16-batch rerank split,
    the r11 visited-set harvest) trips here:

      - partitioned float serving through to_partitioned() defaults
        (ef_serve floor 192): measured 0.885 at sf0.1, cells=4/n_probe=3
        (the ceiling is cell assignment at 75% probed fraction, not beam)
      - merged residual-PQ search_batch() default path (rerank 16,
        harvest): measured 0.925 at sf0.1
    """
    from bustub_vectordb_spark.catalog import read_table
    from bustub_vectordb_spark.similarity.pq import PQModel

    emb = read_table(spark, "/root/testdata/sf0.1", "embeddings").cache()
    vam = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16
    )
    vam_pqr = vam.quantize_pq(
        PQModel.train(vam.residual_source(), "__res", "vec_id", m=16, k=32),
        residual=True,
    )
    part = vam.to_partitioned(cells=4, n_probe=3)  # default ef_serve
    queries = emb.filter(F.col("vec_id") % 100 == 3).limit(20).collect()
    assert len(queries) == 20
    exact = {
        row["vec_id"]: {
            x["vec_id"]
            for x in knn(emb, "embedding", list(row["embedding"]), 10).collect()
        }
        for row in queries
    }
    r_part = [
        len(
            {x["vec_id"] for x in part.probe(list(row["embedding"]), 10).collect()}
            & exact[row["vec_id"]]
        ) / 10
        for row in queries
    ]
    qdf = spark.createDataFrame(
        [(row["vec_id"], list(row["embedding"])) for row in queries],
        "qid long, embedding array<double>",
    )
    got: dict = {}
    for r in vam_pqr.search_batch(qdf, "embedding", "qid", 10).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    r_batch = [
        len(got.get(row["vec_id"], set()) & exact[row["vec_id"]]) / 10
        for row in queries
    ]
    avg_part = sum(r_part) / len(r_part)
    avg_batch = sum(r_batch) / len(r_batch)
    assert avg_part >= 0.80, (avg_part, r_part)
    assert avg_batch >= 0.85, (avg_batch, r_batch)


@pytest.mark.slow
def test_r9_tier_recall_floors_at_sf01(spark):
    """VERDICT r9 #4 — pinned sf0.1 regression floors for the r9 tiers
    (routed local-books PQ, routed residual PQ, vamana residual PQ,
    partitioned residual PQ). Measured via tools/recall_report.py at
    sf0.1 (r10): routed pql 0.695, routed pqr 0.655, vamana pqr 0.685
    (pre-default-bump; the rerank-48 default lifts the vamana tiers —
    vamana pq 0.995, partitioned pqr 0.675 on the post-bump rerun).
    NOTE the geometry caveat: sf0.1 is a UNIFORM
    box, so residual codebooks trail global ones here (nothing to
    re-center — the clustered-density ordering where residual wins by
    0.78 points lives in drills/drill_1200k_*.json); these floors catch
    REGRESSIONS, they are not the quality story."""
    from bustub_vectordb_spark.catalog import read_table
    from bustub_vectordb_spark.index.hnsw import HNSWIndex, routed_residual_df
    from bustub_vectordb_spark.similarity.pq import PQModel

    emb = read_table(spark, "/root/testdata/sf0.1", "embeddings").cache()

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8,
        ef_construction=48, ef_search=48,
    )
    routed_pql = routed.quantize_pq_local(m=16, k=32)
    routed_pqr = routed.quantize_pq(
        PQModel.train(
            routed_residual_df(emb, "embedding", "vec_id", routed.centroids),
            "__res", "vec_id", m=16, k=32,
        ),
        residual=True,
    )
    vam = VamanaIndex.build(
        emb, "embedding", "vec_id", shards=4, overlap_eps=0.2, r=16
    )
    vam_pqr = vam.quantize_pq(
        PQModel.train(vam.residual_source(), "__res", "vec_id", m=16, k=32),
        residual=True,
    )
    part_pqr = vam_pqr.to_partitioned(cells=4, n_probe=3)

    queries = emb.filter(F.col("vec_id") % 100 == 3).limit(20).collect()
    assert len(queries) == 20
    rec = {"routed_pql": [], "routed_pqr": [], "vamana_pqr": [], "part_pqr": []}
    for row in queries:
        q = [float(x) for x in row["embedding"]]
        exact = {x["vec_id"] for x in knn(emb, "embedding", q, 10).collect()}
        rec["routed_pql"].append(
            len({x["vec_id"] for x in
                 routed_pql.probe(q, 10, n_probe=2, rerank=emb).collect()}
                & exact) / 10
        )
        rec["routed_pqr"].append(
            len({x["vec_id"] for x in
                 routed_pqr.probe(q, 10, n_probe=2, rerank=emb).collect()}
                & exact) / 10
        )
        rec["vamana_pqr"].append(
            len({x["vec_id"] for x in vam_pqr.probe(q, 10).collect()}
                & exact) / 10
        )
        rec["part_pqr"].append(
            len({x["vec_id"] for x in
                 part_pqr.probe(q, 10, rerank=emb).collect()} & exact) / 10
        )
    avgs = {k: sum(v) / len(v) for k, v in rec.items()}
    assert avgs["routed_pql"] >= 0.64, avgs
    assert avgs["routed_pqr"] >= 0.60, avgs
    assert avgs["vamana_pqr"] >= 0.63, avgs
    assert avgs["part_pqr"] >= 0.58, avgs
