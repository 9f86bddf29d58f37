"""HNSW build/search semantics (ref: src/storage/index/hnsw_index.cpp,
test/sql/vector.05-hnsw.slt). ANN output is approximate → recall thresholds
vs exact KNN, matching the reference's grading model."""

import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.index.hnsw import HNSWIndex
from bustub_vectordb_spark.similarity.brute import knn

QUERY = [0.1 * ((i % 7) - 3) for i in range(64)]


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def hnsw(emb):
    return HNSWIndex.build(
        emb, "embedding", "vec_id", m=8, ef_construction=64, ef_search=64
    )


def test_recall_vs_exact(emb, hnsw):
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY, 10).collect()}
    got = {r["vec_id"] for r in hnsw.probe(QUERY, 10).collect()}
    assert len(got) == 10
    assert len(got & exact) / 10 >= 0.8  # m=8/ef=64 on 500 random vectors


def test_probe_distances_sorted_and_correct(emb, hnsw):
    hits = hnsw.probe(QUERY, 5).collect()
    ds = [r["distance"] for r in hits]
    assert ds == sorted(ds)
    # distance values must equal true l2 distances for returned ids
    ids = [r["vec_id"] for r in hits]
    truth = {
        r["vec_id"]: r["distance"]
        for r in knn(emb.filter(F.col("vec_id").isin(ids)), "embedding", QUERY, 5).collect()
    }
    for r in hits:
        assert r["distance"] == pytest.approx(truth[r["vec_id"]], abs=1e-9)


def test_insert_after_build(emb, hnsw, spark):
    # ref vector.05-hnsw.slt:16-22 — inserted duplicate vector must be findable
    target = emb.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(77777, list(target["embedding"]))], "vec_id long, embedding array<double>"
    )
    hnsw.insert(new)
    ids = {r["vec_id"] for r in hnsw.probe(list(target["embedding"]), 3).collect()}
    assert 77777 in ids and target["vec_id"] in ids


def test_batch_search(emb, hnsw):
    queries = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).limit(20)
    out = hnsw.search_batch(queries, "qvec", k=3)
    rows = out.collect()
    assert len(rows) == 60
    # self-match: each query's own vector must be among its top-3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    self_hit = sum(1 for q, hits in by_q.items() if q in hits or q + 100000 in hits)
    assert self_hit >= 18  # ≥90% self-recall


def test_batch_search_spreads_single_split_queries(emb, hnsw, spark):
    # perf guard (r12): a single-split query table must not pin every
    # driver-graph batch walk to one Python worker — the walk input is
    # repartitioned to defaultParallelism (measured on the sf0.1
    # vamana_pq_batch bench key: 10.4 s serial -> 2.3 s spread), with
    # identical per-query results (walks are partition-independent)
    from bustub_vectordb_spark.index.hnsw import _spread_queries

    queries = (
        emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .limit(20)
        .coalesce(1)
    )
    assert queries.rdd.getNumPartitions() == 1
    spread = _spread_queries(queries)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # already-wide inputs pass through untouched (no extra shuffle)
    assert _spread_queries(spread) is spread
    base = {
        (r["qid"], r["vec_id"])
        for r in hnsw.search_batch(queries, "qvec", k=3).collect()
    }
    wide = {
        (r["qid"], r["vec_id"])
        for r in hnsw.search_batch(spread, "qvec", k=3).collect()
    }
    assert base == wide


def test_sharded_build_and_probe(emb):
    """A probe without n_probe searches every shard and merges top-k."""
    sharded = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY, 10).collect()}
    got = {r["vec_id"] for r in sharded.probe(QUERY, 10).collect()}
    assert len(got) == 10
    assert len(got & exact) / 10 >= 0.7


def test_save_load_roundtrip(emb, hnsw, spark, tmp_path):
    path = str(tmp_path / "hnsw")
    hnsw.save(path)
    from bustub_vectordb_spark.index.hnsw import HNSWIndex

    loaded = HNSWIndex.load(spark, path)
    orig = [(r["vec_id"], round(r["distance"], 8)) for r in hnsw.probe(QUERY, 10).collect()]
    rest = [(r["vec_id"], round(r["distance"], 8)) for r in loaded.probe(QUERY, 10).collect()]
    assert orig == rest


def test_routed_build_and_probe(emb):
    """IVF-routed shards: probing only the nearest 2 of 4 spatially-coherent
    shards must still recover most true neighbors (they concentrate in the
    query's nearest clusters)."""
    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY, 10).collect()}

    all_shards = {r["vec_id"] for r in routed.probe(QUERY, 10).collect()}
    assert len(all_shards) == 10
    assert len(all_shards & exact) / 10 >= 0.7

    pruned = {r["vec_id"] for r in routed.probe(QUERY, 10, n_probe=2).collect()}
    assert len(pruned) == 10
    assert len(pruned & exact) / 10 >= 0.6
    # routing order is a permutation of all shards
    assert sorted(routed.rank_shards(QUERY)) == [0, 1, 2, 3]


def test_routed_indexes_own_their_storage(spark, emb):
    """Two routed builds over the same input plan each hold their shard
    blobs in a checkpoint leaf of their own: releasing one leaves the
    other fully stored (so it serves without rebuilding its graphs) and
    answering as before. A cache() entry is shared by every equal plan,
    so unpersisting one index's would drop the other's."""
    from bustub_vectordb_spark.shipping import release_checkpoint

    src = emb.filter(F.col("vec_id") != -104723)  # a plan no other test caches
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def build():
        return HNSWIndex.build_routed(
            src, "embedding", "vec_id", shards=4, m=8,
            ef_construction=48, ef_search=48,
        )

    def leaf_rdd(idx):
        plan = idx.blobs._jdf.queryExecution().analyzed()
        assert plan.getClass().getName().endswith("LogicalRDD"), plan
        return plan.rdd()

    def stored():
        return {
            i.id(): i.numCachedPartitions()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    def answer(idx):
        out = idx.search_batch(queries, "qvec", "qid", 5, n_probe=2)
        return sorted((r["qid"], r["vec_id"], r["distance"]) for r in out.collect())

    a, b = build(), build()
    ra, rb = leaf_rdd(a), leaf_rdd(b)
    assert ra.id() != rb.id()
    want = answer(b)
    assert answer(a) == want
    release_checkpoint(a.blobs)
    held = stored()
    assert ra.id() not in held
    assert held.get(rb.id()) == rb.getNumPartitions()
    assert answer(b) == want
    release_checkpoint(b.blobs)
    assert rb.id() not in stored()


def test_entry_promoted_on_new_top_layer():
    """When an insert draws a level above the current top layer, the new
    vertex must become the entry point and the sole member of each new
    layer (ref InsertVectorEntry, hnsw_index.cpp:204-279)."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    g = _Graph(m=4, ef_construction=8, ef_search=8, dist="l2", seed=1)

    class _FixedLevels:
        # levels drawn per insert: node0 → 0, node1 → 0, node2 → 2
        def __init__(self, levels):
            self._levels = iter(levels)

        def random(self):
            import math

            # invert level = int(-log(r) * m_l): r = exp(-level / m_l)
            return math.exp(-next(self._levels) / g.m_l) * 0.999

    g.rng = _FixedLevels([0, 0, 2])
    g.add_all([10, 11, 12], np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]]))
    assert g.entry == 2, "node at new top layer must become the entry point"
    assert len(g.edges) == 3
    assert set(g.edges[2]) == {2} and set(g.edges[1]) == {2}, (
        "new layers contain only the promoted vertex — no fabricated "
        "adjacency for the old entry"
    )
    # the graph still searches correctly from the promoted entry
    got = [i for i, _ in g.search(np.array([0.9, 0.1]), 2)]
    assert got[0] == 11


def test_string_id_column(spark):
    """Non-bigint id columns (e.g. doc_id strings) must round-trip through
    probe, batch search, persistence, and sharded probes — schemas derive
    the id type from the source DataFrame, not a hardcoded long."""
    import random as _random

    rng = _random.Random(7)
    rows = [
        (f"doc-{i:03d}", [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id string, embedding array<double>")
    idx = HNSWIndex.build(
        df, "embedding", "doc_id", m=4, ef_construction=16, ef_search=16
    )
    q = rows[5][1]
    hits = idx.probe(q, 3).collect()
    assert hits[0]["doc_id"] == "doc-005"

    queries = df.select(
        F.col("doc_id").alias("qid"), F.col("embedding").alias("qvec")
    ).limit(5)
    batch = idx.search_batch(queries, "qvec", k=2).collect()
    assert len(batch) == 10 and all(isinstance(r["doc_id"], str) for r in batch)

    sharded = HNSWIndex.build_routed(
        df, "embedding", "doc_id", shards=2, m=4, ef_construction=16, ef_search=16
    )
    got = sharded.probe(q, 3).collect()
    assert got[0]["doc_id"] == "doc-005"


def test_string_id_save_load(spark, tmp_path):
    rows = [(f"k{i}", [float(i), float(i % 3)]) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id string, embedding array<double>")
    idx = HNSWIndex.build(df, "embedding", "doc_id", m=4, ef_construction=16, ef_search=16)
    path = str(tmp_path / "hnsw_str")
    idx.save(path)
    loaded = HNSWIndex.load(spark, path)
    assert loaded.id_type == "string"
    orig = [(r["doc_id"], round(r["distance"], 8)) for r in idx.probe([3.0, 0.0], 5).collect()]
    rest = [(r["doc_id"], round(r["distance"], 8)) for r in loaded.probe([3.0, 0.0], 5).collect()]
    assert orig == rest


def test_routed_boundary_replication(emb):
    """SPANN-style replication: with eps > 0, near-boundary vectors live in
    multiple shards, so a 1-shard probe must not miss more than the
    replication-free probe — and results stay unique per id."""
    plain = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    repl = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48,
        ef_search=48, replicate_eps=0.3,
    )
    exact = {r["vec_id"] for r in knn(emb, "embedding", QUERY, 10).collect()}

    def recall(idx, n_probe):
        rows = idx.probe(QUERY, 10, n_probe=n_probe).collect()
        ids = [r["vec_id"] for r in rows]
        assert len(ids) == len(set(ids)), "probe must dedupe replicated hits"
        return len(set(ids) & exact) / 10

    assert recall(repl, 1) >= recall(plain, 1)
    assert recall(repl, 2) >= 0.6
    # replication actually happened (storage grew)
    n_plain = plain.blobs.count()
    assert n_plain == 4


# -- driver-build guard (sql._create_index routing; VERDICT r2 item 3) -----


def test_driver_build_refuses_big_table(tables):
    from bustub_vectordb_spark.index.hnsw import HNSWIndex

    with pytest.raises(ValueError, match="build_routed"):
        HNSWIndex.build(
            tables["embeddings"], "embedding", "vec_id", max_rows=100
        )


def test_sql_create_index_routes_big_table(spark, tables, monkeypatch):
    """CREATE INDEX ... USING hnsw on a table past the threshold must build
    the IVF-routed sharded index and never collect() the table to the
    driver (HNSWIndex.build is the only full-collect path — poison it)."""
    from bustub_vectordb_spark.index.hnsw import HNSWIndex, ShardedHNSW
    from bustub_vectordb_spark.sql import SqlEngine

    engine = SqlEngine(spark)
    emb = tables["embeddings"]
    engine.catalog.register("emb_big", emb)
    monkeypatch.setattr(SqlEngine, "HNSW_DRIVER_BUILD_MAX_ROWS", 100)
    monkeypatch.setattr(SqlEngine, "HNSW_SHARD_TARGET_ROWS", 200)

    def poisoned(*a, **kw):
        raise AssertionError("driver-mode HNSWIndex.build called for a big table")

    monkeypatch.setattr(HNSWIndex, "build", poisoned)
    engine.execute("CREATE INDEX big_idx ON emb_big USING hnsw (embedding vector_l2_ops);")
    (info,) = engine.indexes.lookup("emb_big", "embedding")
    assert isinstance(info.index, ShardedHNSW)
    assert info.index.default_n_probe is not None
    hits = info.index.probe([0.0] * 64, 5).collect()
    assert len(hits) == 5

    # the planner path picks the sharded index up transparently
    from bustub_vectordb_spark.index.selection import plan_knn

    plan = plan_knn(engine.indexes, "emb_big", emb, "embedding", [0.0] * 64, 5)
    assert plan.strategy == "vector_index_scan(hnsw)"
    assert len(plan.df.collect()) == 5


def test_sql_create_index_small_table_stays_exact(spark, tables):
    from bustub_vectordb_spark.index.hnsw import HNSWIndex
    from bustub_vectordb_spark.sql import SqlEngine

    engine = SqlEngine(spark)
    engine.catalog.register("emb_small", tables["embeddings"])
    engine.execute(
        "CREATE INDEX small_idx ON emb_small USING hnsw (embedding vector_l2_ops);"
    )
    (info,) = engine.indexes.lookup("emb_small", "embedding")
    assert isinstance(info.index, HNSWIndex)


@pytest.mark.slow
def test_routed_recall_at_scale_sf01(spark):
    """Routed-shard recall at the bench scale factor (sf0.1, 2000 vectors):
    4 IVF-routed shards with SPANN boundary replication (eps=0.2), probing
    only the 2 nearest shards, must hold recall@10 ≥ 0.9 averaged over 20
    table queries (VERDICT r2 item 7 — the toy-size recall tests above
    don't exercise shard-boundary effects)."""
    from bustub_vectordb_spark.catalog import read_table

    emb = read_table(spark, "/root/testdata/sf0.1", "embeddings")
    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8,
        ef_construction=48, ef_search=48, replicate_eps=0.2,
    )
    queries = emb.filter(F.col("vec_id") % 100 == 3).limit(20).collect()
    assert len(queries) == 20
    recalls = []
    for r in queries:
        q = [float(x) for x in r["embedding"]]
        exact = {x["vec_id"] for x in knn(emb, "embedding", q, 10).collect()}
        got = {x["vec_id"] for x in routed.probe(q, 10, n_probe=2).collect()}
        recalls.append(len(got & exact) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"routed recall@10 at sf0.1: avg={avg} recalls={recalls}"


def test_routed_search_batch_matches_single_probes(emb):
    """Distributed batch search over routed shards returns, per query, the
    same hits as the single-query probe path (same routing, same graphs,
    same dedup + top-k)."""
    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    qrows = emb.filter(F.col("vec_id") % 100 == 7).limit(5).collect()
    queries = emb.filter(F.col("vec_id") % 100 == 7).limit(5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    batch = {}
    for r in routed.search_batch(queries, "embedding", "qid", k=5, n_probe=2).collect():
        batch.setdefault(r["qid"], []).append((r["distance"], r["vec_id"]))
    assert set(batch) == {r["vec_id"] for r in qrows}
    for r in qrows:
        single = [
            (x["distance"], x["vec_id"])
            for x in routed.probe(list(r["embedding"]), 5, n_probe=2).collect()
        ]
        assert sorted(batch[r["vec_id"]]) == sorted(single)


def test_filtered_probe_pre_vs_post(emb, hnsw):
    """Filtered vector search (allowed-set enforced DURING the graph walk)
    must return a full top-k among matching rows; post-filtering an
    unfiltered top-k is the broken alternative that comes up short. Twin of
    tests/test_ivfflat.py's filtered-probe semantics test."""
    allowed_df = emb.filter(F.col("label") == 2).select("vec_id")
    allowed = {r["vec_id"] for r in allowed_df.collect()}
    assert len(allowed) >= 10

    hits = hnsw.probe(QUERY, 10, allowed=allowed_df).collect()
    assert len(hits) == 10
    assert {r["vec_id"] for r in hits} <= allowed, "filter must be enforced"
    ds = [r["distance"] for r in hits]
    assert ds == sorted(ds)

    # recall vs the exact filtered KNN (top-k over label==2 rows only)
    exact = {
        r["vec_id"]
        for r in knn(emb.filter(F.col("label") == 2), "embedding", QUERY, 10).collect()
    }
    assert len({r["vec_id"] for r in hits} & exact) / 10 >= 0.8

    # the post-filter strawman surfaces strictly fewer matching rows
    post = [
        r for r in hnsw.probe(QUERY, 10).collect() if r["vec_id"] in allowed
    ]
    assert len(post) < 10, "unfiltered top-10 post-filtered should come up short"


def test_routed_filtered_probe(emb):
    """Filtered search composes with shard pruning on the routed variant:
    the allowed set is enforced inside each probed shard's walk."""
    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    allowed_df = emb.filter(F.col("label") == 2).select("vec_id")
    allowed = {r["vec_id"] for r in allowed_df.collect()}
    hits = routed.probe(QUERY, 10, n_probe=2, allowed=allowed_df).collect()
    assert 0 < len(hits) <= 10
    assert {r["vec_id"] for r in hits} <= allowed
    exact = {
        r["vec_id"]
        for r in knn(emb.filter(F.col("label") == 2), "embedding", QUERY, 10).collect()
    }
    assert len({r["vec_id"] for r in hits} & exact) / 10 >= 0.5  # 2 of 4 shards


def test_plan_knn_filtered(emb):
    """plan_knn(where=...) pushes the predicate into the index probe (HNSW:
    allowed-set; seq_scan fallback: pre-filter) — filtered results only."""
    from bustub_vectordb_spark.index.registry import VectorIndexRegistry
    from bustub_vectordb_spark.index.selection import plan_knn

    idx = HNSWIndex.build(
        emb, "embedding", "vec_id", m=8, ef_construction=64, ef_search=64
    )
    reg = VectorIndexRegistry()
    reg.create("emb_hnsw", "embeddings", "embedding", "hnsw", idx)
    allowed = {r["vec_id"] for r in emb.filter(F.col("label") == 2).collect()}

    plan = plan_knn(
        reg, "embeddings", emb, "embedding", QUERY, 10,
        where=F.col("label") == 2,
    )
    assert plan.strategy == "vector_index_scan(hnsw)"
    assert {r["vec_id"] for r in plan.df.collect()} <= allowed

    seq = plan_knn(
        reg, "embeddings", emb, "embedding", QUERY, 10,
        method="none", where=F.col("label") == 2,
    )
    assert seq.strategy == "seq_scan"
    assert {r["vec_id"] for r in seq.df.collect()} <= allowed


def test_sharded_insert_after_build(emb, spark):
    """ShardedHNSW.insert (the at-scale InsertVectorEntry): an inserted
    duplicate of an existing vector must be findable by a pruned probe and
    untouched shards' results are unchanged."""
    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    target = emb.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(88888, list(target["embedding"]))], "vec_id long, embedding array<double>"
    )
    extended = routed.insert(new)
    q = [float(x) for x in target["embedding"]]
    ids = {r["vec_id"] for r in extended.probe(q, 3, n_probe=2).collect()}
    assert 88888 in ids and target["vec_id"] in ids
    # original index untouched (insert returns a new index, like IVF insert)
    assert 88888 not in {r["vec_id"] for r in routed.probe(q, 3, n_probe=2).collect()}
    # shard count unchanged: the row routed into an existing shard
    assert extended.blobs.count() == routed.blobs.count()


def test_sharded_load_then_insert(spark, emb, tmp_path):
    """Insert-after-LOAD: build params persist in the index meta, so a
    reloaded routed index can still extend shard graphs (including a shard
    that was empty at build time, which needs the params to start fresh)."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    routed.save(str(tmp_path / "sh_ins"))
    loaded = ShardedHNSW.load(spark, str(tmp_path / "sh_ins"))
    assert loaded.params == routed.params and loaded.params["m"] == 8

    target = emb.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(99999, list(target["embedding"]))], "vec_id long, embedding array<double>"
    )
    extended = loaded.insert(new)
    q = [float(x) for x in target["embedding"]]
    ids = {r["vec_id"] for r in extended.probe(q, 3, n_probe=2).collect()}
    assert 99999 in ids and target["vec_id"] in ids


def test_sharded_save_load_roundtrip(spark, emb, tmp_path):
    """Routed ShardedHNSW persists as shard-partitioned blob parquet +
    centroid table; the loaded index probes identically (routing included)."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    before = [(r["vec_id"], r["distance"]) for r in routed.probe(QUERY, 10, n_probe=2).collect()]
    routed.save(str(tmp_path / "sharded"))
    loaded = ShardedHNSW.load(spark, str(tmp_path / "sharded"))
    assert loaded.centroids == routed.centroids
    after = [(r["vec_id"], r["distance"]) for r in loaded.probe(QUERY, 10, n_probe=2).collect()]
    assert after == before


def test_sharded_load_refuses_routed_save_without_centroids(spark, emb, tmp_path):
    """A routed save records that it is routed, so a damaged save whose
    centroid table is gone fails to load with a named error instead of
    loading unrouted (probe(n_probe=1) would silently search every shard).
    A save from before the record, which may legitimately lack the table,
    still loads without centroids."""
    import shutil

    from bustub_vectordb_spark.index import DamagedIndexError
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW

    small = emb.orderBy("vec_id").limit(200)
    routed = HNSWIndex.build_routed(small, "embedding", "vec_id", shards=4)
    path = str(tmp_path / "damaged")
    routed.save(path)
    shutil.rmtree(f"{path}/centroids")
    with pytest.raises(DamagedIndexError, match="centroids"):
        ShardedHNSW.load(spark, path)

    old_meta = spark.read.parquet(f"{path}/meta").drop("routed").collect()
    spark.createDataFrame(
        old_meta,
        "vec_col string, id_col string, dist string, id_type string, params string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    assert ShardedHNSW.load(spark, path).centroids is None
    routed.blobs.unpersist()


def test_routed_filtered_search_never_collects_allowed_set(emb):
    """The 100 TB contract for filtered search on the routed path: a
    DataFrame allowed-set must NEVER be materialized on the driver — it is
    semi-joined shard-locally against the blob membership (hnsw.members),
    so an allowed set far larger than driver memory still works. Enforced
    by making collect() on the filter explode, and checked for parity
    against the broadcast (iterable) path on the same deterministic graphs."""
    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    allowed_df = emb.filter(F.col("label") == 2).select("vec_id")
    allowed_set = frozenset(r["vec_id"] for r in allowed_df.collect())

    def boom(*a, **k):
        raise AssertionError("driver collected the allowed set")

    guarded = emb.filter(F.col("label") == 2).select("vec_id")
    guarded.collect = boom  # any driver materialization now fails the test

    got = routed.probe(QUERY, 10, n_probe=2, allowed=guarded).collect()
    assert 0 < len(got) <= 10
    assert {r["vec_id"] for r in got} <= allowed_set
    # parity with the broadcast path (same graphs, same allowed ids)
    bc = routed.probe(QUERY, 10, n_probe=2, allowed=allowed_set).collect()
    assert [(r["vec_id"], r["distance"]) for r in got] == [
        (r["vec_id"], r["distance"]) for r in bc
    ]

    # batch path: same no-driver-collect guarantee
    queries = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).limit(5)
    guarded2 = emb.filter(F.col("label") == 2).select("vec_id")
    guarded2.collect = boom
    batch = routed.search_batch(
        queries, "qvec", "qid", k=3, n_probe=2, allowed=guarded2
    ).collect()
    assert batch and {r["vec_id"] for r in batch} <= allowed_set
    bc_batch = routed.search_batch(
        queries, "qvec", "qid", k=3, n_probe=2, allowed=allowed_set
    ).collect()
    key = lambda r: (r["qid"], r["vec_id"])  # noqa: E731
    assert sorted([(*key(r), r["distance"]) for r in batch]) == sorted(
        [(*key(r), r["distance"]) for r in bc_batch]
    )


def test_sharded_insert_refuses_fresh_shard_without_params(emb, spark):
    """insert() must not silently build a fresh shard graph with default
    params on an index that lost its build params (pre-upgrade save):
    determinism/offline-replay would quietly break. It raises instead."""
    import dataclasses

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    target = emb.limit(1).collect()[0]
    s = routed.rank_shards([float(x) for x in target["embedding"]])[0]
    # simulate a pre-upgrade save: drop shard s's blob and the params
    crippled = dataclasses.replace(
        routed, blobs=routed.blobs.filter(F.col("shard") != s), params=None
    )
    new = spark.createDataFrame(
        [(88888, list(target["embedding"]))], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="params"):
        crippled.insert(new).blobs.count()


def test_sharded_sq8_quantize_rerank_and_size(emb):
    """SQ8 codes inside the shard blobs (ShardedHNSW.quantize): the probe
    with exact rerank must (a) return EXACT distances, (b) match-or-beat
    the unquantized probe's recall vs exact KNN, and (c) actually shrink
    the blobs (vectors are the dominant payload)."""
    import numpy as np

    from bustub_vectordb_spark.similarity.quantize import dim_stats

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    sq8 = routed.quantize([r["mn"] for r in stats], [r["mx"] for r in stats])

    exact_rows = knn(emb, "embedding", QUERY, 10).collect()
    exact = {r["vec_id"]: r["distance"] for r in exact_rows}
    plain_hits = {r["vec_id"] for r in routed.probe(QUERY, 10, n_probe=2).collect()}
    got = sq8.probe(QUERY, 10, n_probe=2, rerank=emb).collect()
    assert len(got) == 10
    # reranked distances are exact, not ADC approximations
    for r in got:
        if r["vec_id"] in exact:
            assert r["distance"] == pytest.approx(exact[r["vec_id"]], abs=1e-9)
    sq8_recall = len({r["vec_id"] for r in got} & set(exact)) / 10
    plain_recall = len(plain_hits & set(exact)) / 10
    assert sq8_recall >= plain_recall

    plain_bytes = sum(len(r["blob"]) for r in routed.blobs.collect())
    sq8_bytes = sum(len(r["blob"]) for r in sq8.blobs.collect())
    assert sq8_bytes < plain_bytes * 0.55, (sq8_bytes, plain_bytes)


def test_sharded_sq8_insert_after_quantize(emb, spark):
    """Insert into a quantized index: new rows encode with the FROZEN
    affine params inside the touched shard's graph, and an inserted
    duplicate is findable via the reranked probe."""
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    sq8 = routed.quantize([r["mn"] for r in stats], [r["mx"] for r in stats])
    assert "sq8_mins" in sq8.params

    target = emb.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(66666, list(target["embedding"]))], "vec_id long, embedding array<double>"
    )
    ext = sq8.insert(new)
    src = emb.select("vec_id", "embedding").unionByName(new)
    q = [float(x) for x in target["embedding"]]
    ids = {r["vec_id"] for r in ext.probe(q, 3, n_probe=2, rerank=src).collect()}
    assert 66666 in ids and target["vec_id"] in ids


def test_sharded_sq8_batch_rerank(emb):
    """Batch serving over SQ8 shards: reranked distances are exact (match
    brute-force for the returned ids) and per-query self-recall holds."""
    import numpy as np

    from bustub_vectordb_spark.similarity.quantize import dim_stats

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    sq8 = routed.quantize([r["mn"] for r in stats], [r["mx"] for r in stats])

    queries = emb.limit(8).select(F.col("vec_id").alias("qid"), "embedding")
    out = sq8.search_batch(queries, "embedding", "qid", k=3, n_probe=2, rerank=emb).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()}
    assert len(by_q) == 8
    for qid, hits in by_q.items():
        hits.sort(key=lambda h: (h["distance"], h["vec_id"]))
        assert len(hits) == 3
        # distances are exact l2 against full-precision vectors
        for h in hits:
            want = float(np.linalg.norm(vecs[h["vec_id"]] - vecs[qid]))
            assert h["distance"] == pytest.approx(want, abs=1e-9)
        # the query's own vector must be its top hit (distance 0)
        assert hits[0]["vec_id"] == qid or hits[0]["distance"] == pytest.approx(0.0)


def test_sharded_sq8_save_load_roundtrip(spark, emb, tmp_path):
    """SQ8-quantized ShardedHNSW persists (params carry the frozen affine
    mins/maxs) and the reloaded index probes identically."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    sq8 = routed.quantize([r["mn"] for r in stats], [r["mx"] for r in stats])
    before = [
        (r["vec_id"], r["distance"])
        for r in sq8.probe(QUERY, 5, n_probe=2, rerank=emb).collect()
    ]
    sq8.save(str(tmp_path / "sq8idx"))
    loaded = ShardedHNSW.load(spark, str(tmp_path / "sq8idx"))
    assert "sq8_mins" in loaded.params
    after = [
        (r["vec_id"], r["distance"])
        for r in loaded.probe(QUERY, 5, n_probe=2, rerank=emb).collect()
    ]
    assert after == before


def test_routed_batch_skips_dedupe_when_not_replicated(emb):
    """A routed build with replicate_eps=0 assigns each id to exactly one
    shard, so the batch path must skip the per-(qid,id) dedupe shuffle —
    one fewer Exchange than the boundary-replicated variant — with
    identical results."""
    import io
    from contextlib import redirect_stdout

    def n_exchanges(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue().count("Exchange (")

    # earlier tests cache() identical-param routed blobs; Spark's cache
    # manager substitutes plan-matching fragments, which perturbs the
    # exchange count this test compares — isolate the invariant
    emb.sparkSession.catalog.clearCache()
    queries = emb.limit(6).select(F.col("vec_id").alias("qid"), "embedding")
    plain = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    assert plain._maybe_replicated is False
    repl = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48,
        ef_search=48, replicate_eps=0.3,
    )
    assert repl._maybe_replicated is True
    out_plain = plain.search_batch(queries, "embedding", "qid", k=3, n_probe=2)
    out_repl = repl.search_batch(queries, "embedding", "qid", k=3, n_probe=2)
    assert n_exchanges(out_plain) == n_exchanges(out_repl) - 1
    # results still correct and unique per (qid, id)
    rows = out_plain.collect()
    seen = {(r["qid"], r["vec_id"]) for r in rows}
    assert len(seen) == len(rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert all(len(v) == 3 for v in by_q.values())


def test_sharded_pq_quantize_rerank_and_size(emb):
    """PQ codes inside the shard blobs (ShardedHNSW.quantize_pq — the PQ
    twin of the SQ8 path): probe with exact rerank must (a) return EXACT
    distances, (b) keep recall vs exact KNN high, and (c) shrink the blobs
    (m=16 bytes/vector vs 512 for float64; the per-graph codebook copy is
    O(m·k·dim) and amortizes with corpus size)."""
    from bustub_vectordb_spark.similarity.pq import PQModel

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    pq = routed.quantize_pq(model)
    assert "pq_books" in pq.params and "pq_bounds" in pq.params

    exact_rows = knn(emb, "embedding", QUERY, 10).collect()
    exact = {r["vec_id"]: r["distance"] for r in exact_rows}
    got = pq.probe(QUERY, 10, n_probe=2, rerank=emb).collect()
    assert len(got) == 10
    # reranked distances are exact, not reconstruction approximations
    for r in got:
        if r["vec_id"] in exact:
            assert r["distance"] == pytest.approx(exact[r["vec_id"]], abs=1e-9)
    pq_recall = len({r["vec_id"] for r in got} & set(exact)) / 10
    assert pq_recall >= 0.7, pq_recall

    plain_bytes = sum(len(r["blob"]) for r in routed.blobs.collect())
    pq_bytes = sum(len(r["blob"]) for r in pq.blobs.collect())
    assert pq_bytes < plain_bytes * 0.7, (pq_bytes, plain_bytes)


def test_sharded_pq_insert_after_quantize(emb, spark):
    """Insert into a PQ-quantized index: new rows encode with the FROZEN
    codebooks inside the touched shard's graph, and an inserted duplicate
    is findable via the reranked probe."""
    from bustub_vectordb_spark.similarity.pq import PQModel

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    pq = routed.quantize_pq(model)

    target = emb.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(77777, list(target["embedding"]))], "vec_id long, embedding array<double>"
    )
    ext = pq.insert(new)
    src = emb.select("vec_id", "embedding").unionByName(new)
    q = [float(x) for x in target["embedding"]]
    ids = {r["vec_id"] for r in ext.probe(q, 3, n_probe=2, rerank=src).collect()}
    assert 77777 in ids and target["vec_id"] in ids


def test_sharded_pq_save_load_roundtrip(spark, emb, tmp_path):
    """PQ-quantized ShardedHNSW persists (params carry the frozen
    codebooks) and the reloaded index probes identically."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW
    from bustub_vectordb_spark.similarity.pq import PQModel

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    pq = routed.quantize_pq(model)
    before = [
        (r["vec_id"], r["distance"])
        for r in pq.probe(QUERY, 5, n_probe=2, rerank=emb).collect()
    ]
    pq.save(str(tmp_path / "pqidx"))
    loaded = ShardedHNSW.load(spark, str(tmp_path / "pqidx"))
    assert "pq_books" in loaded.params
    after = [
        (r["vec_id"], r["distance"])
        for r in loaded.probe(QUERY, 5, n_probe=2, rerank=emb).collect()
    ]
    assert after == before


def test_graph_pq_decode_matches_model_and_refuses_double_quantize():
    """_Graph.quantize_pq codes + decode must equal PQModel.encode_rows +
    codebook reconstruction (same argmin, same gather), and quantizing an
    SQ8 graph with PQ must raise instead of compounding two quantizers."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph
    from bustub_vectordb_spark.similarity.pq import PQModel

    rng = np.random.RandomState(7)
    mat = rng.rand(80, 12)
    model = PQModel.train_rows(mat, m=4, k=8)

    g = _Graph(4, 16, 16, "l2", seed=1)
    g.add_all(list(range(80)), mat.copy())
    g.quantize_pq(model.centroids, model.bounds)
    assert np.array_equal(g.pq_codes, model.encode_rows(mat).astype(np.uint8))
    want = np.concatenate(
        [model.centroids[s][model.encode_rows(mat)[:, s]] for s in range(model.m)],
        axis=1,
    )
    assert np.allclose(g._mat_rows(slice(None)), want)

    g2 = _Graph(4, 16, 16, "l2", seed=1)
    g2.add_all(list(range(80)), mat.copy())
    g2.quantize_sq8(mat.min(axis=0).tolist(), mat.max(axis=0).tolist())
    with pytest.raises(ValueError, match="SQ8-quantized"):
        g2.quantize_pq(model.centroids, model.bounds)


def test_sharded_insert_delta_and_compaction(emb, spark, monkeypatch):
    """insert() materializes only touched shards (delta + lazy untouched
    view) and compacts the union view every COMPACT_EVERY inserts; results
    stay identical through the compaction boundary, and an empty insert is
    a no-op returning the same index."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    n_shards = routed.blobs.count()
    monkeypatch.setattr(ShardedHNSW, "COMPACT_EVERY", 2)

    target = emb.limit(1).collect()[0]
    base_vec = [float(x) for x in target["embedding"]]
    idx = routed
    for i, nid in enumerate([91001, 91002, 91003]):
        new = spark.createDataFrame(
            [(nid, base_vec)], "vec_id long, embedding array<double>"
        )
        idx = idx.insert(new)
        # depth resets to 0 at the compaction boundary (insert #2)
        assert idx._delta_depth == (i + 1) % 2
        # the blobs view never duplicates shards
        assert idx.blobs.count() == n_shards

    hits = {r["vec_id"] for r in idx.probe(base_vec, 5, n_probe=2).collect()}
    assert {91001, 91002, 91003} <= hits

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert idx.insert(empty) is idx


def test_sharded_insert_of_empty_input_answers_as_before(emb, spark):
    """An insert that routes no row returns the same index, which answers
    as before: for an input with no partitions (its routing checkpoint
    runs no job, so the touched-shard observation must complete without
    one) and for rows filtered away. Each insert runs in a daemon thread
    under a timeout, so an observation that never completes fails the
    test instead of hanging it."""
    import threading

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    before = routed.probe(QUERY, 5, n_probe=4).collect()
    schema = "vec_id long, embedding array<double>"
    inputs = {
        "zero partitions": spark.createDataFrame(spark.sparkContext.emptyRDD(), schema),
        "filtered to empty": emb.select("vec_id", "embedding").filter(F.col("vec_id") < 0),
    }
    for name, rows in inputs.items():
        got = []
        t = threading.Thread(target=lambda: got.append(routed.insert(rows)), daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), f"{name}: insert did not return within 120 s"
        assert got and got[0] is routed, name
        assert got[0].probe(QUERY, 5, n_probe=4).collect() == before, name


def test_search_batch_chunked_rows_bounded_and_identical(emb, spark):
    """r6 scale fix: search_batch groups a shard's queries into BOUNDED
    (shard, chunk) collect_list rows instead of one row per shard (which
    caps parallelism at shard count and risks the 2 GB row/Arrow limit on
    a 100×-scale query batch). With the chunk size forced below the batch
    size, results must be bit-identical to the default (single-chunk)
    path, and every grouped row must hold <= QUERY_CHUNK queries."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    queries = emb.filter(F.col("vec_id") % 71 == 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    nq = queries.count()
    assert nq >= 5
    baseline = sorted(
        (r["qid"], r["vec_id"], r["distance"])
        for r in routed.search_batch(queries, "embedding", "qid", k=5, n_probe=2).collect()
    )
    old = ShardedHNSW.QUERY_CHUNK
    ShardedHNSW.QUERY_CHUNK = 2
    try:
        chunked = sorted(
            (r["qid"], r["vec_id"], r["distance"])
            for r in routed.search_batch(
                queries, "embedding", "qid", k=5, n_probe=2
            ).collect()
        )
        # row bound: every grouped row holds <= 2 queries, all queries kept
        fake = spark.createDataFrame(
            [(i, [0.0], i % 2) for i in range(10)],
            "qid long, __qv array<double>, __shard long",
        )
        sizes = [r[0] for r in routed._chunked_queries(fake, "qid").select(
            F.size("__qs")
        ).collect()]
        assert max(sizes) <= 2 and sum(sizes) == 10 and len(sizes) == 6
    finally:
        ShardedHNSW.QUERY_CHUNK = old
    assert chunked == baseline  # bit-identical serving


@pytest.mark.slow
def test_insert_compaction_releases_superseded_leaves(emb, spark):
    """r6 storage fix: after a COMPACT_EVERY fold the pre-compaction
    checkpoint leaves are unreachable from the new view and must be
    unpersisted — a week-long ingest stream otherwise accumulates one
    stale generation per fold. Probes stay bit-identical to a
    never-compacting chain over the same inserts."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW

    def run_chain(compact_every):
        old = ShardedHNSW.COMPACT_EVERY
        ShardedHNSW.COMPACT_EVERY = compact_every
        try:
            idx = HNSWIndex.build_routed(
                emb, "embedding", "vec_id", shards=4, m=8,
                ef_construction=48, ef_search=48,
            )
            for i in range(7):  # >= 2 * compact_every for the small chain
                new = spark.createDataFrame(
                    [(90000 + i, [0.01 * i] * 64)],
                    "vec_id long, embedding array<double>",
                )
                idx = idx.insert(new)
        finally:
            ShardedHNSW.COMPACT_EVERY = old
        return idx

    jsc = spark.sparkContext._jsc.sc()
    base_rdds = jsc.getPersistentRDDs().size()
    compacting = run_chain(3)  # folds after inserts 3 and 6
    after_rdds = jsc.getPersistentRDDs().size()
    # bounded: base view + <= compact_every outstanding deltas + the fold —
    # NOT one leaf per insert (9+ without the release)
    assert after_rdds - base_rdds <= 6, (base_rdds, after_rdds)

    plain = run_chain(100)  # never compacts
    q = [0.01 * 5] * 64
    a = [(r["vec_id"], r["distance"]) for r in compacting.probe(q, 5, n_probe=2).collect()]
    b = [(r["vec_id"], r["distance"]) for r in plain.probe(q, 5, n_probe=2).collect()]
    assert a == b and 90005 in {i for i, _ in a}


def test_packed_graph_bit_identical_and_smaller(emb):
    """_Graph.pack: packed adjacency (offsets+flat int32) must search
    bit-identically (plain + filtered), survive pickling, auto-unpack for
    add_all, and cut the resident edge-list footprint."""
    import pickle
    import sys as _sys

    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph, _PackedAdj

    rows = emb.limit(400).collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    g = _Graph(8, 48, 48, "l2", 42)
    g.add_all(ids, mat)
    q = np.asarray(QUERY, dtype=np.float64)
    base = g.search(q, 10)
    basef = g.search(q, 10, allowed_ids=set(ids[::3]))

    p = pickle.loads(pickle.dumps(g))
    p.pack()
    assert isinstance(p.edges[0], _PackedAdj)
    assert p.search(q, 10) == base
    assert p.search(q, 10, allowed_ids=set(ids[::3])) == basef
    # packed graphs pickle/unpickle and stay packed
    p2 = pickle.loads(pickle.dumps(p))
    assert p2.search(q, 10) == base
    # native Python ids surface from packed searches
    assert all(isinstance(h, int) for h, _ in p2.search(q, 5))
    # add_all auto-unpacks and extends
    p.add_all([777777], np.zeros((1, 64)))
    assert 777777 in {h for h, _ in p.search(np.zeros(64), 3)}

    def resident(layer):
        if isinstance(layer, _PackedAdj):
            return layer.offs.nbytes + layer.flat.nbytes
        return sum(
            _sys.getsizeof(k) + _sys.getsizeof(v) + len(v) * 32
            for k, v in layer.items()
        )

    dict_sz = sum(resident(l) for l in g.edges)
    packed_sz = sum(resident(l) for l in p2.edges)
    assert packed_sz < dict_sz / 2, (dict_sz, packed_sz)


def test_routed_build_splits_oversized_shards(emb):
    """Straggler cap (2.2M scale-drill finding): with max_shard_rows set,
    any k-means cell bigger than the cap splits deterministically by id
    hash into sub-shards carrying the PARENT centroid — same vector mass
    under n_probe ranking (duplicates rank adjacent), but the build and
    probes of that cell parallelize. Each final shard respects ~cap rows
    and probe quality holds."""
    import pickle

    idx = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=2, m=8,
        ef_construction=48, ef_search=48, max_shard_rows=120,
    )
    blobs = idx.blobs.collect()
    # 500 rows / 2 cells → cells of ~250 must have split into ≥2 each
    assert len(blobs) > 2
    assert len(idx.centroids) == len(blobs)
    sizes = [len(pickle.loads(r["blob"]).ids) for r in blobs]
    # hash split is uniform-ish; nothing should exceed ~2× the cap
    assert max(sizes) <= 240, sizes
    assert sum(sizes) == emb.count()
    # probe still works and finds true neighbors among the sub-shards
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    from bustub_vectordb_spark.similarity.brute import knn

    exact = {r["vec_id"] for r in knn(emb, "embedding", q, 10).collect()}
    got = {r["vec_id"] for r in idx.probe(q, 10, n_probe=4).collect()}
    assert len(got & exact) / 10 >= 0.8
    # inserts still route (ties on duplicated centroids are deterministic)
    new = emb.sparkSession.createDataFrame(
        [(888888, [0.05] * 64)], "vec_id long, embedding array<double>"
    )
    grown = idx.insert(new)
    top = grown.probe([0.05] * 64, 1, n_probe=4).collect()
    assert top[0]["vec_id"] == 888888


def _bq_index(emb):
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8, ef_construction=48, ef_search=48
    )
    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    return routed, routed.quantize_bq(
        [r["mn"] for r in stats], [r["mx"] for r in stats]
    )


def test_sharded_bq_quantize_rerank_and_size(emb):
    """1-bit codes inside the shard blobs (ShardedHNSW.quantize_bq): the
    reranked probe returns EXACT distances, keeps a useful shortlist
    recall, and the blobs shrink well below the SQ8 footprint (vector
    payload is dim/8 bytes vs dim bytes)."""
    routed, bq = _bq_index(emb)
    exact = {r["vec_id"]: r["distance"] for r in knn(emb, "embedding", QUERY, 10).collect()}
    got = bq.probe(QUERY, 10, n_probe=2, rerank=emb).collect()
    assert len(got) == 10
    for r in got:
        if r["vec_id"] in exact:
            assert r["distance"] == pytest.approx(exact[r["vec_id"]], abs=1e-9)
    assert len({r["vec_id"] for r in got} & set(exact)) / 10 >= 0.4

    plain_bytes = sum(len(r["blob"]) for r in routed.blobs.collect())
    bq_bytes = sum(len(r["blob"]) for r in bq.blobs.collect())
    assert bq_bytes < plain_bytes * 0.45, (bq_bytes, plain_bytes)


def test_sharded_bq_insert_after_quantize(emb, spark):
    """Insert into a BQ index: new rows encode with the FROZEN thresholds
    and an inserted duplicate is findable via the reranked probe."""
    _, bq = _bq_index(emb)
    assert "bq_mins" in bq.params
    target = emb.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(77777, list(target["embedding"]))], "vec_id long, embedding array<double>"
    )
    ext = bq.insert(new)
    src = emb.select("vec_id", "embedding").unionByName(new)
    q = [float(x) for x in target["embedding"]]
    ids = {r["vec_id"] for r in ext.probe(q, 3, n_probe=2, rerank=src).collect()}
    assert 77777 in ids and target["vec_id"] in ids


def test_sharded_bq_save_load_roundtrip(spark, emb, tmp_path):
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW

    _, bq = _bq_index(emb)
    before = [
        (r["vec_id"], r["distance"])
        for r in bq.probe(QUERY, 5, n_probe=2, rerank=emb).collect()
    ]
    bq.save(str(tmp_path / "bqidx"))
    loaded = ShardedHNSW.load(spark, str(tmp_path / "bqidx"))
    assert "bq_mins" in loaded.params
    after = [
        (r["vec_id"], r["distance"])
        for r in loaded.probe(QUERY, 5, n_probe=2, rerank=emb).collect()
    ]
    assert after == before


def test_graph_bq_refuses_double_quantize():
    """BQ on an SQ8/PQ graph (or vice versa) must refuse — silently
    compounding two lossy quantizers is the failure the guards exist for."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    def fresh():
        g = _Graph(m=4, ef_construction=16, ef_search=16, dist="l2", seed=7)
        rng = np.random.RandomState(0)
        g.add_all(list(range(20)), rng.rand(20, 8))
        return g

    g = fresh()
    g.quantize_bq([0.0] * 8, [1.0] * 8)
    with pytest.raises(ValueError, match="BQ-quantized"):
        g.quantize_sq8([0.0] * 8, [1.0] * 8)
    with pytest.raises(ValueError, match="BQ-quantized"):
        g.quantize_pq([np.zeros((2, 4))] * 2, [(0, 4), (4, 8)])
    g2 = fresh()
    g2.quantize_sq8([0.0] * 8, [1.0] * 8)
    with pytest.raises(ValueError, match="already quantized"):
        g2.quantize_bq([0.0] * 8, [1.0] * 8)


def test_graph_bq_decode_is_half_range_centers():
    """Decoded rows take exactly two values per dim: (mn+thr)/2 and
    (thr+mx)/2 — and the bit assignment follows the strict midrange
    comparison."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    g = _Graph(m=4, ef_construction=16, ef_search=16, dist="l2", seed=7)
    mat = np.array([[0.1, 0.9], [0.9, 0.1], [0.4, 0.6]])
    g.add_all([1, 2, 3], mat)
    g.quantize_bq([0.0, 0.0], [1.0, 1.0])  # thr=.5, lo=.25, hi=.75
    dec = g._mat_rows(slice(None))
    assert dec.tolist() == [[0.25, 0.75], [0.75, 0.25], [0.25, 0.75]]


def test_graph_bq_refuses_bq_after_bq():
    """Second quantize_bq must refuse — vecs is gone, so it would silently
    replace the codes with an empty array (review finding)."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    g = _Graph(m=4, ef_construction=16, ef_search=16, dist="l2", seed=7)
    g.add_all(list(range(10)), np.random.RandomState(0).rand(10, 8))
    g.quantize_bq([0.0] * 8, [1.0] * 8)
    with pytest.raises(ValueError, match="already quantized"):
        g.quantize_bq([0.0] * 8, [1.0] * 8)


def test_graph_pq_guard_runs_before_mutation():
    """A refused quantize_pq leaves NO stale pq metadata behind."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    g = _Graph(m=4, ef_construction=16, ef_search=16, dist="l2", seed=7)
    g.add_all(list(range(10)), np.random.RandomState(0).rand(10, 8))
    g.quantize_bq([0.0] * 8, [1.0] * 8)
    with pytest.raises(ValueError, match="BQ-quantized"):
        g.quantize_pq([np.zeros((2, 4))] * 2, [(0, 4), (4, 8)])
    assert g.pq_books is None and g.pq_bounds is None


@pytest.mark.slow
def test_bq_local_thresholds_need_unimodal_shards(spark):
    """The 2.2M-drill lesson in miniature: 1-bit codes carry NO
    within-cluster signal when a shard holds several well-separated
    clusters (one threshold per dim can only encode mode identity), even
    with per-shard local thresholds. With shard count matching the
    cluster structure (unimodal shards), local-threshold BQ recovers.
    Serving guidance lives in similarity/bq.py's module docstring.

    The multi-modal demonstration pins rerank_mult=4 (shortlist 40 of a
    2000-row shard): at this depth harvest and coupled walks are
    bit-identical, and the code-signal collapse shows cleanly. At the
    r11 DEFAULT depth (16) the visited-set harvest actually rescues this
    miniature (shortlist 160 ≈ 8% of the shard reaches the true
    neighbors through the exact rerank — measured 0.8 here) — a real
    serving property of deep-shortlist harvesting on SMALL shards, but
    not one that survives real shard sizes (160 of 34k rows at the 2.2M
    drill), so the granularity law stays the scale guidance."""
    import numpy as np

    from bustub_vectordb_spark.similarity.brute import knn
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    rng = np.random.RandomState(7)
    CL = 8
    centers = rng.uniform(-10, 10, size=(CL, 16))
    rows = [
        (i, (centers[i % CL] + rng.normal(0, 0.05, 16)).tolist())
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    stats = dim_stats(df, "embedding").orderBy("dim").collect()
    mins, maxs = [r["mn"] for r in stats], [r["mx"] for r in stats]
    q = rows[3][1]
    exact = {r["vec_id"] for r in knn(df, "embedding", q, 10).collect()}

    def bq_recall(shards, rerank_mult=None):
        routed = HNSWIndex.build_routed(
            df, "embedding", "vec_id", shards=shards, m=8,
            ef_construction=48, ef_search=48,
        )
        bq = routed.quantize_bq(mins, maxs)
        got = {
            r["vec_id"]
            for r in bq.probe(
                q, 10, n_probe=2, rerank=df, rerank_mult=rerank_mult
            ).collect()
        }
        return len(got & exact) / 10

    assert bq_recall(CL) >= 0.8  # unimodal shards: codes discriminate
    # multi-modal shards: inherent 1-bit bound (shallow shortlist — see
    # the docstring for why the default depth no longer shows it here)
    assert bq_recall(2, rerank_mult=4) <= 0.5


@pytest.mark.slow
def test_bq_rotation_recovers_anisotropic_recall(spark):
    """What the seeded rotation actually fixes (measured, r8): BQ's 1 bit
    per dim mis-spends its budget on AXIS-ALIGNED ANISOTROPY — when the
    variance concentrates in a few dims (real embeddings' decaying PCA
    spectrum), the many low-variance dims each burn a bit on noise while
    the dominant dims get the same single bit. A seeded orthonormal
    rotation spreads the dominant directions across every code bit, so
    each bit thresholds a balanced mixture (numpy sweep: 0.46 -> 0.92 on
    8-dominant-of-64 dims, 0.45 -> 0.84 on a 1/d power-law spectrum).

    NOT a multi-modality fix: on isotropic cluster mixtures (the 2.2M
    drill's geometry) rotation measures recall-neutral — unimodal
    sharding (test above) remains that lever; the two compose."""
    import numpy as np

    from bustub_vectordb_spark.similarity.bq import BQModel, rotation_matrix
    from bustub_vectordb_spark.similarity.brute import knn

    rng = np.random.RandomState(3)
    n, dim = 2000, 64
    scale = np.where(np.arange(dim) < 8, 1.0, 0.05)  # 8 dominant dims
    centers = rng.standard_normal((8, dim)) * 4.0 * scale
    X = centers[np.arange(n) % 8] + rng.standard_normal((n, dim)) * scale
    rows = [(i, X[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = [
        (X[qi] + 0.25 * rng.standard_normal(dim) * scale).tolist()
        for qi in (42, 137, 555)
    ]
    exacts = [
        {r["vec_id"] for r in knn(df, "embedding", q, 10).collect()}
        for q in queries
    ]

    def bq_recall(rotation):
        model = BQModel.train(df, "embedding", rotation=rotation)
        total = 0.0
        for q, exact in zip(queries, exacts):
            got = {
                r["vec_id"]
                for r in model.rerank_topk(
                    df, "embedding", "vec_id", q, 10, shortlist=100
                ).collect()
            }
            total += len(got & exact) / 10
        return total / len(queries)

    plain = bq_recall(None)
    rotated = bq_recall(rotation_matrix(dim, 11))
    assert rotated >= 0.8, (plain, rotated)
    assert rotated >= plain + 0.3, (plain, rotated)


def test_routed_bq_rotation_roundtrip(spark, emb):
    """Rotated 1-bit shards stay a working index end to end: an exact
    corpus row is its own nearest hit through the rotated-code walk +
    exact rerank; inserts into the rotated index encode with the FROZEN
    seed (params carry bq_rot_seed) and are immediately findable."""
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    routed = HNSWIndex.build_routed(
        emb, "embedding", "vec_id", shards=4, m=8,
        ef_construction=48, ef_search=48,
    )
    bqr = routed.quantize_bq(
        [r["mn"] for r in stats], [r["mx"] for r in stats], rotation_seed=5
    )
    assert bqr.params["bq_rot_seed"] == 5
    row = emb.filter(F.col("vec_id") == 17).collect()[0]
    hits = bqr.probe(list(row["embedding"]), 5, n_probe=2, rerank=emb).collect()
    assert hits[0]["vec_id"] == 17 and hits[0]["distance"] == 0.0

    new = spark.createDataFrame(
        [(9001, [float(x) + 0.001 for x in row["embedding"]])],
        "vec_id bigint, embedding array<double>",
    )
    bqr2 = bqr.insert(new)
    src = emb.select("vec_id", "embedding").unionByName(new)
    got = {
        r["vec_id"]
        for r in bqr2.probe(list(row["embedding"]), 5, n_probe=2, rerank=src).collect()
    }
    assert {17, 9001} <= got


def test_entry_seed_policy_floors_unfiltered_caps_filtered():
    """Seed-set policy, stated and pinned (ADVICE r8 + r9 re-drill):
    UNFILTERED walks keep the full seed set — the beam is intentionally
    floored at |seeds| (trimming to ef cost the 1.2M merged tier 33pt of
    recall: 0.966 -> 0.638); FILTERED walks cap at FILTERED_SEED_CAP
    nearest seeds (per-seed frontier cost through the allowed-set check
    with no measured recall benefit). Pin: filtered search with many
    seeds equals filtered search pre-capped to the nearest
    FILTERED_SEED_CAP."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    rng = np.random.RandomState(5)
    mat = rng.standard_normal((400, 12))
    g = _Graph(6, 24, 8, "l2", 42)
    g.add_all(list(range(400)), mat)
    g.edges = [g.edges[0]]  # flatten to the single-layer vamana shape
    g.entry = 0
    g.entry_points = list(range(64))  # 64 seeds >> ef=8
    q = mat[123] + 0.01
    allowed = frozenset(range(0, 400, 2))
    full = g.search(q, 5, ef=8, allowed_ids=allowed)

    qq = float(q @ q)
    ranked = sorted(zip(g._walk_dists(q, list(range(64)), qq), range(64)))
    g.entry_points = [v for _, v in ranked[: g.FILTERED_SEED_CAP]]
    capped = g.search(q, 5, ef=8, allowed_ids=allowed)
    assert full == capped

    # unfiltered: the full seed set must NOT be silently trimmed — with
    # 64 seeds the result set includes hits a 4-seed walk misses on a
    # graph this sparse (floor behavior; exact sets differ run-free)
    g.entry_points = list(range(64))
    wide = g.search(q, 20, ef=8)
    assert len(wide) == 20


def test_bq_rotation_frozen_in_params(spark):
    """quantize_bq(rotation_seed=S) freezes the rotation FLOATS in
    params["bq_rot"] (the insert path consumes them instead of re-running
    LAPACK QR on workers), matching rotation_matrix(S) exactly."""
    import numpy as np

    from bustub_vectordb_spark.similarity.bq import rotation_matrix
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    rng = np.random.RandomState(3)
    rows = [(i, rng.uniform(-1, 1, 8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    routed = HNSWIndex.build_routed(
        df, "embedding", "vec_id", shards=2, m=4,
        ef_construction=16, ef_search=16,
    )
    stats = dim_stats(df, "embedding").orderBy("dim").collect()
    bq = routed.quantize_bq(
        [r["mn"] for r in stats], [r["mx"] for r in stats], rotation_seed=9
    )
    assert bq.params["bq_rot"] == rotation_matrix(8, 9)


def test_bq_rotation_seed_without_frozen_rotation_refused():
    """A params record with bq_rot_seed but no frozen bq_rot names the
    damage instead of re-deriving the rotation by QR on a worker (LAPACK
    output can differ by ULPs across BLAS builds)."""
    from bustub_vectordb_spark.index.hnsw import (
        DamagedIndexError,
        _Graph,
        _quantize_shard,
    )

    g = _Graph(m=4, ef_construction=16, ef_search=16, dist="l2", seed=7)
    record = {"bq_mins": [0.0] * 8, "bq_maxs": [1.0] * 8, "bq_rot_seed": 3}
    with pytest.raises(DamagedIndexError, match="bq_rot"):
        _quantize_shard(g, record)


def test_harvest_equals_coupled_when_shortlist_fits_beam():
    """The r11 bit-identity claim, pinned: when the shortlist fits the
    effective beam (k_walk <= ef), the harvested top-N of the visited set
    equals the coupled walk's returned prefix — because the final result
    heap IS the top-ef of the visited set (pops only improve the worst,
    so a vertex rejected at admission can never crack the returned
    prefix). This is why SQ8 4x and the ef-192 partitioned shells
    re-hashed unchanged when the harvest shipped.

    TIE CAVEAT (ADVICE r11, documented at the harvest sort in
    _Graph.search): the identity holds up to exact walk-distance ties at
    the result-heap boundary — admission is strict '<', so an
    equal-distance vertex with a lower index can be beam-rejected yet win
    the harvested (dist, vertex) sort. The gaussian corpus here is
    tie-free by construction; duplicate-heavy corpora (dedup inputs) can
    flip boundary digits between the two modes."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    rng = np.random.RandomState(11)
    mat = rng.standard_normal((600, 16))
    g = _Graph(8, 32, 48, "l2", 42)
    g.add_all(list(range(600)), mat)
    for qi in range(5):
        q = rng.standard_normal(16)
        for k_walk in (12, 24, 48):  # all <= ef 48
            coupled = [h for h, _ in g.search(q, k_walk, ef=48)]
            harvested = [
                h for h, _ in g.search(q, 4, ef=48, shortlist=k_walk)
            ]
            assert coupled == harvested, (qi, k_walk)

    # SEED-FLOOR extension (r12): on a multi-entry graph the result heap
    # is FLOORED at |entry_points| (every seed is pushed untrimmed, and
    # each later admission push-then-pops, so the heap never shrinks) —
    # the effective beam is max(ef, |seeds|), and the identity holds for
    # every shortlist up to the SEED COUNT, not just up to ef. This is
    # why the 1.2M merged-PQR rerank-16 point (shortlist 160 < 256
    # seeds) is the SAME WALK in coupled, r11-harvest, and r12-aligned
    # modes — the r11-reported 0.832-vs-0.864 'divergence' there was
    # cross-BUILD noise (regenerated corpus parquet -> different sample
    # -> different centroids), not a serving-mode loss; the r12 drill's
    # uniform +0.8pt ladder shift on a fresh build confirms the noise
    # scale (drills/drill_1200k_r12_aligned.json).
    g.entry_points = list(range(0, 600, 5))  # 120 seeds, ef stays 48
    for qi in range(5):
        q = rng.standard_normal(16)
        for k_walk in (64, 96, 120):  # ef < shortlist <= |seeds|
            coupled = [h for h, _ in g.search(q, k_walk, ef=48)]
            harvested = [
                h for h, _ in g.search(q, 4, ef=48, shortlist=k_walk)
            ]
            assert coupled == harvested, (qi, k_walk)
    g.entry_points = None


def test_serve_ef_stamp_drives_rerank_walks(spark):
    """params['rerank_harvest_ef'] (the past-clamp escalation stamp) must
    actually steer the serving walks: results with the stamp equal an
    explicit ef of the same value, and an explicit probe-time ef
    overrides the stamp."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import ShardedHNSW
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    rng = np.random.RandomState(5)
    CL = 6
    centers = rng.uniform(-8, 8, size=(CL, 12))
    rows = [
        (i, (centers[i % CL] + rng.normal(0, 0.4, 12)).tolist())
        for i in range(1200)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    routed = HNSWIndex.build_routed(
        df, "embedding", "vec_id", shards=3, m=4,
        ef_construction=16, ef_search=16,
    )
    stats = dim_stats(df, "embedding").orderBy("dim").collect()
    bq = routed.quantize_bq([r["mn"] for r in stats], [r["mx"] for r in stats])
    q = rows[7][1]

    def hits(idx, **kw):
        return [
            (r["vec_id"], r["distance"])
            for r in idx.probe(q, 5, n_probe=2, rerank=df, **kw).collect()
        ]

    base16 = hits(bq)  # graph-frozen ef 16
    explicit96 = hits(bq, ef=96)
    stamped = ShardedHNSW(
        bq.vec_col, bq.id_col, bq.dist, bq.blobs, bq._spark,
        centroids=bq.centroids, id_type=bq.id_type,
        params=dict(bq.params or {}, rerank_harvest_ef=96),
    )
    assert hits(stamped) == explicit96
    assert hits(stamped, ef=16) == base16  # probe-time ef wins
    # batch path resolves the same stamp
    qdf = spark.createDataFrame([(1, q)], "qid long, embedding array<double>")
    b_stamped = sorted(
        (r["vec_id"], r["distance"])
        for r in stamped.search_batch(
            qdf, "embedding", "qid", 5, n_probe=2, rerank=df
        ).collect()
    )
    b_explicit = sorted(
        (r["vec_id"], r["distance"])
        for r in bq.search_batch(
            qdf, "embedding", "qid", 5, n_probe=2, rerank=df, ef=96
        ).collect()
    )
    assert b_stamped == b_explicit


def test_stamped_harvest_ef_offline_replay_parity(emb, sf_dir):
    """ADVICE r11 (medium): a stamped index (params['rerank_harvest_ef'])
    serves deepened walks via _serve_ef — the offline replay wrappers must
    accept the same ef and reproduce the stamped serving BIT-EXACTLY, or
    the replay contract silently breaks the first time a gated oracle
    builds a stamped index. Probe and batch, 1-bit tier (the stamp's
    natural habitat — the past-clamp escalation is BQ/PQ-only)."""
    import numpy as np
    import pyarrow.parquet as pq

    from bustub_vectordb_spark.index.hnsw import (
        offline_quantize,
        offline_routed,
        offline_routed_search,
    )
    from bustub_vectordb_spark.similarity.quantize import dim_stats

    build = dict(shards=2, m=8, ef_construction=48, ef_search=8)
    routed = HNSWIndex.build_routed(emb, "embedding", "vec_id", **build)
    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    mins = [r["mn"] for r in stats]
    maxs = [r["mx"] for r in stats]
    bq = routed.quantize_bq(mins, maxs)
    # the DDL escalation stamp: serve ef-64 walks + a 6x shortlist
    bq.params["rerank_harvest_ef"] = 64
    bq.params["rerank_mult_default"] = 6
    assert bq._serve_ef(None) == 64

    cents, graphs = offline_routed(
        f"{sf_dir}/embeddings.parquet", "embedding", "vec_id", **build
    )
    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    by_id = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))

    got = [
        (r["vec_id"], r["distance"])
        for r in bq.probe(QUERY, 5, n_probe=2, rerank=emb).collect()
    ]
    offline_quantize(graphs, "bq", mins, maxs)
    exp = [
        (int(i), float(d))
        for _qid, i, d in offline_routed_search(
            cents, graphs, [(None, QUERY)], 5, 2, rerank=(by_id, 6, 64)
        )
    ]
    assert got == exp

    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    bgot = sorted(
        (r["qid"], r["vec_id"], r["distance"])
        for r in bq.search_batch(
            queries, "embedding", "qid", 5, n_probe=2, rerank=emb
        ).collect()
    )
    qs = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    bexp = sorted(
        (int(qid), int(hid), float(d))
        for qid, hid, d in offline_routed_search(
            cents, graphs, qs, 5, 2, rerank=(by_id, 6, 64)
        )
    )
    assert bgot == bexp


def test_harvest_aligned_guards_starving_geometry():
    """VERDICT r11 #1 — the GENERAL starvation guard, unit-pinned at the
    failure geometry the 6M drill measured (0.762 -> 0.666: a default-ef
    walk's visited set cannot feed a shortlist much deeper than the beam
    on small shards). With HARVEST_ALIGNED (r12) the layer-0 walk
    terminates against the shortlist-th best SEEN, so exploration deepens
    until the shortlist itself stabilizes — no (ef, rerank_mult, shard
    size) combination can silently truncate it again. A/B via the class
    flag: exact-rerank recall through the aligned harvest must beat the
    r11 unaligned harvest by a clear margin and sit near-exact."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    rng = np.random.RandomState(7)
    CL, n, dim = 64, 6000, 16
    centers = rng.uniform(-10, 10, size=(CL, dim))
    mat = np.vstack(
        [centers[i % CL] + 0.3 * rng.standard_normal(dim) for i in range(n)]
    )
    g = _Graph(8, 32, 8, "l2", 42)  # ef_search 8 — the starving config
    g.add_all(list(range(n)), mat)
    k, mult = 10, 32  # shortlist 320 >> ef 8

    def run(aligned: bool) -> float:
        old = _Graph.HARVEST_ALIGNED
        _Graph.HARVEST_ALIGNED = aligned
        try:
            hits = 0
            for qi in range(20):
                q = centers[qi % CL] + 0.3 * rng.standard_normal(dim)
                d = ((mat - q) ** 2).sum(axis=1)
                truth = set(np.argsort(d)[:k].tolist())
                short = [h for h, _ in g.search(q, k, shortlist=k * mult)]
                dd = ((mat[short] - q) ** 2).sum(axis=1)
                top = {short[i] for i in np.argsort(dd)[:k]}
                hits += len(top & truth)
            return hits / (20 * k)
        finally:
            _Graph.HARVEST_ALIGNED = old

    aligned, unaligned = run(True), run(False)
    assert aligned >= unaligned + 0.05, (aligned, unaligned)
    assert aligned >= 0.95, aligned


def test_walk_table_bq_and_lazy_gate_parity():
    """r13: (a) BQ graphs get a byte-LUT walk table (they used to refuse
    one and pay per-frontier bit-unpack expansion); (b) quantized graphs
    ABOVE the size gate evaluate frontier rows only, with values
    bit-identical to the full table's (same per-query LUTs, same
    accumulation order), so a graph's walk distances cannot depend on
    which side of WALK_TABLE_MAX_ELEMS it falls; (c) search results are
    unchanged vs the batched _walk_dists fallback."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    def is_table(ev):  # a full table's walk evaluator is its lookup
        return isinstance(getattr(ev, "__self__", None), np.ndarray)

    rng = np.random.RandomState(11)
    n, dim = 400, 32
    mat = rng.standard_normal((n, dim)) * 3.0
    qs = rng.standard_normal((12, dim))

    def fresh(quant):
        g = _Graph(8, 32, 32, "l2", 42)
        if quant == "bq":
            g.quantize_bq(mat.min(axis=0).tolist(), mat.max(axis=0).tolist())
        elif quant == "sq8":
            g.quantize_sq8(mat.min(axis=0).tolist(), mat.max(axis=0).tolist())
        elif quant == "pq":
            m_books, dsub = 8, dim // 8
            g.quantize_pq(
                [mat[:32, i * dsub : (i + 1) * dsub].copy() for i in range(m_books)],
                [(i * dsub, (i + 1) * dsub) for i in range(m_books)],
            )
        g.add_all(list(range(n)), mat.copy())
        return g

    old_gate = _Graph.WALK_TABLE_MAX_ELEMS
    try:
        for quant in ("bq", "pq", "sq8"):
            g = fresh(quant)
            q = qs[0]
            full = g._walk_eval(q)
            assert is_table(full), quant  # below gate: full table
            _Graph.WALK_TABLE_MAX_ELEMS = 0
            lazy = g._walk_eval(q)
            assert not is_table(lazy), quant  # above gate: no full table
            # bit-identical values on both sides of the gate
            assert np.array_equal(full(list(range(n))), lazy(list(range(n)))), quant
            res_lazy = [g.search(qv, 5) for qv in qs]
            _Graph.WALK_TABLE_MAX_ELEMS = old_gate
            res_full = [g.search(qv, 5) for qv in qs]
            assert res_full == res_lazy, quant
    finally:
        _Graph.WALK_TABLE_MAX_ELEMS = old_gate


def test_filtered_walk_with_every_id_allowed_matches_unfiltered():
    """Filtered and unfiltered search share one _search_layer: allowing
    every id must return exactly the unfiltered (id, distance) list on
    every storage form, with and without a harvested shortlist (here
    deeper than the beam, so the stop_n clauses fire), and an empty
    allowed set must return nothing."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph

    rng = np.random.RandomState(5)
    n, dim = 300, 16
    mat = rng.standard_normal((n, dim)) * 2.0
    qs = rng.standard_normal((8, dim))
    everyone = frozenset(range(n))
    mins, maxs = mat.min(axis=0).tolist(), mat.max(axis=0).tolist()
    for quant in ("float", "sq8", "pq", "bq"):
        g = _Graph(8, 32, 16, "l2", 42)
        if quant == "sq8":
            g.quantize_sq8(mins, maxs)
        elif quant == "bq":
            g.quantize_bq(mins, maxs)
        elif quant == "pq":
            g.quantize_pq(
                [mat[:16, i * 4 : (i + 1) * 4].copy() for i in range(4)],
                [(i * 4, (i + 1) * 4) for i in range(4)],
            )
        g.add_all(list(range(n)), mat.copy())
        for q in qs:
            plain = g.search(q, 10)
            assert len(plain) == 10, quant
            assert g.search(q, 10, allowed_ids=everyone) == plain, quant
            assert g.search(q, 10, allowed_ids=everyone, shortlist=40) == g.search(
                q, 10, shortlist=40
            ), quant
            assert g.search(q, 10, allowed_ids=frozenset()) == [], quant
