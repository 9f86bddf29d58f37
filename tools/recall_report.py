"""ANN serving-tier report: recall@10 vs exact KNN and vector-storage cost
for every index family, over the same queries. Quantifies the
quality/memory tradeoff the engine offers at each compression tier.

Usage: python tools/recall_report.py [sf_dir] — prints one table.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
K = 10
N_QUERIES = 20


def main():
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.appName("recall-report").master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from bustub_vectordb_spark.catalog import read_table
    from bustub_vectordb_spark.index.hnsw import HNSWIndex
    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.similarity.ivfcodes import IVFCodesIndex, PQCodes, SQ8Codes
    from bustub_vectordb_spark.similarity.pq import PQModel, pq_rerank_topk
    from bustub_vectordb_spark.similarity.quantize import SQ8Model, dim_stats

    emb = read_table(spark, SF_DIR, "embeddings").cache()
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    rows = emb.collect()
    ids = np.asarray([r["vec_id"] for r in rows])
    mat = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    qidx = np.arange(0, n, max(1, n // N_QUERIES))[:N_QUERIES]

    def exact_topk(q):
        d = np.linalg.norm(mat - q, axis=1)
        return set(ids[np.argsort(d, kind="stable")[:K]])

    truth = {int(ids[i]): exact_topk(mat[i]) for i in qidx}

    ivf = IVFFlatIndex.build(emb, "embedding", lists=8, probe_lists=4,
                             max_iter=5, init_order="vec_id")
    sq8 = IVFCodesIndex.build(ivf, "embedding", "vec_id",
                              SQ8Codes(SQ8Model.train(emb, "embedding")))
    # residual=False explicit: this row is the global-codebook contrast
    # (residual became the build default in r9)
    ivfpq = IVFCodesIndex.build(ivf, "embedding", "vec_id",
                                PQCodes(m=16, k=32, residual=False))
    ivfpq_res = IVFCodesIndex.build(ivf, "embedding", "vec_id",
                                    PQCodes(m=16, k=32, residual=True))
    pqm = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
    pq_codes = pqm.encode(emb, "embedding", "vec_id").cache()
    hnsw = HNSWIndex.build(emb, "embedding", "vec_id", m=8,
                           ef_construction=64, ef_search=64)
    routed = HNSWIndex.build_routed(emb, "embedding", "vec_id", shards=4,
                                    m=8, ef_construction=48, ef_search=48)
    stats = dim_stats(emb, "embedding").orderBy("dim").collect()
    routed_sq8 = routed.quantize([r["mn"] for r in stats], [r["mx"] for r in stats])
    routed_pq = routed.quantize_pq(pqm)
    routed_pql = routed.quantize_pq_local(m=16, k=32)
    from bustub_vectordb_spark.index.hnsw import routed_residual_df

    routed_pqr = routed.quantize_pq(
        PQModel.train(
            routed_residual_df(emb, "embedding", "vec_id", routed.centroids),
            "__res", "vec_id", m=16, k=32,
        ),
        residual=True,
    )
    routed_bq = routed.quantize_bq([r["mn"] for r in stats], [r["mx"] for r in stats])
    from bustub_vectordb_spark.similarity.bq import BQModel

    bq = BQModel.train(emb, "embedding")
    from bustub_vectordb_spark.similarity.bq import rotation_matrix

    bqr = BQModel.train(emb, "embedding", rotation=rotation_matrix(dim, 2026))
    from bustub_vectordb_spark.index.vamana import VamanaIndex

    vamana = VamanaIndex.build(emb, "embedding", "vec_id", shards=4,
                               overlap_eps=0.2, r=16)
    vamana_pq = vamana.quantize_pq(pqm)
    vamana_pqr = vamana.quantize_pq(
        PQModel.train(vamana.residual_source(), "__res", "vec_id", m=16, k=32),
        residual=True,
    )
    vamana_part = vamana.to_partitioned(cells=4, n_probe=3)
    vamana_part_pq = vamana_pq.to_partitioned(cells=4, n_probe=3)
    vamana_part_pqr = vamana_pqr.to_partitioned(cells=4, n_probe=3)

    tiers = [
        ("exact scan", f"{dim * 8} B/vec",
         lambda q: truth[q_id]),
        ("ivfflat 4/8 buckets", f"{dim * 8} B/vec",
         lambda q: {r["vec_id"] for r in ivf.probe(list(q), K).collect()}),
        ("ivf+sq8 rerank", f"{dim} B/vec codes",
         lambda q: {r["vec_id"] for r in sq8.probe(list(q), K, rerank=4 * K, probe_lists=4).collect()}),
        ("ivf+pq rerank", "16 B/vec codes",
         lambda q: {r["vec_id"] for r in ivfpq.probe(list(q), K, rerank=4 * K, probe_lists=4).collect()}),
        ("ivf+pq RESIDUAL rerank", "16 B/vec codes",
         lambda q: {r["vec_id"] for r in ivfpq_res.probe(list(q), K, rerank=4 * K, probe_lists=4).collect()}),
        ("flat pq rerank", "16 B/vec codes",
         lambda q: {r["vec_id"] for r in pq_rerank_topk(pqm, pq_codes, emb, "embedding", "vec_id", list(q), K).collect()}),
        ("flat bq hamming+rerank", f"{(dim + 7) // 8} B/vec codes",
         lambda q: {r["vec_id"] for r in bq.rerank_topk(emb, "embedding", "vec_id", list(q), K, shortlist=4 * K).collect()}),
        ("flat bq ROTATED hamming+rerank", f"{(dim + 7) // 8} B/vec codes",
         lambda q: {r["vec_id"] for r in bqr.rerank_topk(emb, "embedding", "vec_id", list(q), K, shortlist=4 * K).collect()}),
        ("hnsw driver", f"{dim * 8} B/vec",
         lambda q: {r["vec_id"] for r in hnsw.probe(list(q), K).collect()}),
        ("hnsw routed 2/4", f"{dim * 8} B/vec",
         lambda q: {r["vec_id"] for r in routed.probe(list(q), K, n_probe=2).collect()}),
        ("hnsw routed sq8+rerank", f"{dim} B/vec in-graph",
         lambda q: {r["vec_id"] for r in routed_sq8.probe(list(q), K, n_probe=2, rerank=emb).collect()}),
        ("hnsw routed pq+rerank", "16 B/vec in-graph",
         lambda q: {r["vec_id"] for r in routed_pq.probe(list(q), K, n_probe=2, rerank=emb).collect()}),
        ("hnsw routed pq LOCAL books+rerank", "16 B/vec in-graph",
         lambda q: {r["vec_id"] for r in routed_pql.probe(list(q), K, n_probe=2, rerank=emb).collect()}),
        ("hnsw routed pq RESIDUAL+rerank", "16 B/vec in-graph",
         lambda q: {r["vec_id"] for r in routed_pqr.probe(list(q), K, n_probe=2, rerank=emb).collect()}),
        ("hnsw routed bq+rerank", f"{(dim + 7) // 8} B/vec in-graph",
         lambda q: {r["vec_id"] for r in routed_bq.probe(list(q), K, n_probe=2, rerank=emb).collect()}),
        ("vamana merged graph", f"{dim * 8} B/vec",
         lambda q: {r["vec_id"] for r in vamana.probe(list(q), K).collect()}),
        ("vamana pq+rerank", "16 B/vec in-graph",
         lambda q: {r["vec_id"] for r in vamana_pq.probe(list(q), K).collect()}),
        ("vamana pq RESIDUAL+rerank", "16 B/vec in-graph",
         lambda q: {r["vec_id"] for r in vamana_pqr.probe(list(q), K).collect()}),
        ("vamana partitioned 3/4", f"{dim * 8} B/vec",
         lambda q: {r["vec_id"] for r in vamana_part.probe(list(q), K).collect()}),
        ("vamana part pq+rerank", "16 B/vec in-cell",
         lambda q: {r["vec_id"] for r in vamana_part_pq.probe(list(q), K, rerank=emb).collect()}),
        ("vamana part pq RESIDUAL+rerank", "16 B/vec in-cell",
         lambda q: {r["vec_id"] for r in vamana_part_pqr.probe(list(q), K, rerank=emb).collect()}),
    ]
    print(f"# recall@{K} over {len(qidx)} queries, {n} vectors x {dim} dims ({SF_DIR})")
    print(f"{'tier':<26} {'vector storage':<18} recall@10")
    for name, storage, probe in tiers:
        hits = 0
        for i in qidx:
            q_id = int(ids[i])
            got = probe(mat[i])
            hits += len(got & truth[q_id])
        print(f"{name:<26} {storage:<18} {hits / (len(qidx) * K):.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
