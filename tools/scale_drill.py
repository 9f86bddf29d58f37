"""10×-plus scale drill for the ANN serving tiers (VERDICT r6 #3).

Generates a clustered synthetic corpus ~1000× the sf0.1 embeddings table
(default 2.2M rows × dim 64 — deliberately past HNSWIndex's
DRIVER_BUILD_MAX_ROWS=2M so the sharded build is the REAL, un-lowered
path), then builds and probes the two scale serving tiers end to end:

  routed HNSW      build_routed + search_batch (n_probe shard pruning)
  merged vamana    distributed merge build → to_partitioned(cells) batch
                   serving (+ filtered probe through the allowed-set path)

and reports recall@10 against exact ground truth plus build/probe
wall-clock. Ground truth is computed DISTRIBUTED (per-partition numpy
top-k + global window merge) — nothing corpus-sized reaches the driver,
including in the drill harness itself.

Single-box honesty note: the merged-vamana prune attaches endpoint
vectors to ~N·2m proposal edges through a join shuffle, so ONE box's
shuffle disk bounds the drill at high dims (2.2M × dim-64 ≈ 25 GB through
the exchange; dim-768 would be ~300 GB — fine for a 1000-executor
cluster's aggregate disk, not for this container). The width-dependent
serve caps (VamanaIndex.serve_cap) are asserted un-lowered.

Usage: python tools/scale_drill.py [--rows 2200000] [--dim 64]
       [--out /tmp/scale_drill]
Prints one JSON line with recalls + wall-times (NOTES records them).

Run the two tiers in SEPARATE processes (--skip-vamana, then --skip-gen
--skip-hnsw): Spark retains a session's shuffle files while the RDDs that
reference them stay live, so the routed-HNSW build's cached blobs +
shuffle output (tens of GB at this scale) sit on disk underneath the
vamana build's own ~25 GB+ proposal exchange — one combined run filled
the container's disk mid-spill where each tier alone fits comfortably.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

K = 10
N_QUERIES = 50
CLUSTERS = 256  # generator mixture components — real corpora are clumpy
SEED = 7


def gen_corpus(spark, n_rows: int, dim: int, path: str) -> None:
    """Deterministic clustered corpus, generated distributed: row i draws
    from mixture component (i % CLUSTERS) with component-seeded noise —
    every partition regenerates identical bytes from ids alone."""
    from pyspark.sql import functions as F

    rng = np.random.RandomState(SEED)
    centers = rng.standard_normal((CLUSTERS, dim)) * 4.0

    def make(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            comp = (ids % CLUSTERS).astype(np.int64)
            out = np.empty((len(ids), dim), dtype=np.float64)
            for j, (i, c) in enumerate(zip(ids, comp)):
                r = np.random.RandomState((SEED * 1_000_003 + int(i)) % (2**31))
                out[j] = centers[c] + r.standard_normal(dim)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [row.tolist() for row in out]}
            )

    (
        spark.range(n_rows).repartition(64)
        .mapInPandas(make, "vec_id long, embedding array<double>")
        .write.mode("overwrite").parquet(path)
    )


def exact_topk(emb, queries: np.ndarray, qids: list[int], allowed_mod=None):
    """Distributed exact KNN ground truth: per-partition numpy top-k per
    query (one matmul per Arrow batch), then a global top-k window —
    the driver never sees more than partitions × N_QUERIES × K rows."""
    from pyspark.sql import Window, functions as F

    qmat = queries  # (Q, dim) — broadcast by closure capture (tiny)
    qid_arr = list(qids)

    def part_topk(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            if allowed_mod is not None:
                keep = ids % allowed_mod == 0
                if not keep.any():
                    continue
                pdf = pdf[keep]
                ids = ids[keep]
            mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            # squared-l2 via the expansion — one BLAS matmul per batch
            d2 = (
                (mat * mat).sum(axis=1)[:, None]
                - 2.0 * mat @ qmat.T
                + (qmat * qmat).sum(axis=1)[None, :]
            )
            k = min(K, len(ids))
            rows = {"qid": [], "vec_id": [], "d2": []}
            for qi in range(qmat.shape[0]):
                top = np.argpartition(d2[:, qi], k - 1)[:k]
                rows["qid"].extend([qid_arr[qi]] * k)
                rows["vec_id"].extend(ids[top].tolist())
                rows["d2"].extend(d2[top, qi].tolist())
            yield pd.DataFrame(rows)

    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    out = (
        emb.mapInPandas(part_topk, "qid long, vec_id long, d2 double")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= K)
        .select("qid", "vec_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in out:
        truth.setdefault(r["qid"], set()).add(r["vec_id"])
    return truth


def recall(truth: dict, hits) -> float:
    got: dict[int, set] = {}
    for r in hits:
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    per = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
    return float(sum(per) / len(per))


def _log(msg: str) -> None:
    print(f"[drill] {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_200_000)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--cells", type=int, default=64)
    ap.add_argument("--n-probe", dest="n_probe", type=int, default=4)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--out", default="/tmp/scale_drill")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--skip-vamana", action="store_true")
    ap.add_argument("--skip-hnsw", action="store_true")
    # opt-in: the compressed IVF tiers (IVF-SQ8 / IVF-PQ) at scale —
    # VERDICT r7 #7; run in its own process like the other tiers
    ap.add_argument("--ivf", action="store_true")
    ap.add_argument("--ivf-lists", type=int, default=256)
    # opt-in: in-graph PQ over the routed shards (global vs residual) —
    # the r9 IVFADC-threading validation; composes with the hnsw section
    ap.add_argument("--pq-graph", dest="pq_graph", action="store_true")
    # which in-graph PQ tiers the --pq-graph section runs (comma list of
    # global,residual,local) — re-drills of one tier skip the others'
    # expensive training passes
    ap.add_argument("--pq-tiers", dest="pq_tiers", default="global,residual,local")
    # opt-in: serve the partitioned-vamana tier at several n_probe values
    # (comma list) so the DDL default can be chosen from the
    # recall/latency surface (VERDICT r8 #6)
    ap.add_argument("--vamana-nprobe-sweep", dest="vamana_nprobe_sweep", default="")
    # opt-in: residual PQ (entry-cell centers) on the merged/partitioned
    # vamana tiers — the r9 graph-blob threading validation
    ap.add_argument("--vamana-pq", dest="vamana_pq", action="store_true")
    args = ap.parse_args()

    from bustub_vectordb_spark.session import get_spark

    spark = get_spark("scale-drill")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from bustub_vectordb_spark.index.hnsw import HNSWIndex
    from bustub_vectordb_spark.index.vamana import VamanaIndex

    path = f"{args.out}/embeddings.parquet"
    times: dict[str, float] = {}
    if not args.skip_gen or not os.path.exists(path):
        t0 = time.time()
        gen_corpus(spark, args.rows, args.dim, path)
        times["gen"] = round(time.time() - t0, 1)
    emb = spark.read.parquet(path)
    n = emb.count()

    # REAL caps, asserted un-lowered — the whole point of the drill
    # (smoke runs below the default size skip the exceed-the-cap claim)
    assert HNSWIndex.DRIVER_BUILD_MAX_ROWS == 2_000_000
    report_cap_exceeded = n > HNSWIndex.DRIVER_BUILD_MAX_ROWS

    # queries: perturbed corpus rows (deterministic stride), ids disjoint
    qrows = (
        emb.filter(F.col("vec_id") % (n // N_QUERIES) == 0)
        .orderBy("vec_id").limit(N_QUERIES).collect()
    )
    rq = np.random.RandomState(SEED + 1)
    qmat = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    qmat = qmat + 0.25 * rq.standard_normal(qmat.shape)
    qids = [int(r["vec_id"]) for r in qrows]
    qdf = spark.createDataFrame(
        [(q, v.tolist()) for q, v in zip(qids, qmat)],
        "qid long, embedding array<double>",
    )

    _log(f"corpus ready: {n} rows")
    t0 = time.time()
    truth = exact_topk(emb, qmat, qids)
    times["ground_truth"] = round(time.time() - t0, 1)
    _log(f"ground truth done {times['ground_truth']}s")

    report: dict[str, object] = {
        "rows": n, "dim": args.dim,
        "exceeds_driver_build_cap": report_cap_exceeded, "shards": args.shards, "cells": args.cells, "n_probe": args.n_probe,
    }

    # ---- routed HNSW (the ingestible tier) at its real build path ----
    if not args.skip_hnsw:
        t0 = time.time()
        routed = HNSWIndex.build_routed(
            emb, "embedding", "vec_id", shards=args.shards, m=8,
            ef_construction=48, ef_search=48, replicate_eps=0.2,
            # the round-7 straggler/replication caps — the first drill run
            # WITHOUT them measured 5.35× replication and a 913k-row shard
            # grinding one core for ~90 min
            max_shard_rows=60_000,
        )
        times["hnsw_routed_build"] = round(time.time() - t0, 1)
        _log(f"hnsw routed build done {times['hnsw_routed_build']}s")
        t0 = time.time()
        hits = routed.search_batch(
            qdf, "embedding", "qid", K, n_probe=args.n_probe
        ).collect()
        times["hnsw_routed_batch"] = round(time.time() - t0, 1)
        _log(f"hnsw routed batch done {times['hnsw_routed_batch']}s")
        report["recall_hnsw_routed"] = round(recall(truth, hits), 4)

        # ---- 1-bit BQ codes in the same shards (round-7 tier): quantize
        # pass over the blobs, ADC walks + exact rerank batch serving ----
        from bustub_vectordb_spark.similarity.quantize import dim_stats

        t0 = time.time()
        stats = dim_stats(emb, "embedding").orderBy("dim").collect()
        bq = routed.quantize_bq(
            [r["mn"] for r in stats], [r["mx"] for r in stats]
        )
        times["hnsw_routed_bq_quantize"] = round(time.time() - t0, 1)
        _log(f"bq quantize done {times['hnsw_routed_bq_quantize']}s")
        t0 = time.time()
        # rerank_mult=4 EXPLICIT: bq-quantized indexes now default to 16,
        # so the shallow baseline must pin the old depth to stay a contrast
        hits = bq.search_batch(
            qdf, "embedding", "qid", K, n_probe=args.n_probe, rerank=emb, rerank_mult=4
        ).collect()
        times["hnsw_routed_bq_batch"] = round(time.time() - t0, 1)
        _log(f"bq batch done {times['hnsw_routed_bq_batch']}s")
        report["recall_hnsw_routed_bq"] = round(recall(truth, hits), 4)
        # deeper shortlist: 1-bit walks rank coarsely, so the exact rerank
        # depth is BQ's main recall knob (the rerank join stays
        # broadcast-sized: n_probe x k x mult rows per query)
        t0 = time.time()
        hits = bq.search_batch(
            qdf, "embedding", "qid", K, n_probe=args.n_probe, rerank=emb, rerank_mult=16
        ).collect()
        times["hnsw_routed_bq_batch_deep"] = round(time.time() - t0, 1)
        _log(f"bq deep batch done {times['hnsw_routed_bq_batch_deep']}s")
        report["recall_hnsw_routed_bq_deep16"] = round(recall(truth, hits), 4)

        # rotated BQ (r8): the seeded-rotation tier at the same shard
        # granularity — records whether rotation moves recall on THIS
        # (isotropic-mixture) geometry; the measured mechanism says it
        # should be ~neutral here and win on anisotropic spectra
        t0 = time.time()
        bqr = routed.quantize_bq(
            [r["mn"] for r in stats], [r["mx"] for r in stats],
            rotation_seed=2026,
        )
        times["hnsw_routed_bqr_quantize"] = round(time.time() - t0, 1)
        t0 = time.time()
        hits = bqr.search_batch(
            qdf, "embedding", "qid", K, n_probe=args.n_probe, rerank=emb, rerank_mult=16
        ).collect()
        times["hnsw_routed_bqr_batch_deep"] = round(time.time() - t0, 1)
        _log(f"bq rotated deep batch done {times['hnsw_routed_bqr_batch_deep']}s")
        report["recall_hnsw_routed_bqr_deep16"] = round(recall(truth, hits), 4)

        if args.pq_graph:
            # ---- in-graph PQ over the same shards: global codebooks vs
            # residual (x − routing centroid) — the r9 IVFADC threading.
            # Same serving recipe as BQ: ADC walks + exact deep rerank.
            from bustub_vectordb_spark.index.hnsw import routed_residual_df
            from bustub_vectordb_spark.similarity.pq import PQModel

            tiers = set(args.pq_tiers.split(","))
            if "global" in tiers:
                t0 = time.time()
                gmodel = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
                gpq = routed.quantize_pq(gmodel)
                times["hnsw_routed_pq_quantize"] = round(time.time() - t0, 1)
                _log(f"pq global quantize done {times['hnsw_routed_pq_quantize']}s")
                t0 = time.time()
                hits = gpq.search_batch(
                    qdf, "embedding", "qid", K, n_probe=args.n_probe,
                    rerank=emb, rerank_mult=16,
                ).collect()
                times["hnsw_routed_pq_batch_deep"] = round(time.time() - t0, 1)
                report["recall_hnsw_routed_pq_deep16"] = round(
                    recall(truth, hits), 4
                )
                _log(f"pq global deep batch done recall="
                     f"{report['recall_hnsw_routed_pq_deep16']}")

            if "residual" in tiers:
                t0 = time.time()
                rmodel = PQModel.train(
                    routed_residual_df(
                        emb, "embedding", "vec_id", routed.centroids
                    ),
                    "__res", "vec_id", m=16, k=32,
                )
                rpq = routed.quantize_pq(rmodel, residual=True)
                times["hnsw_routed_pqr_quantize"] = round(time.time() - t0, 1)
                _log(f"pq residual quantize done "
                     f"{times['hnsw_routed_pqr_quantize']}s")
                t0 = time.time()
                hits = rpq.search_batch(
                    qdf, "embedding", "qid", K, n_probe=args.n_probe,
                    rerank=emb, rerank_mult=16,
                ).collect()
                times["hnsw_routed_pqr_batch_deep"] = round(time.time() - t0, 1)
                report["recall_hnsw_routed_pqr_deep16"] = round(
                    recall(truth, hits), 4
                )
                _log(f"pq residual deep batch done recall="
                     f"{report['recall_hnsw_routed_pqr_deep16']}")

            if "local" in tiers:
                # per-shard LOCAL books (quantize_pq_local) — the
                # multi-modal-shard fix; no global model, no training pass
                # over the corpus (each worker trains on its own shard)
                t0 = time.time()
                lpq = routed.quantize_pq_local(m=16, k=32)
                times["hnsw_routed_pql_quantize"] = round(time.time() - t0, 1)
                _log(f"pq local quantize done "
                     f"{times['hnsw_routed_pql_quantize']}s")
                t0 = time.time()
                hits = lpq.search_batch(
                    qdf, "embedding", "qid", K, n_probe=args.n_probe,
                    rerank=emb, rerank_mult=16,
                ).collect()
                times["hnsw_routed_pql_batch_deep"] = round(time.time() - t0, 1)
                report["recall_hnsw_routed_pql_deep16"] = round(
                    recall(truth, hits), 4
                )
                _log(f"pq local deep batch done recall="
                     f"{report['recall_hnsw_routed_pql_deep16']}")

    if not args.skip_vamana:
        # ---- merged vamana → partitioned serving (the frozen tier) ----
        t0 = time.time()
        vam = VamanaIndex.build(
            emb, "embedding", "vec_id", shards=64, overlap_eps=0.2,
            r=16, ef_construction=48, ef_search=48,
            max_cell_rows=60_000,
        )
        vam.edges.cache().count()
        times["vamana_merged_build"] = round(time.time() - t0, 1)
        _log(f"vamana merged build done {times['vamana_merged_build']}s")
        report["serve_cap"] = vam.serve_cap()

        if n <= vam.serve_cap():
            # the one-node serving tier is lawful at this width — measure
            # its recall too (driver graph walk, the DiskANN serving shape)
            t0 = time.time()
            mhits = []
            for q, v in zip(qids, qmat):
                h = vam.probe(v.tolist(), K).collect()
                mhits.extend([{"qid": q, "vec_id": r["vec_id"]} for r in h])
            times["vamana_merged_probe_50"] = round(time.time() - t0, 1)
            _log(f"merged probes done {times['vamana_merged_probe_50']}s")
            report["recall_vamana_merged"] = round(recall(truth, mhits), 4)

        t0 = time.time()
        part = vam.to_partitioned(cells=args.cells, n_probe=args.n_probe)
        times["vamana_to_partitioned"] = round(time.time() - t0, 1)
        _log(f"to_partitioned done {times['vamana_to_partitioned']}s")
        t0 = time.time()
        hits = part.search_batch(qdf, "embedding", "qid", K, n_probe=args.n_probe).collect()
        times["vamana_partitioned_batch"] = round(time.time() - t0, 1)
        _log(f"partitioned batch done {times['vamana_partitioned_batch']}s")
        report["recall_vamana_partitioned"] = round(recall(truth, hits), 4)

        if args.vamana_pq:
            # ---- residual PQ on the graph blobs (entry-cell centers):
            # merged driver-walk serving + partitioned shells, both with
            # exact deep rerank — the r9 IVFADC graph-blob threading ----
            from bustub_vectordb_spark.similarity.pq import PQModel

            t0 = time.time()
            vmodel = PQModel.train(
                vam.residual_source(), "__res", "vec_id", m=16, k=32
            )
            vpq = vam.quantize_pq(vmodel, residual=True)
            times["vamana_pqr_train"] = round(time.time() - t0, 1)
            _log(f"vamana pqr train done {times['vamana_pqr_train']}s "
                 f"(centers={len(vpq.params['pq_centers'])})")
            if n <= vpq.serve_cap():
                t0 = time.time()
                mhits = []
                for q, v in zip(qids, qmat):
                    h = vpq.probe(v.tolist(), K).collect()
                    mhits.extend(
                        [{"qid": q, "vec_id": r["vec_id"]} for r in h]
                    )
                times["vamana_pqr_merged_probe_50"] = round(time.time() - t0, 1)
                report["recall_vamana_pqr_merged"] = round(
                    recall(truth, mhits), 4
                )
                _log(f"vamana pqr merged probes done recall="
                     f"{report['recall_vamana_pqr_merged']}")
            t0 = time.time()
            vpart = vpq.to_partitioned(cells=args.cells, n_probe=args.n_probe)
            times["vamana_pqr_to_partitioned"] = round(time.time() - t0, 1)
            t0 = time.time()
            hits = vpart.search_batch(
                qdf, "embedding", "qid", K, n_probe=args.n_probe, rerank=emb,
                rerank_mult=16,
            ).collect()
            times["vamana_pqr_partitioned_batch"] = round(time.time() - t0, 1)
            report["recall_vamana_pqr_partitioned"] = round(
                recall(truth, hits), 4
            )
            _log(f"vamana pqr partitioned batch done recall="
                 f"{report['recall_vamana_pqr_partitioned']}")

        if args.vamana_nprobe_sweep:
            # recall/latency surface over n_probe at fixed cells — serving
            # only (no rebuilds), so the sweep is cheap relative to builds
            sweep = []
            for np_i in [int(x) for x in args.vamana_nprobe_sweep.split(",")]:
                t0 = time.time()
                hits = part.search_batch(
                    qdf, "embedding", "qid", K, n_probe=np_i
                ).collect()
                row = {
                    "n_probe": np_i,
                    "batch_sec": round(time.time() - t0, 1),
                    "recall": round(recall(truth, hits), 4),
                }
                sweep.append(row)
                _log(f"nprobe sweep {row}")
            report["vamana_nprobe_sweep"] = sweep

        # filtered probe: 1-in-7 allowed set through the partitioned path
        t0 = time.time()
        truth_f = exact_topk(emb, qmat, qids, allowed_mod=7)
        allowed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
        fhits = []
        for q, v in list(zip(qids, qmat))[:10]:  # 10 single probes
            h = part.probe(v.tolist(), K, allowed=allowed, n_probe=8).collect()
            fhits.extend([{"qid": q, "vec_id": r["vec_id"]} for r in h])
        times["vamana_partitioned_filtered_10probes"] = round(time.time() - t0, 1)
        probed = set(qids[:10])
        tf = {q: t for q, t in truth_f.items() if q in probed}
        report["recall_vamana_filtered"] = round(recall(tf, fhits), 4)

    if args.ivf:
        # ---- compressed IVF tiers (the reference's externally-graded
        # recall role, test/sql/vector.04/.05.slt, at 10x+ its scale):
        # route -> ADC over materialized codes -> exact rerank ----
        from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
        from bustub_vectordb_spark.similarity.ivfcodes import (
            IVFCodesIndex, PQCodes, SQ8Codes,
        )

        report["ivf_lists"] = args.ivf_lists
        t0 = time.time()
        ivf = IVFFlatIndex.build(
            emb, "embedding", lists=args.ivf_lists,
            probe_lists=args.n_probe * 2, init_order="vec_id",
        )
        times["ivf_build"] = round(time.time() - t0, 1)
        _log(f"ivf build done {times['ivf_build']}s")

        t0 = time.time()
        # each build stores its codes eagerly, so the timer covers encoding
        sq8 = IVFCodesIndex.build(ivf, "embedding", "vec_id", SQ8Codes())
        times["ivf_sq8_encode"] = round(time.time() - t0, 1)
        _log(f"sq8 encode done {times['ivf_sq8_encode']}s")

        t0 = time.time()
        # residual=False EXPLICIT: this is the global-codebook contrast row
        # (residual became the build default in r9)
        pq = IVFCodesIndex.build(
            ivf, "embedding", "vec_id", PQCodes(m=16, k=32, residual=False)
        )
        times["ivf_pq_encode"] = round(time.time() - t0, 1)
        _log(f"pq encode done {times['ivf_pq_encode']}s")

        t0 = time.time()
        pqr = IVFCodesIndex.build(
            ivf, "embedding", "vec_id", PQCodes(m=16, k=32, residual=True)
        )
        times["ivf_pq_residual_encode"] = round(time.time() - t0, 1)
        _log(f"pq residual encode done {times['ivf_pq_residual_encode']}s")

        for name, idx, rr in (
            ("ivf_sq8", sq8, 4 * K),
            ("ivf_sq8_deep", sq8, 16 * K),
            ("ivf_pq", pq, 4 * K),
            ("ivf_pq_deep", pq, 16 * K),
            ("ivf_pq_residual", pqr, 4 * K),
            ("ivf_pq_residual_deep", pqr, 16 * K),
        ):
            t0 = time.time()
            hits = []
            for q, v in zip(qids, qmat):
                h = idx.probe(v.tolist(), K, rerank=rr).collect()
                hits.extend([{"qid": q, "vec_id": r["vec_id"]} for r in h])
            times[f"{name}_probe_{N_QUERIES}"] = round(time.time() - t0, 1)
            report[f"recall_{name}"] = round(recall(truth, hits), 4)
            _log(f"{name} probes done {times[f'{name}_probe_{N_QUERIES}']}s "
                 f"recall={report[f'recall_{name}']}")

    report["times_sec"] = times
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
