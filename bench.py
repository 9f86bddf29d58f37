"""Benchmark harness — one JSON line for the driver's BENCH_r{N}.json.

Reproduces the reference's four leaderboard query shapes (BASELINE.md) over
the driver testdata, plus the vector workloads (exact KNN, IVFFlat build and
probe) that define this engine's core capability:

  q1_filter_scan    range+point filter (leaderboard-q1 shape) — pushdown test
  q2_join_agg       3-way equi-join + global agg (leaderboard-q2 shape)
  q2_bucketed_join_agg  same join over persistently bucketed tables (layout
                    write untimed — amortized): shuffle-free join inputs
  q3_wide_agg       wide aggregation (42 agg exprs) + LEFT JOIN against an
                    empty-filtered side, grouped (leaderboard-q3 shape)
  q4_window_topn    rank-per-partition top-3 then global top-10
                    (leaderboard-q1-window shape)
  knn_exact         brute-force top-10 over embeddings
  ivfflat_build     full index build (Lloyd's loop)
  ivfflat_probe     ANN probe over 1/4 of buckets
  ivfflat_batch_probe  KNN-join through the index for a query DataFrame
  minhash_dedup     MinHash-LSH near-dup candidate pairs over documents
  hnsw_build/probe  HNSW graph build + beam-search probe (driver mode —
                    the dimension-table shape)
  hnsw_routed_build/_batch_search  the SCALE path: IVF-routed sharded
                    build (applyInPandas per shard) + distributed batch
                    serving over the n_probe nearest shards
  pipeline_prep     composed training-data prep (quality filter + PII
                    scrub + dedup + token count) end to end
  dedup_components  connected-components dedup clustering (iterative
                    label propagation — the most shuffle-sensitive op)

Timing methodology: the reference's own harness runs every leaderboard
query N times and reports per-run ms (`+timing:x10`,
tools/sqllogictest/sqllogictest.cpp:135-167). We run each workload twice in
one session and report the MIN — steady-state throughput with JVM/codegen
warm-up amortized, which is the quantity that scales to a long-lived
cluster. Each query is forced with a noop write (no driver-side collect of
big results). Prints exactly one JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>}
"""

from __future__ import annotations

import json
import os
import sys
import time

# one BLAS thread per task BEFORE any numpy import in this process: the
# driver runs graph-build kernels itself (hnsw_build), and OpenBLAS reads
# its thread count at library load — set too late (e.g. only in the
# package __init__ after pyspark pulled numpy in) the driver-side kernels
# pay the threaded pool's ~ms handoff per table-sized matvec. Workers are
# covered either way: the JVM inherits this env and Python workers read it
# before their numpy loads. Same setdefault (overridable) as the package.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window
from pyspark.sql import functions as F

from bustub_vectordb_spark.catalog import read_table
from bustub_vectordb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# min-of-3: this container shows multi-second scheduling outliers (NOTES.md);
# two runs can both land on one, three rarely do
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_workloads(spark):
    """Return [(name, thunk)] — each thunk runs one workload to completion."""
    li = read_table(spark, SF_DIR, "lineitem")
    orders = read_table(spark, SF_DIR, "orders")
    customer = read_table(spark, SF_DIR, "customer")
    emb = read_table(spark, SF_DIR, "embeddings")
    docs = read_table(spark, SF_DIR, "documents")

    from bustub_vectordb_spark.dedup.minhash import minhash_lsh_candidates
    from bustub_vectordb_spark.index.hnsw import HNSWIndex
    from bustub_vectordb_spark.index.ivfflat import IVFFlatIndex
    from bustub_vectordb_spark.layout import bucketize
    from bustub_vectordb_spark.queries import QUERY_VEC
    from bustub_vectordb_spark.shipping import release_checkpoint
    from bustub_vectordb_spark.similarity.brute import knn

    # one-time bucketed layout (untimed; amortized over the workload)
    names = bucketize(spark, SF_DIR)
    lib, ob = spark.table(names["lineitem"]), spark.table(names["orders"])

    def q1():
        force(li.filter((F.col("l_quantity") >= 45) & (F.col("l_linenumber") == 3)))

    def _q2_agg(j):
        force(
            j.agg(
                F.count("*").alias("cnt"),
                F.max("l_extendedprice").alias("m1"),
                F.max("o_totalprice").alias("m2"),
                F.max("c_acctbal").alias("m3"),
                F.max("l_quantity").alias("m4"),
                F.max("l_discount").alias("m5"),
                F.max("l_tax").alias("m6"),
            )
        )

    def q2():
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
            .filter((F.col("l_quantity") < 49) & (F.col("o_totalprice") > 1000.0))
        )
        _q2_agg(j)

    def q2_bucketed():
        j = (
            lib.join(ob, lib.l_orderkey == ob.o_orderkey)
            .join(F.broadcast(customer), ob.o_custkey == customer.c_custkey)
            .filter((F.col("l_quantity") < 49) & (F.col("o_totalprice") > 1000.0))
        )
        _q2_agg(j)

    def q3():
        empty_side = orders.filter(F.col("o_totalprice") < 0).select(
            F.col("o_orderkey").alias("e_key"), F.col("o_totalprice").alias("e_val")
        )
        base = li.join(empty_side, li.l_orderkey == empty_side.e_key, "left")
        aggs = []
        for i, c in enumerate(
            [
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_tax",
                "l_partkey",
                "l_suppkey",
            ]
        ):
            aggs += [
                F.sum(c).alias(f"s{i}"),
                F.min(c).alias(f"mn{i}"),
                F.max(c).alias(f"mx{i}"),
                F.count(c).alias(f"c{i}"),
                F.avg(c).alias(f"a{i}"),
                F.sum(F.col(c) + F.lit(i)).alias(f"sp{i}"),
                F.max(F.col(c) - F.lit(i)).alias(f"mp{i}"),
            ]
        force(base.groupBy("l_returnflag").agg(*aggs))

    def q4():
        w = Window.partitionBy("l_partkey").orderBy(F.col("l_extendedprice").desc())
        top3 = li.withColumn("rk", F.rank().over(w)).filter(F.col("rk") <= 3)
        force(top3.orderBy(F.col("l_extendedprice").desc()).limit(10))

    def knn_exact():
        knn(emb, "embedding", QUERY_VEC, 10).collect()

    # index state shared between build and probe thunks (rebuilt per run)
    state = {}

    def ivf_build():
        if "ivf" in state:  # free the previous run's assignments
            release_checkpoint(state["ivf"].assignments)
        # the build materializes its assignments
        state["ivf"] = IVFFlatIndex.build(
            emb, "embedding", lists=16, probe_lists=4, max_iter=5, init_order="vec_id"
        )

    def ivf_probe():
        state["ivf"].probe(QUERY_VEC, 10).collect()

    def ivf_batch_probe():
        queries = emb.filter(F.col("vec_id") % 7 == 0)
        force(
            state["ivf"].probe_batch(
                queries, "embedding", "vec_id", k=10, probe_lists=4
            )
        )

    def minhash():
        force(minhash_lsh_candidates(docs, "text", id_col="doc_id"))

    def hnsw_build():
        state["hnsw"] = HNSWIndex.build(
            emb, "embedding", "vec_id", m=8, ef_construction=64, ef_search=64
        )

    def hnsw_probe():
        state["hnsw"].probe(QUERY_VEC, 10).collect()

    # the SCALE-path HNSW: the driver-mode build above is the dimension-
    # table shape; at 100× the SQL DDL auto-routes to these, so regressions
    # must be caught on them (VERDICT r3 task 6)
    def hnsw_routed_build():
        # drop the previous run's cached blobs FIRST: Spark serves a new
        # DataFrame from an existing cache when the logical plans match, so
        # without this the 2nd+ runs would "build" from the old cache and
        # the reported min would measure cache lookup, not build throughput
        # (this also means rounds ≤4 under-reported this key)
        if "hnsw_routed" in state:
            state["hnsw_routed"].blobs.unpersist()
        idx = HNSWIndex.build_routed(
            emb, "embedding", "vec_id", shards=4, m=8,
            ef_construction=48, ef_search=48,
        )
        idx.blobs.count()  # materialize the per-shard graphs
        state["hnsw_routed"] = idx

    def hnsw_routed_batch_search():
        queries = emb.filter(F.col("vec_id") % 7 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        force(
            state["hnsw_routed"].search_batch(
                queries, "embedding", "qid", k=10, n_probe=2
            )
        )

    def vamana_build():
        # distributed single-graph merge build (DiskANN recipe) — the r5
        # flagship had no perf signal until r6 (VERDICT r5 task 4). The
        # build IS the edges pipeline, so forcing it times the whole
        # cluster-build + union + prune chain; nothing is cached between
        # runs (fresh DataFrames → fresh shuffles each run).
        from bustub_vectordb_spark.index.vamana import VamanaIndex

        idx = VamanaIndex.build(
            emb, "embedding", "vec_id", shards=8, overlap_eps=0.2, r=16
        )
        force(idx.edges)
        state["vamana"] = idx

    def vamana_pq_batch():
        # PQ-compressed batch serving over the merged graph: first run pays
        # the one-time quantize + driver-graph materialization (min-of-N
        # reports the warm serving throughput, the steady-state quantity)
        from bustub_vectordb_spark.similarity.pq import PQModel

        if "vamana" not in state:
            # subset runs (SPARK_GRAFT_BENCH_ONLY) may exclude vamana_build
            vamana_build()
        if "vamana_pq" not in state:
            model = PQModel.train(emb, "embedding", "vec_id", m=16, k=32)
            pq = state["vamana"].quantize_pq(model)
            pq.edges = pq.edges.localCheckpoint(eager=True)  # pin the build
            state["vamana_pq"] = pq
        queries = emb.filter(F.col("vec_id") % 7 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        force(
            state["vamana_pq"].search_batch(queries, "embedding", "qid", k=10)
        )

    def bq_batch():
        # 1-bit binary-quantization batch serving (similarity/bq.py): the
        # cheapest brute-force kernel in the engine — XOR+popcount over
        # packed int words for |Q|x|N| pairs, per-query top-k window. The
        # per-byte throughput ceiling the graph tiers are judged against.
        from bustub_vectordb_spark.similarity.bq import BQModel

        if "bq" not in state:
            state["bq"] = BQModel.train(emb, "embedding")
        queries = emb.filter(F.col("vec_id") % 7 == 0)
        force(
            state["bq"].hamming_join(
                queries, "embedding", "vec_id", emb, "embedding", "vec_id", 10
            )
        )

    def cdc_merge():
        # set-level MERGE upsert (operators/cdc.py): broadcast-delta
        # decomposition against the orders base — the CDC family's perf
        # signal (the streaming sink applies this per micro-batch)
        from bustub_vectordb_spark.queries import QUERIES

        force(QUERIES["merge_upsert"](spark, SF_DIR))

    def pipeline_prep_bench():
        # the composed training-data prep pipeline (quality filter + PII
        # scrub + exact dedup + token count) — tracked so the end-to-end
        # pipeline shape has a perf signal, not just correctness
        from bustub_vectordb_spark.queries import QUERIES

        force(QUERIES["pipeline_prep"](spark, SF_DIR))

    def dedup_components_bench():
        # connected-components dedup clustering (min-label propagation with
        # star-contraction escalation) — the pipeline op most sensitive to
        # scale regressions (iterative shuffles); tracked per VERDICT r4 #7
        from bustub_vectordb_spark.queries import QUERIES

        force(QUERIES["dedup_components"](spark, SF_DIR))

    return [
        ("q1_filter_scan", q1),
        ("q2_join_agg", q2),
        ("q2_bucketed_join_agg", q2_bucketed),
        ("q3_wide_agg", q3),
        ("q4_window_topn", q4),
        ("knn_exact", knn_exact),
        ("ivfflat_build", ivf_build),
        ("ivfflat_probe", ivf_probe),
        ("ivfflat_batch_probe", ivf_batch_probe),
        ("minhash_dedup", minhash),
        ("hnsw_build", hnsw_build),
        ("hnsw_probe", hnsw_probe),
        ("hnsw_routed_build", hnsw_routed_build),
        ("hnsw_routed_batch_search", hnsw_routed_batch_search),
        ("vamana_build", vamana_build),
        ("vamana_pq_batch", vamana_pq_batch),
        ("bq_batch", bq_batch),
        ("cdc_merge", cdc_merge),
        ("pipeline_prep", pipeline_prep_bench),
        ("dedup_components", dedup_components_bench),
    ]


def _settle(max_wait: float) -> None:
    """Enforce the NOTES bench precondition INSIDE the harness (VERDICT
    r11 #3: two rounds of official artifacts captured on loaded boxes):
    wait — up to ``max_wait`` seconds, polling — until load1 < 0.5 AND
    the 15-min average is settled (< 25% of cores). Capped so a driver
    with a hard timeout still gets its artifact (annotated noisy=true)
    rather than nothing. Disable with SPARK_GRAFT_BENCH_SETTLE=0."""
    if not hasattr(os, "getloadavg"):
        return
    deadline = time.time() + max_wait
    while time.time() < deadline:
        l1, _l5, l15 = os.getloadavg()
        if l1 < 0.5 and l15 < 0.25 * (os.cpu_count() or 32):
            return
        time.sleep(10)


def _cpu_ref() -> float:
    """Single-thread CPU reference (sec for a fixed pure-Python loop):
    per-key bands are only comparable across rounds on equally-fast
    boxes — r12 measured the same untouched keys ~35% above the r11
    quiet bands on a container whose cores simply ran slower. Recording
    the box's scalar speed in the artifact lets band comparisons
    normalize (key_sec / cpu_ref) instead of mis-reading box variance
    as code regressions."""
    t0 = time.time()
    x = 0
    for i in range(10_000_000):
        x += i
    return round(time.time() - t0, 3)


_SETTLE_WAIT = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE", "600"))
if _SETTLE_WAIT > 0:
    _settle(_SETTLE_WAIT)
_LOAD1_PREBENCH = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else 0.0
_CPU_REF = _cpu_ref()


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    work = build_workloads(spark)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:  # comma-separated key subset — same-box A/B runs (NOTES.md)
        keep = {k.strip() for k in only.split(",")}
        work = [(n, f) for n, f in work if n in keep]

    t: dict[str, float] = {}
    for run in range(max(1, RUNS)):
        for name, fn in work:
            t0 = time.time()
            fn()
            dt = time.time() - t0
            t[name] = min(t.get(name, float("inf")), dt)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(t.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in t.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # box-load annotation (VERDICT r6 #10): rounds 5/6 both recorded
        # phantom regressions from concurrent pytest/oracle sweeps; load1
        # sampled before the workloads start exposes that in the artifact.
        # local[32] bench alone drives load1 toward ncpu DURING runs, so
        # only the PRE-bench sample (captured in main() before workloads)
        # measures external noise; noisy = pre-load exceeding 25% of cores.
        "load1_prebench": _LOAD1_PREBENCH,
        "noisy": _LOAD1_PREBENCH > 0.25 * (os.cpu_count() or 32),
        # single-thread box-speed reference — normalize per-key bands
        # across rounds as key_sec / cpu_ref_sec (see _cpu_ref)
        "cpu_ref_sec": _CPU_REF,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
