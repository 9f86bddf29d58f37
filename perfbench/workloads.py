"""The workloads.  Each is one closed-loop client against one ``SqlEngine``
session, calling the engine only through its public API."""

from __future__ import annotations

import copy
import dataclasses
import sys
import time
import traceback

import numpy as np
import pandas as pd

from bustub_vectordb_spark.index import HNSWIndex, IVFFlatIndex
from bustub_vectordb_spark.sql import SqlEngine, rewrite

from data import DIM, K, Mixture, exact_topk, recall
from spans import Tracer

SETUP_REPS = 2  # set-ups per run: the cold first one and a warm one
SIDE_QUERIES = 32  # queries of the traced side pass


def vec_sql(v) -> str:
    return "ARRAY[" + ",".join(repr(float(x)) for x in v) + "]"


def knn_sql(v, table: str = "items") -> str:
    return f"SELECT id FROM {table} ORDER BY embedding <-> {vec_sql(v)} LIMIT {K}"


class Bench:
    """State shared by the workloads: session, tracer, answer checks."""

    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.mix = Mixture(seed)
        self.seconds = seconds
        self.eng: SqlEngine | None = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.recalls: dict[str, list[float]] = {"ivfflat": [], "hnsw": []}
        self.scored: dict[str, list[float]] = {}  # recalls of the scored rounds
        self.setup_s: list[float] = []
        self.datagen_s: list[float] = []
        self.extra: dict[str, list[float]] = {}  # traced-only side timings
        self.cand_per_result: list[float] = []
        self.t0 = time.perf_counter()

    # -- answer checks --------------------------------------------------
    def op(self, fn) -> None:
        """Run one engine operation and count it; ``fn`` returns a list of
        failure strings, empty when the answer is correct."""
        self.attempted += 1
        try:
            problems = fn()
        except Exception:  # an engine error is a failed operation, not a crash
            traceback.print_exc(file=sys.stderr)
            problems = ["raised"]
        if problems:
            self.failed += 1
            self.correct = False
            print(f"failed operation: {problems}", file=sys.stderr)

    @staticmethod
    def check_ids(ids: list[int], n: int) -> list[str]:
        out = []
        if len(ids) != K:
            out.append(f"{len(ids)} rows, want {K}")
        if any(i is None or not 0 <= i < n for i in ids):
            out.append("id outside the corpus")
        if len(set(ids)) != len(ids):
            out.append("duplicate ids")
        return out

    @staticmethod
    def check_exact(ids: list[int], truth: np.ndarray) -> list[str]:
        return [] if set(ids) == set(truth.tolist()) else ["exact path disagrees with numpy"]

    def side(self, name: str, fn) -> None:
        """Time a call that attributes a layer, outside the timed calls:
        traced runs make these in a pass after the timed phase, so traced
        and untraced runs time the same sequence of calls."""
        t = time.perf_counter()
        fn()
        self.extra.setdefault(name, []).append((time.perf_counter() - t) * 1e3)

    # -- set-up pieces ---------------------------------------------------
    def load(self, vecs: np.ndarray):
        """Corpus rows → a cached DataFrame registered as SQL table items.
        Drops every cached result first: an identical plan would otherwise
        be served from the previous set-up's cache instead of rebuilt."""
        t = time.perf_counter()
        self.spark.catalog.clearCache()
        self.eng = SqlEngine(self.spark)
        df = self.frame(vecs).cache()
        df.count()
        self.eng.catalog.register("items", df, {"embedding": DIM})
        # writes go to their own table, so reads keep serving the corpus
        self.eng.catalog.register("items_w", df, {"embedding": DIM})
        self.datagen_s.append(time.perf_counter() - t)
        return df

    def setup(self, corpus: np.ndarray, *builds):
        """SETUP_REPS fresh set-ups: load, then each build in turn.  Returns
        the last set-up's indexes; setup_s is the median set-up."""
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            df = self.load(corpus)
            out = [build(df) for build in builds]
            self.setup_s.append(time.perf_counter() - t)
            self.log(f"set-up {len(self.setup_s)} done")
        return out

    def frame(self, vecs: np.ndarray, id0: int = 0, id_col="id", vec_col="embedding"):
        pdf = pd.DataFrame({
            id_col: np.arange(id0, id0 + len(vecs), dtype=np.int64),
            vec_col: list(vecs),
        })
        return self.spark.createDataFrame(pdf, f"{id_col} bigint, {vec_col} array<double>")

    def build_hnsw(self, df, ef_search: int):
        with self.tracer.call("hnsw", "build", "HNSWIndex.build"):
            idx = HNSWIndex.build(df, "embedding", "id", ef_search=ef_search)
        self.attempted += 1
        return idx

    def build_ivfflat(self, df, lists: int, probe: int):
        with self.tracer.call("ivfflat", "build", "IVFFlatIndex.build"):
            idx = IVFFlatIndex.build(df, "embedding", lists=lists, probe_lists=probe)
        self.attempted += 1
        return idx

    def build_routed(self, df, shards: int):
        with self.tracer.call("hnsw", "build", "HNSWIndex.build_routed"):
            idx = HNSWIndex.build_routed(df, "embedding", "id", shards=shards)
            idx.blobs.count()  # the build is lazy until its blobs materialize
        self.attempted += 1
        return idx

    def log(self, what: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {what}", file=sys.stderr, flush=True)

    def serve(self, read_round, n_items: int, warmup: int, min_rounds: int,
              write_step, writes: int) -> None:
        """The timed phase: ``seconds`` of read rounds with ``writes`` write
        steps spread evenly through it, so a slow patch of the box hits
        reads and writes alike.  Untimed before it: ``warmup`` read rounds
        and write step 0.  Reads run whole rounds, so every read tier gets
        the same sample count, and at least ``min_rounds`` of them, the
        rounds recall is scored on: the same queries on every run of a
        seed, whatever the box's speed.  The write steps are a fixed
        sequence, the same count and order on every run."""
        for i in range(warmup):
            read_round(i % n_items, False)
        write_step(False)
        self.log("warm-up done")
        start = time.perf_counter()
        i = 0

        def reads_until(t: float, rounds: int) -> None:
            nonlocal i
            while time.perf_counter() < t or i < rounds:
                read_round((warmup + i) % n_items, True)
                i += 1
                if i == min_rounds:
                    self.scored = {k: list(v) for k, v in self.recalls.items()}

        # on a slow box or with slow calls, reads and writes still alternate
        for step in range(1, writes + 1):
            reads_until(start + (step - 0.5) * self.seconds / writes,
                        step * min_rounds // (writes + 1))
            write_step(True)
        reads_until(start + self.seconds, min_rounds)
        self.log(f"{i} timed read rounds and {writes} timed write steps done")

    def writer(self, corpus, rows: int, ivf, hnsw_insert, hnsw_read):
        """The write sequence, one ``step(keep)`` at a time.  Each step draws
        the next insert batch and runs every tier's insert followed by a
        read that must return the batch's first row at rank 1 (the untimed
        warm-up step: IVFFlat and SQL only).  Writes go
        to copies (``items_w``, a chain of IVFFlat indexes grown from
        ``ivf``, and whatever ``hnsw_insert`` grows), never to the objects
        the reads serve.  ``hnsw_insert(new_df)`` inserts into the HNSW copy,
        ``hnsw_read(v)`` returns the ids of its top-k for v."""
        table = corpus
        ivf_w = ivf

        def step(keep: bool) -> None:
            nonlocal table
            new = self.mix.draw("inserts", rows)
            id0 = len(table)
            table = np.vstack([table, new])
            n, target = len(table), new[0]
            truth = exact_topk(table, target[None, :])[0]
            new_df = self.frame(new, id0)
            values = ", ".join(f"({id0 + i}, {vec_sql(v)})" for i, v in enumerate(new))
            insert_sql = f"INSERT INTO items_w VALUES {values}"
            read_sql = knn_sql(target, "items_w")

            def first_is_new(ids):
                return [] if ids and ids[0] == id0 else ["just-inserted row not at rank 1"]

            def ivfflat():
                nonlocal ivf_w
                with self.tracer.call("ivfflat", "write", "IVFFlatIndex.insert", keep) as c:
                    with self.tracer.phase(c, "call"):
                        ivf_w = ivf_w.insert(new_df)
                    with self.tracer.phase(c, "force"):
                        ids = [r["id"] for r in ivf_w.probe(list(target), K).collect()]
                return self.check_ids(ids, n) + first_is_new(ids)

            def hnsw():
                with self.tracer.call("hnsw", "write", "HNSW insert", keep) as c:
                    with self.tracer.phase(c, "call"):
                        hnsw_insert(new_df)
                    with self.tracer.phase(c, "force"):
                        ids = hnsw_read(target)
                return self.check_ids(ids, n) + first_is_new(ids)

            def sql():
                with self.tracer.call("sql", "write", "SqlEngine.execute", keep) as c:
                    with self.tracer.phase(c, "call"):
                        self.eng.execute(insert_sql)
                    with self.tracer.phase(c, "force"):
                        ids = [r["id"] for r in self.eng.execute(read_sql).collect()]
                return self.check_ids(ids, n) + first_is_new(ids) + self.check_exact(ids, truth)

            # the warm-up step skips the HNSW insert: its first call is no
            # slower than later ones, its paths warm from the build
            for fn in (ivfflat, hnsw, sql) if keep else (ivfflat, sql):
                self.op(fn)

        return step

    def side_pass(self, ivf, corpus: np.ndarray, queries: np.ndarray, sql_text) -> None:
        """Traced runs only, after the timed phase: the layer timings that
        need a call of their own, over ``SIDE_QUERIES`` of the run's
        queries.  ``sql_text(q)`` is the SQL read statement for query q."""
        cents = np.asarray(ivf.centroids)
        sizes = bucket_sizes(corpus, cents)
        for q in queries[:SIDE_QUERIES]:
            self.side("sql.rewrite_ms", lambda: rewrite(sql_text(q)))
            self.side("ivfflat.rank_buckets_ms", lambda: ivf.rank_buckets(list(q)))
            near = np.argsort(((cents - q) ** 2).sum(1), kind="stable")[: ivf.probe_lists]
            self.cand_per_result.append(sizes[near].sum() / K)


def bucket_sizes(vecs: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    c = np.asarray(centroids)
    d = (c * c).sum(1)[None, :] - 2.0 * vecs @ c.T
    return np.bincount(d.argmin(1), minlength=len(c))


# ---------------------------------------------------------------------------

POINT_ROWS = 2_500
POINT_LISTS, POINT_PROBE = 16, 2
POINT_HNSW_EF = 16
POINT_QUERIES = 256
POINT_WARMUP = 3  # untimed read rounds
POINT_ROUNDS = 16  # least timed read rounds: recall is scored on these
POINT_WRITES, POINT_WRITE_ROWS = 4, 1


def point_serve(b: Bench) -> None:
    """Single-vector top-10 queries, round-robin over SQL, IVFFlat and
    driver HNSW, with single-row inserts into copies of all three spread
    through the run, each read back at once."""
    corpus = b.mix.draw("corpus", POINT_ROWS)
    queries = b.mix.draw("queries", POINT_QUERIES)
    truth = exact_topk(corpus, queries)
    n = len(corpus)
    ivf, hnsw = b.setup(
        corpus,
        lambda df: b.build_ivfflat(df, POINT_LISTS, POINT_PROBE),
        lambda df: b.build_hnsw(df, POINT_HNSW_EF),
    )
    # the inserts grow a copy of the graph; the reads keep the built one
    hnsw_w = dataclasses.replace(hnsw, graph=copy.deepcopy(hnsw.graph))

    def hnsw_w_ids(v):
        return [r["id"] for r in hnsw_w.probe(list(v), K, ef_search=POINT_HNSW_EF).collect()]

    def one_round(i: int, keep: bool) -> None:
        q, tr = queries[i], truth[i]

        def sql():
            with b.tracer.call("sql", "read", "SqlEngine.execute", keep) as c:
                with b.tracer.phase(c, "call"):
                    df = b.eng.execute(knn_sql(q))
                with b.tracer.phase(c, "force"):
                    ids = [r["id"] for r in df.collect()]
            return b.check_ids(ids, n) + b.check_exact(ids, tr)

        def ivfflat():
            with b.tracer.call("ivfflat", "read", "IVFFlatIndex.probe", keep) as c:
                with b.tracer.phase(c, "call"):
                    df = ivf.probe(list(q), K)
                with b.tracer.phase(c, "force"):
                    ids = [r["id"] for r in df.collect()]
            if keep:
                b.recalls["ivfflat"].append(recall(ids, tr))
            return b.check_ids(ids, n)

        def hnsw_probe():
            with b.tracer.call("hnsw", "read", "HNSWIndex.probe", keep) as c:
                with b.tracer.phase(c, "call"):
                    df = hnsw.probe(list(q), K, ef_search=POINT_HNSW_EF)
                with b.tracer.phase(c, "force"):
                    ids = [r["id"] for r in df.collect()]
            if keep:
                b.recalls["hnsw"].append(recall(ids, tr))
            return b.check_ids(ids, n)

        for fn in (sql, ivfflat, hnsw_probe):
            b.op(fn)

    step = b.writer(corpus, POINT_WRITE_ROWS, ivf, hnsw_w.insert, hnsw_w_ids)
    b.serve(one_round, len(queries), POINT_WARMUP, POINT_ROUNDS, step, POINT_WRITES)
    if b.tracer.traced:
        b.side_pass(ivf, corpus, queries[POINT_WARMUP:], knn_sql)
        for q in queries[POINT_WARMUP:][:SIDE_QUERIES]:
            b.side("hnsw.graph_ms", lambda: hnsw.graph.search(q, K, POINT_HNSW_EF))


# ---------------------------------------------------------------------------

BATCH_ROWS = 2_000
BATCH_LISTS, BATCH_PROBE = 16, 2
BATCH_SHARDS, BATCH_NPROBE = 4, 2
BATCH_QUERIES = 64  # rows per query DataFrame for the ANN paths
BATCH_SQL_QUERIES = 64  # rows per query table for the exact SQL join
BATCH_POOL = 3  # distinct query batches, reused round-robin
BATCH_WARMUP = 1  # untimed read rounds
BATCH_ROUNDS = 3  # least timed read rounds: recall is scored on these
BATCH_WRITES, BATCH_WRITE_ROWS = 3, 1

JOIN_SQL = (
    "SELECT qid, id FROM (SELECT q.qid, i.id, row_number() OVER "
    "(PARTITION BY q.qid ORDER BY i.embedding <-> q.qv, i.id) AS rn "
    "FROM queries q CROSS JOIN items i) t WHERE rn <= 10"
)


def by_qid(rows) -> dict[int, list[int]]:
    """(qid, id, distance) rows → each qid's ids, nearest first."""
    out: dict[int, list[tuple]] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["distance"], r["id"]))
    return {q: [i for _, i in sorted(v)] for q, v in out.items()}


def batch_ingest(b: Bench) -> None:
    """Query DataFrames through probe_batch, routed search_batch and an
    exact SQL KNN join, every result collected and checked, with
    single-row inserts into copies of IVFFlat, routed HNSW and the SQL
    table spread through the run, each read back at once."""
    corpus = b.mix.draw("corpus", BATCH_ROWS)
    n = len(corpus)
    ivf, routed = b.setup(
        corpus,
        lambda df: b.build_ivfflat(df, BATCH_LISTS, BATCH_PROBE),
        lambda df: b.build_routed(df, BATCH_SHARDS),
    )
    pool = []
    for p in range(BATCH_POOL):
        qv = b.mix.draw("queries", BATCH_QUERIES)
        qid0 = p * BATCH_QUERIES
        qdf = b.frame(qv, qid0, "qid", "qv").cache()
        qdf.count()
        sdf = b.frame(qv[:BATCH_SQL_QUERIES], qid0, "qid", "qv").cache()
        sdf.count()
        pool.append((qid0, qv, exact_topk(corpus, qv), qdf, sdf))

    def check_batch(got: dict, qid0: int, truth, nq: int, tier=None, keep=False):
        problems = []
        if len(got) != nq:
            problems.append(f"{len(got)} queries answered, want {nq}")
        for q, ids in got.items():
            problems += b.check_ids(ids, n)
            if tier is None:
                problems += b.check_exact(ids, truth[q - qid0])
            elif keep:
                b.recalls[tier].append(recall(ids, truth[q - qid0]))
        return sorted(set(problems))

    def one_round(i: int, keep: bool) -> None:
        qid0, qv, truth, qdf, sdf = pool[i]

        def sql():
            b.eng.catalog.register("queries", sdf)
            with b.tracer.call("sql", "read", "SqlEngine.execute", keep) as c:
                with b.tracer.phase(c, "call"):
                    out = b.eng.execute(JOIN_SQL)
                with b.tracer.phase(c, "force"):
                    rows = out.collect()
            got = {}
            for r in rows:
                got.setdefault(r["qid"], []).append(r["id"])
            return check_batch(got, qid0, truth, BATCH_SQL_QUERIES)

        def ivfflat():
            with b.tracer.call("ivfflat", "read", "IVFFlatIndex.probe_batch", keep) as c:
                with b.tracer.phase(c, "call"):
                    out = ivf.probe_batch(qdf, "qv", "qid", K)
                with b.tracer.phase(c, "force"):
                    rows = out.select("qid", "id", "distance").collect()
            return check_batch(by_qid(rows), qid0, truth, BATCH_QUERIES, "ivfflat", keep)

        def hnsw():
            with b.tracer.call("hnsw", "read", "ShardedHNSW.search_batch", keep) as c:
                with b.tracer.phase(c, "call"):
                    out = routed.search_batch(qdf, "qv", "qid", K, n_probe=BATCH_NPROBE)
                with b.tracer.phase(c, "force"):
                    rows = out.select("qid", "id", "distance").collect()
            return check_batch(by_qid(rows), qid0, truth, BATCH_QUERIES, "hnsw", keep)

        for fn in (sql, ivfflat, hnsw):
            b.op(fn)

    # insert returns a new index and leaves the one the reads serve intact
    routed_w = routed

    def routed_insert(new_df):
        nonlocal routed_w
        routed_w = routed_w.insert(new_df)

    def routed_ids(v):
        # the new row sits in its nearest centroid's shard: probe that one
        out = routed_w.probe(list(v), K, n_probe=1)
        return [r["id"] for r in out.select("id", "distance").orderBy("distance").collect()]

    step = b.writer(corpus, BATCH_WRITE_ROWS, ivf, routed_insert, routed_ids)
    b.serve(one_round, len(pool), BATCH_WARMUP, BATCH_ROUNDS, step, BATCH_WRITES)
    if b.tracer.traced:
        b.side_pass(ivf, corpus, pool[0][1], lambda q: JOIN_SQL)


WORKLOADS = {"point_serve": point_serve, "batch_ingest": batch_ingest}
