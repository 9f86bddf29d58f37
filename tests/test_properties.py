"""Property-based invariants (hypothesis) for the text/dedup operators.

The reference has no randomized testing (SURVEY.md §5); these pin algebraic
contracts that example-based tests can miss. Each property evaluates the
Spark Column expressions over a one-batch DataFrame — the engine's actual
codegen path, not a Python re-implementation.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# printable-ish text incl. whitespace runs, punctuation, digits, PII-shaped
# fragments
_FRAGMENTS = st.sampled_from(
    list("abcdefghij XYZ.,!?;:@-_+()0123456789\t\n")
    + ["the ", "and ", "a@b.io ", "555-123-4567", "word "]
)
TEXT = st.lists(_FRAGMENTS, min_size=0, max_size=60).map("".join)

RELAXED = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _eval(spark, texts, col):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    return [r["v"] for r in df.select(col.alias("v")).orderBy("i").collect()]


@given(st.lists(TEXT, min_size=1, max_size=8))
@RELAXED
@pytest.mark.slow
def test_pii_scrub_idempotent_and_clean(spark, texts):
    """scrub(scrub(x)) == scrub(x), and scrubbed text never matches a PII
    pattern again (placeholders are fixpoints)."""
    from bustub_vectordb_spark.functions.text import pii_counts, pii_scrub

    once = _eval(spark, texts, pii_scrub("text"))
    twice = _eval(spark, once, pii_scrub("text"))
    assert once == twice
    assert all(n == 0 for n in _eval(spark, once, pii_counts("text")))


@given(st.lists(TEXT, min_size=1, max_size=8))
@RELAXED
@pytest.mark.slow
def test_fingerprint_whitespace_invariant(spark, texts):
    """The dedup fingerprint is invariant under leading/trailing space and
    internal whitespace-run collapse — the exact equivalence class exact
    dedup is defined over."""
    from bustub_vectordb_spark.functions.text import fingerprint

    mangled = ["  " + t.replace(" ", "   ") + "\t" for t in texts]
    assert _eval(spark, texts, fingerprint("text")) == _eval(
        spark, mangled, fingerprint("text")
    )


@given(st.lists(TEXT, min_size=1, max_size=6))
@RELAXED
@pytest.mark.slow
def test_shingles_distinct_and_bounded(spark, texts):
    """Shingle sets are duplicate-free and no larger than the token count;
    docs under n tokens yield the empty set (the guarded short-doc path)."""
    from bustub_vectordb_spark.dedup.minhash import shingles, _tokens

    sh = _eval(spark, texts, shingles("text", 3))
    ntok = _eval(spark, texts, F.size(_tokens("text")))
    for s, n in zip(sh, ntok):
        assert len(s) == len(set(s))
        assert len(s) <= max(n, 0)
        if n < 3:
            assert s == []


@given(
    st.integers(min_value=1, max_value=24),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23), st.integers(min_value=0, max_value=23)
        ),
        min_size=0,
        max_size=30,
    ),
)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_star_components_equal_union_find(spark, n, prs):
    """Large-star/small-star component labels ≡ union-find min-reachable
    labels for arbitrary graphs (self-loops, duplicate edges, isolated
    nodes, any diameter) — the algebraic contract of the SoCC'14
    alternation."""
    from bustub_vectordb_spark.dedup.components import connected_components

    prs = [(a, b) for a, b in prs if a < n and b < n]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pdf = spark.createDataFrame(
        prs or [(None, None)], "id1 long, id2 long"
    ).filter(F.col("id1").isNotNull())
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(nodes, pdf, "doc_id", algorithm="star").collect()
    }

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in prs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {}
    for i in range(n):
        roots.setdefault(find(i), []).append(i)
    want = {i: min(mem) for mem in roots.values() for i in mem}
    assert got == want


@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30),
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30),
)
@RELAXED
@pytest.mark.slow
def test_band_join_equals_naive(spark, left_ts, right_ts):
    """Bucketized band join ≡ naive |Δt| ≤ tol filter over the cross
    product, for arbitrary integer timestamps."""
    from bustub_vectordb_spark.operators.range_join import band_join

    tol = 37
    l = spark.createDataFrame([(i, t) for i, t in enumerate(left_ts)], "lid long, lt long")
    r = spark.createDataFrame([(i, t) for i, t in enumerate(right_ts)], "rid long, rt long")
    got = {
        (x["lid"], x["rid"]) for x in band_join(l, r, "lt", "rt", tol).collect()
    }
    want = {
        (i, j)
        for i, a in enumerate(left_ts)
        for j, b in enumerate(right_ts)
        if abs(a - b) <= tol
    }
    assert got == want


# -------------------------------------------------------------------------
# Filtered-HNSW recall under selective filters (VERDICT r4 #6)
# -------------------------------------------------------------------------
# _search_layer(allowed=...) navigates THROUGH disallowed vertices (they still
# route the walk; only allowed ones enter the beam), so recall must not
# collapse as the filter gets selective. Pinned here across selectivity
# 0.01–0.9 vs exact filtered KNN over the sf0.01 embeddings (5k × 64).

import os

import numpy as np


@pytest.fixture(scope="module")
def filtered_graph():
    import pyarrow.parquet as pq

    from bustub_vectordb_spark.index.hnsw import _Graph

    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.01 testdata not present")
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_pylist()
    vecs = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids = [ids[i] for i in order]
    vecs = vecs[order]
    g = _Graph(8, 64, 128, "l2", seed=42)
    g.add_all(ids, vecs)
    return g, np.asarray(ids), vecs


@given(sel=st.floats(0.01, 0.9), seed=st.integers(0, 2**16))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_filtered_hnsw_recall_sweep(filtered_graph, sel, seed):
    """recall@10 of the traversal-time filtered walk vs exact filtered KNN
    stays ≥ 0.9 from near-exhaustive (sel 0.01 → walk degenerates to a
    scan of the component) through mildly filtered (sel 0.9)."""
    from hypothesis import assume

    g, ids, vecs = filtered_graph
    rng = np.random.default_rng(seed)
    mask = rng.random(len(ids)) < sel
    assume(mask.sum() >= 10)
    allowed = frozenset(int(x) for x in ids[mask])
    q = vecs[int(rng.integers(len(ids)))] + rng.normal(0, 0.05, vecs.shape[1])

    d = np.linalg.norm(vecs[mask] - q, axis=1)
    exact = set(int(x) for x in ids[mask][np.argsort(d, kind="stable")[:10]])

    got = {hid for hid, _ in g.search(q, 10, ef=128, allowed_ids=allowed)}
    assert len(got) == 10
    assert len(got & exact) / 10 >= 0.9


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=6),   # m subspaces
    st.integers(min_value=2, max_value=16),  # k codebook size
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_graph_pq_quantize_invariants(m, k, seed):
    """_Graph PQ state invariants under random codebooks/data: codes are
    uint8 in [0, k); every decoded row is the concatenation of codebook
    rows selected by its codes; add_all after quantization encodes with
    the FROZEN codebooks (codes of old rows unchanged); decoded matrix
    shape always (n, dim)."""
    import numpy as np

    from bustub_vectordb_spark.index.hnsw import _Graph
    from bustub_vectordb_spark.similarity.pq import PQModel

    rng = np.random.RandomState(seed % (2**31))
    dim = max(m, rng.randint(m, m * 4 + 1))
    n = k + rng.randint(1, 20)
    mat = rng.rand(n, dim)
    model = PQModel.train_rows(mat, m=m, k=min(k, n), max_iter=2)

    g = _Graph(4, 8, 8, "l2", seed=1)
    g.add_all(list(range(n)), mat.copy())
    g.quantize_pq(model.centroids, model.bounds)
    assert g.pq_codes.dtype == np.uint8
    assert g.pq_codes.shape == (n, model.m)
    assert int(g.pq_codes.max(initial=0)) < model.k
    dec = g._mat_rows(slice(None))
    assert dec.shape == (n, dim)
    for s, (lo, hi) in enumerate(model.bounds):
        sub = dec[:, lo:hi]
        book = np.asarray(model.centroids[s])
        assert np.allclose(sub, book[g.pq_codes[:, s]])

    before = g.pq_codes.copy()
    extra = rng.rand(3, dim)
    g.add_all([n, n + 1, n + 2], extra)
    assert np.array_equal(g.pq_codes[:n], before)  # frozen codebooks
    assert g.pq_codes.shape == (n + 3, model.m)


# CDC merge algebra: random delta sequences
_KEYS = st.integers(min_value=0, max_value=12)
_DELTA = st.lists(
    st.tuples(_KEYS, st.integers(min_value=0, max_value=99)),
    min_size=1,
    max_size=5,
    unique_by=lambda t: t[0],  # MERGE precondition: unique source keys
)


@given(st.lists(_DELTA, min_size=1, max_size=4))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_stream_cdc_equals_merge_fold(spark, tmp_path_factory, deltas):
    """Applying any sequence of delta batches through the versioned
    streaming sink equals left-folding operators.cdc.merge_upsert over the
    same batches — stream state is the batch algebra, version by version."""
    from bustub_vectordb_spark.operators.cdc import merge_upsert
    from bustub_vectordb_spark.streaming.cdc_apply import StreamUpsertSink

    base = spark.createDataFrame(
        [(k, -1) for k in range(5)], "k bigint, v bigint"
    )
    d = str(tmp_path_factory.mktemp("cdcprop"))
    sink = StreamUpsertSink(spark, base, "k", d, n_buckets=3)
    folded = base
    for i, delta in enumerate(deltas):
        ddf = spark.createDataFrame(delta, "k bigint, v bigint")
        sink.process_batch(ddf, i)
        folded = merge_upsert(folded, ddf, ["k"])
    got = sorted(map(tuple, sink.state_df().collect()))
    want = sorted(map(tuple, folded.collect()))
    assert got == want
