"""Vector expression semantics vs hand-computed values and the reference's
ComputeDistance (src/include/execution/expressions/vector_expression.h:19-63)."""

import math

import pytest
from pyspark.sql import functions as F

from bustub_vectordb_spark.functions import (
    cosine_similarity,
    inner_product,
    l2_dist,
    l2_norm,
    vec_lit,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 1.0, 1.0]),
        (2, [2.0, 1.0, 1.0]),
        (3, [-1.0, 2.0, 0.5]),
    ]
    return spark.createDataFrame(rows, "id int, v array<double>")


def test_l2_dist(vecs):
    got = {
        r["id"]: r["d"]
        for r in vecs.select("id", l2_dist("v", [1.0, 1.0, 1.0]).alias("d")).collect()
    }
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(math.sqrt(4 + 1 + 0.25))


def test_inner_product(vecs):
    got = {
        r["id"]: r["d"]
        for r in vecs.select(
            "id", inner_product("v", [1.0, 2.0, 3.0]).alias("d")
        ).collect()
    }
    assert got[1] == pytest.approx(6.0)
    assert got[2] == pytest.approx(7.0)
    assert got[3] == pytest.approx(-1 + 4 + 1.5)


def test_cosine_similarity(vecs):
    got = vecs.filter("id = 1").select(
        cosine_similarity("v", [2.0, 2.0, 2.0]).alias("d")
    ).collect()[0]["d"]
    assert got == pytest.approx(1.0)


def test_float32_inputs_promoted(spark):
    df = spark.createDataFrame([([1.5, 2.5],)], "v array<float>")
    got = df.select(l2_norm("v").alias("n")).collect()[0]["n"]
    assert got == pytest.approx(math.sqrt(1.5**2 + 2.5**2))


def test_vec_lit_is_double(spark):
    df = spark.range(1).select(vec_lit([1, 2]).alias("v"))
    assert df.schema["v"].dataType.simpleString() == "array<double>"


def test_no_python_udf_in_plan(vecs):
    plan = vecs.select(l2_dist("v", [0.0, 0.0, 0.0])). _jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_normalize_and_projection(spark, tables):
    from pyspark.sql import functions as F

    from bustub_vectordb_spark.similarity.projection import normalize, random_projection

    emb = tables["embeddings"]
    unit = emb.select(
        F.aggregate(
            F.transform(normalize("embedding"), lambda x: x * x),
            F.lit(0.0),
            lambda s, t: s + t,
        ).alias("sq")
    ).collect()
    assert all(abs(r["sq"] - 1.0) < 1e-9 for r in unit)

    z = spark.createDataFrame([(1, [0.0] * 4)], "id long, embedding array<double>")
    assert z.select(normalize("embedding").alias("u")).first()["u"] == [0.0] * 4

    p1 = random_projection(emb, "embedding", "vec_id", k=8, seed=42).collect()
    p2 = random_projection(emb, "embedding", "vec_id", k=8, seed=42).collect()
    assert sorted(map(tuple, ((r["vec_id"], tuple(r["proj"])) for r in p1))) == sorted(
        map(tuple, ((r["vec_id"], tuple(r["proj"])) for r in p2))
    )
    assert all(len(r["proj"]) == 8 for r in p1)


def test_normalize_expr_matches_python_twin_elementwise(spark):
    """vamana's cosine tier depends on _normalize_expr (JVM fold) and
    _normalize_row (python) producing IDENTICAL floats — sweep random,
    tiny, huge, and zero vectors and compare raw doubles elementwise."""
    import random

    from pyspark.sql import functions as F

    from bustub_vectordb_spark.index.vamana import _normalize_expr, _normalize_row

    rng = random.Random(7)
    rows = []
    for i in range(200):
        scale = [1.0, 1e-150, 1e150, 1e-300][i % 4]
        rows.append((i, [rng.uniform(-1, 1) * scale for _ in range(16)]))
    rows.append((1000, [0.0] * 16))  # zero vector: guarded divide
    df = spark.createDataFrame(rows, "i long, v array<double>")
    got = {
        r["i"]: list(r["n"])
        for r in df.select("i", _normalize_expr(F.col("v")).alias("n")).collect()
    }
    for i, v in rows:
        assert got[i] == _normalize_row(v), i


def test_embedding_flags_planted_bad_rows(spark):
    """The validation gate's semantics on every bad-row class the clean
    testdata cannot exercise (the gated entry asserts the zero counts)."""
    from bustub_vectordb_spark.functions.vector import embedding_flags

    rows = [
        (1, [1.0, 2.0]),            # clean
        (2, None),                  # null
        (3, [1.0, 2.0, 3.0]),       # wrong dim
        (4, [float("nan"), 1.0]),   # NaN
        (5, [float("inf"), 1.0]),   # Inf
        (6, [0.0, 0.0]),            # zero norm
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    got = {
        r["id"]: (r["f"]["is_null"], r["f"]["wrong_dim"], r["f"]["nonfinite"], r["f"]["zero_norm"])
        for r in df.select("id", embedding_flags("v", 2).alias("f")).collect()
    }
    assert got[1] == (False, False, False, False)
    assert got[2][0] is True
    assert got[3] == (False, True, False, False)
    assert got[4] == (False, False, True, False)
    assert got[5] == (False, False, True, False)
    assert got[6] == (False, False, False, True)


def test_weighted_sample_proportional_and_deterministic(spark):
    """A-Res weighted sampling: heavy rows win far more often, and the
    sample is identical across runs (md5 uniforms, no RNG state)."""
    from bustub_vectordb_spark.operators.sampling import weighted_sample

    rows = [(i, 1000.0 if i % 10 == 0 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, w double")
    s1 = sorted(r["id"] for r in weighted_sample(df, "id", "w", 50).collect())
    s2 = sorted(r["id"] for r in weighted_sample(df, "id", "w", 50).collect())
    assert s1 == s2
    heavy = sum(1 for i in s1 if i % 10 == 0)
    assert heavy >= 40, heavy  # 10% of rows carry 99% of the weight
    # zero/negative weights never win
    dfz = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 5.0)], "id bigint, w double")
    assert [r["id"] for r in weighted_sample(dfz, "id", "w", 3).collect()] == [3]


def test_weighted_sample_no_id_bias_at_large_weights(spark):
    """Review finding: 6dp key rounding collapsed large-weight keys to 0.0
    and the id tie-break then picked the LOWEST ids. With equal huge
    weights the sample must not be the first k ids."""
    from bustub_vectordb_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 1_000_000.0) for i in range(2000)], "id bigint, w double"
    )
    got = sorted(r["id"] for r in weighted_sample(df, "id", "w", 50).collect())
    assert got != list(range(50)), "sample is id-ordered — key rounding collapsed"
    # and a NULL-element embedding is flagged nonfinite (second finding)
    from bustub_vectordb_spark.functions.vector import embedding_flags

    df2 = spark.createDataFrame([(1, [None, 1.0])], "id bigint, v array<double>")
    r = df2.select(embedding_flags("v", 2).alias("f")).collect()[0]["f"]
    assert r["nonfinite"] is True and r["zero_norm"] is False


# -------------------------------------------------------------------------
# fold.py: every Spark Column fold vs its Python / numpy twins, bit-for-bit
# -------------------------------------------------------------------------
_FOLD_DIM = 64


def _fold_cases():
    import numpy as np

    from bustub_vectordb_spark import fold

    def rows_l2(a, b):
        return fold.l2_sq_rows(a, b[0]), np.diagonal(fold.l2_sq_pairwise(a, b))

    def rows_dot(a, b):
        return (fold.dot_rows(a, b[0]),)

    def cos_score(v, c):
        return -(fold.dot(v, c) / (math.sqrt(fold.norm_sq(v)) * math.sqrt(fold.norm_sq(c))))

    # name -> (Column fold, Python scalar twin, numpy twins or None); the
    # numpy twins get (rows of a, row 0 of b repeated) and return one
    # value per row of a
    return {
        "l2_sq": (fold.col_l2_sq, fold.l2_sq, rows_l2),
        "dot": (fold.col_dot, fold.dot, rows_dot),
        "norm_sq": (lambda a, b: fold.col_norm_sq(a), lambda v, c: fold.norm_sq(v), None),
        "seq_sum": (lambda a, b: fold.col_seq_sum(a), lambda v, c: fold.seq_sum(v), None),
        "score_l2": (
            lambda a, b: fold.col_centroid_score("l2", a, b), fold.l2_sq, None,
        ),
        "score_ip": (
            lambda a, b: fold.col_centroid_score("ip", a, b),
            lambda v, c: -fold.dot(v, c),
            None,
        ),
        "score_cosine": (
            lambda a, b: fold.col_centroid_score("cosine", a, b), cos_score, None,
        ),
        "exact_l2": (
            lambda a, b: l2_dist(a, b), lambda v, c: fold.exact("l2", v, c), None,
        ),
        "exact_ip": (
            lambda a, b: inner_product(a, b),
            lambda v, c: fold.exact("ip", v, c),
            None,
        ),
        "exact_cosine": (
            lambda a, b: cosine_similarity(a, b),
            lambda v, c: fold.exact("cosine", v, c),
            None,
        ),
    }


@pytest.mark.parametrize("name", sorted(_fold_cases()))
def test_fold_twins_match_spark_bitwise(spark, name):
    """The Python and numpy twins of each fold.py Column fold return the
    SAME doubles Spark computes, on random 64-d rows — and the numpy forms
    do so on a fresh array and on a buffer offset by one float (the NOTES
    alignment hazard: BLAS reductions drift by an ulp there, the
    dimension-sequential folds must not)."""
    import numpy as np

    col_fold, py_twin, np_twins = _fold_cases()[name]
    rng = np.random.RandomState(17)
    n = 24
    a_mat = rng.standard_normal((n, _FOLD_DIM)) * 3.0
    b_mat = rng.standard_normal((n, _FOLD_DIM))
    a_rows, b_rows = a_mat.tolist(), b_mat.tolist()
    df = spark.createDataFrame(
        [(i, a_rows[i], b_rows[i], b_rows[0]) for i in range(n)],
        "id int, a array<double>, b array<double>, b0 array<double>",
    )
    rows = (
        df.select(
            "id",
            col_fold(F.col("a"), F.col("b")).alias("v"),
            col_fold(F.col("a"), F.col("b0")).alias("v0"),
        )
        .orderBy("id")
        .collect()
    )
    for i, r in enumerate(rows):
        assert r["v"] == py_twin(a_rows[i], b_rows[i]), (name, i)
    if np_twins is None:
        return
    # numpy forms score every row of a against row 0 of b
    want = [r["v0"] for r in rows]
    buf = np.empty(n * _FOLD_DIM + 1)
    buf[1:] = a_mat.ravel()
    offset = buf[1:].reshape(n, _FOLD_DIM)
    assert offset.ctypes.data % 16 == 8  # not 16-byte aligned
    for mat in (a_mat, offset):
        for vals in np_twins(mat, np.tile(b_mat[0], (n, 1))):
            assert [float(x) for x in vals] == want, name
