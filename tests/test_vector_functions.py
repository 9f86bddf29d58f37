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
        for r in df.select("i", _normalize_expr("v").alias("n")).collect()
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
# fold.py: every SQL-text fold vs the Python / numpy twins,
# bit-for-bit
# -------------------------------------------------------------------------
_FOLD_DIM = 64
_MAX = 1.7976931348623157e308


def _bits(v):
    """Bit pattern of a double; every NaN is one value (payloads are not
    part of the contract)."""
    import struct

    return "nan" if v != v else struct.pack(">d", v).hex()


def _sql_lit(values) -> str:
    """SQL text of ``vec_lit``'s one-node literal."""
    import json

    return f"from_json('{json.dumps(values)}', 'array<double>')"


def _fold_rows():
    """24 random 64-d (a, b) row pairs; rows 1-9 carry -0.0, subnormals,
    ±max, NaN and ±inf, and row 9 an exactly-zero dot product (so the
    negated scores are -0.0). No row has a zero norm: a zero divisor is an
    error under ANSI."""
    import numpy as np

    rng = np.random.RandomState(17)
    n = 24
    a = rng.standard_normal((n, _FOLD_DIM)) * 3.0
    b = rng.standard_normal((n, _FOLD_DIM))
    inf, nan = float("inf"), float("nan")
    special = {
        1: {"a": {0: -0.0, 1: 0.0}, "b": {0: -0.0, 1: -0.0}},
        2: {"a": {2: 5e-324, 3: 2.2250738585072014e-308}, "b": {2: -2.5e-320, 3: 1e-310}},
        3: {"a": {4: _MAX}, "b": {}},
        4: {"a": {5: -_MAX}, "b": {5: _MAX}},
        5: {"a": {6: nan}, "b": {}},
        6: {"a": {7: inf}, "b": {}},
        7: {"a": {}, "b": {8: -inf}},
        8: {"a": {9: inf}, "b": {9: inf}},
    }
    for i, sides in special.items():
        for j, v in sides["a"].items():
            a[i, j] = v
        for j, v in sides["b"].items():
            b[i, j] = v
    a[9], b[9] = 0.0, 0.0
    a[9, 0], b[9, 1] = 1.5, -2.0
    return a, b


def _fold_cases():
    import numpy as np

    from bustub_vectordb_spark import fold

    def rows_l2(a, b):
        return fold.l2_sq_rows(a, b[0]), np.diagonal(fold.l2_sq_pairwise(a, b))

    def rows_dot(a, b):
        return (fold.dot_rows(a, b[0]),)

    def cos_score(v, c):
        return -(fold.dot(v, c) / (math.sqrt(fold.norm_sq(v)) * math.sqrt(fold.norm_sq(c))))

    def score(dist):
        return lambda a, b: fold.sql_centroid_score(dist, a, b)

    def exact(dist):
        return (
            lambda a, b: fold.sql_distance(dist, a, b),
            lambda v, c: fold.exact(dist, v, c),
            None,
        )

    # name -> (SQL-text fold over two operand texts, Python scalar twin,
    # numpy twins or None); the numpy twins get (rows of a, row 0 of b
    # repeated) and return one value per row of a
    return {
        "l2_sq": (fold.sql_l2_sq, fold.l2_sq, rows_l2),
        "dot": (fold.sql_dot, fold.dot, rows_dot),
        "norm_sq": (
            lambda a, b: fold.sql_norm_sq(a),
            lambda v, c: fold.norm_sq(v),
            None,
        ),
        "seq_sum": (
            lambda a, b: fold.sql_seq_sum(a),
            lambda v, c: fold.seq_sum(v),
            None,
        ),
        "score_l2": (score("l2"), fold.l2_sq, None),
        "score_ip": (score("ip"), lambda v, c: -fold.dot(v, c), None),
        "score_cosine": (score("cosine"), cos_score, None),
        "exact_l2": exact("l2"),
        "exact_ip": exact("ip"),
        "exact_cosine": exact("cosine"),
    }


# the public functions.vector distances of the exact folds
_PUBLIC = {"exact_l2": l2_dist, "exact_ip": inner_product, "exact_cosine": cosine_similarity}


@pytest.mark.parametrize("name", sorted(_fold_cases()))
def test_fold_twins_match_spark_bitwise(spark, name):
    """The Python and numpy twins of each fold.py fold return the SAME
    doubles Spark computes from the SQL-text fold (over columns, and over
    literals constant-folded on the driver) and, for the exact distances,
    from the public ``functions.vector`` form over column names and over
    literal vectors, on 64-d rows that include -0.0, subnormals, ±max, NaN
    and ±inf. The numpy forms are checked on a fresh array and on a buffer
    offset by one float (the NOTES alignment hazard: BLAS reductions drift
    by an ulp there, the dimension-sequential folds must not)."""
    import numpy as np

    from bustub_vectordb_spark import fold

    sql_fold, py_twin, np_twins = _fold_cases()[name]
    public = _PUBLIC.get(name)
    a_mat, b_mat = _fold_rows()
    n = len(a_mat)
    a_rows, b_rows = a_mat.tolist(), b_mat.tolist()
    df = spark.createDataFrame(
        [(i, a_rows[i], b_rows[i], b_rows[0]) for i in range(n)],
        "id int, a array<double>, b array<double>, b0 array<double>",
    )
    cols = [
        "id",
        F.expr(sql_fold(fold.sql_col("a"), fold.sql_col("b"))).alias("v"),
        F.expr(sql_fold(fold.sql_col("a"), fold.sql_col("b0"))).alias("v0"),
    ]
    if public is not None:
        cols.append(public("a", "b").alias("p"))
    rows = df.select(*cols).orderBy("id").collect()
    lit_cols = [
        F.expr(sql_fold(_sql_lit(a_rows[i]), _sql_lit(b_rows[i]))).alias(f"l{i}")
        for i in range(n)
    ]
    if public is not None:
        lit_cols += [public(a_rows[i], b_rows[i]).alias(f"pl{i}") for i in range(n)]
    lits = spark.range(1).select(*lit_cols).collect()[0]
    for i, r in enumerate(rows):
        want = _bits(py_twin(a_rows[i], b_rows[i]))
        got = [r["v"], lits[f"l{i}"]]
        if public is not None:
            got += [r["p"], lits[f"pl{i}"]]
        assert [_bits(g) for g in got] == [want] * len(got), (name, i)
    if np_twins is None:
        return
    # numpy forms score every row of a against row 0 of b
    want = [_bits(r["v0"]) for r in rows]
    buf = np.empty(n * _FOLD_DIM + 1)
    buf[1:] = a_mat.ravel()
    offset = buf[1:].reshape(n, _FOLD_DIM)
    assert offset.ctypes.data % 16 == 8  # not 16-byte aligned
    with np.errstate(all="ignore"):
        for mat in (a_mat, offset):
            for vals in np_twins(mat, np.tile(b_mat[0], (n, 1))):
                assert [_bits(float(x)) for x in vals] == want, name


def test_fold_operands_quote_names_and_struct_fields(spark):
    """An operand column whose name needs backticks (a space, a backtick)
    and a struct-field operand (``s.inner``) reach the same doubles as
    :func:`fold.l2_sq`, through the text fold and the public distance."""
    from bustub_vectordb_spark import fold

    a_mat, b_mat = _fold_rows()
    a_rows, b_rows = a_mat.tolist(), b_mat.tolist()
    df = spark.createDataFrame(
        [(i, a_rows[i], (b_rows[i],)) for i in range(len(a_rows))],
        "id int, `query vec` array<double>, s struct<inner: array<double>>",
    ).withColumnRenamed("query vec", "q`vec x")
    rows = df.select(
        "id",
        F.expr(
            fold.sql_l2_sq(fold.sql_operand("q`vec x"), fold.sql_operand("s.inner"))
        ).alias("sq"),
        l2_dist("q`vec x", "s.inner").alias("d"),
    ).orderBy("id").collect()
    for i, r in enumerate(rows):
        want = fold.l2_sq(a_rows[i], b_rows[i])
        assert _bits(r["sq"]) == _bits(want), i
        assert _bits(r["d"]) == _bits(math.sqrt(want)), i


def test_sql_int_in_matches_isin(spark):
    """``fold.sql_int_in`` keeps exactly the rows ``isin`` keeps, on int
    and bigint columns, with NULLs, for an empty set and for sets of one
    and of several values."""
    from bustub_vectordb_spark import fold

    df = spark.createDataFrame(
        [(i, None if i % 4 == 3 else i % 6) for i in range(24)], "id int, b int"
    )
    for col_type in ("int", "bigint"):
        typed = df.withColumn("b", F.col("b").cast(col_type))
        for values in ([], [2], [5, 0, 2]):
            want = typed.filter(F.col("b").isin(values)).select("id").collect()
            got = typed.filter(F.expr(fold.sql_int_in("b", values))).select("id").collect()
            assert sorted(got) == sorted(want), (col_type, values)


@pytest.mark.parametrize("dist", ["l2", "ip", "cosine"])
def test_rank_centroids_matches_spark_array_sort(spark, dist):
    """``fold.rank_centroids`` (driver-side routing of a point probe) ranks
    centroids exactly as the batch paths route in Spark:
    ``fold.sql_nearest_centroids``, an ``array_sort`` over
    (``sql_centroid_score``, index) structs. The
    centroid sets are ulp-close copies of one vector, so any differently
    rounded score (``math.dist`` against the l2² fold) reorders
    near-ties."""
    import numpy as np

    from bustub_vectordb_spark import fold

    rng = np.random.RandomState(23)
    rows = []
    for i in range(60):
        q = rng.standard_normal(8)
        base = rng.standard_normal(8)
        cents = []
        for _ in range(12):
            c = base.copy()
            for j in range(8):
                for _ in range(rng.randint(0, 4)):
                    c[j] = np.nextafter(c[j], np.inf if rng.rand() < 0.5 else -np.inf)
            cents.append(c.tolist())
        rows.append((i, q.tolist(), cents))
    df = spark.createDataFrame(rows, "id int, q array<double>, c array<array<double>>")
    ranked = F.expr(
        fold.sql_nearest_centroids(dist, fold.sql_col("q"), fold.sql_col("c"), 12)
    )
    got = {r["id"]: list(r["r"]) for r in df.select("id", ranked.alias("r")).collect()}
    for i, q, cents in rows:
        assert fold.rank_centroids(dist, cents, q) == got[i], (dist, i)


def test_sql_vec_lit_round_trips_bitwise(spark):
    """The one-node literals read back as the same doubles (sign of zero,
    subnormals, ±max, NaN, ±inf) with the array<double> type the Column
    literal had, containsNull included, for a vector and for a table."""
    from pyspark.sql.types import ArrayType, DoubleType

    from bustub_vectordb_spark.functions.vector import vecs_lit

    a_mat, _ = _fold_rows()
    vals = [x for row in a_mat[:10].tolist() for x in row]
    vals += [-_MAX, float("-inf"), -5e-324, 1e16, 0.1, 3]
    edge = [[1.5, -0.0, float("nan")], [5e-324, float("inf"), -_MAX]]
    df = spark.range(1).select(
        vec_lit(vals).alias("v"),
        vecs_lit([vals[:3], vals[3:8]]).alias("m"),
        vecs_lit(edge).alias("e"),
        F.array(*[F.lit(float(x)) for x in vals[:3]]).cast("array<double>").alias("c"),
    )
    assert df.schema["v"].dataType == ArrayType(DoubleType(), True)
    assert df.schema["v"].dataType == df.schema["c"].dataType
    assert df.schema["e"].dataType == ArrayType(ArrayType(DoubleType(), True), True)
    r = df.collect()[0]
    assert [_bits(x) for x in r["v"]] == [_bits(float(x)) for x in vals]
    for col, rows in (("m", (vals[:3], vals[3:8])), ("e", edge)):
        assert [[_bits(x) for x in row] for row in r[col]] == [
            [_bits(float(x)) for x in row] for row in rows
        ]
