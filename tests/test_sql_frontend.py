"""SQL front end: the reference's own .slt query shapes, run as SQL.

Statements below are the reference's vector ladder (test/sql/
vector.01-insert-scan.slt, vector.02-naive-knn.slt) — CREATE TABLE with
VECTOR(n), INSERT of ARRAY literals, distance operators <-> / <=> /
inner_product, subquery distance alias, ORDER BY dist LIMIT k — plus plan
checks that SQL-UDF distances stay native and top-n fuses.
"""

import io
from contextlib import redirect_stdout

import pytest

from bustub_vectordb_spark.sql import SqlEngine, rewrite


@pytest.fixture(scope="module")
def engine(spark):
    return SqlEngine(spark)


def test_rewrite_operators():
    r = rewrite("SELECT a <-> b FROM t")
    assert "zip_with(CAST(a AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>)" in r
    assert "(__x - __y) * (__x - __y)" in r and r.startswith("SELECT sqrt(")
    r = rewrite("ARRAY [1.0, 2.0] <=> v1")
    assert "array(1.0, 2.0)" in r and "__x * __x" in r  # cosine: dot / norms
    r = rewrite("SELECT v1, ARRAY [0.5, 1.0] <-> v1 as d FROM t1")
    assert r.startswith("SELECT v1, sqrt(") and r.endswith(" as d FROM t1")
    # function-call operands survive balanced-paren scanning
    r = rewrite("f(x, 1) <#> g(y)")
    assert "CAST(f(x, 1) AS ARRAY<DOUBLE>)" in r and "CAST(g(y) AS ARRAY<DOUBLE>)" in r


def test_distance_macro_under_tighter_operator(engine):
    """A macro expands to one self-contained operand: under ``/`` the
    cosine's own division must not re-associate with the outer one
    (``1 / dot / (‖a‖·‖b‖)`` would read 0.05 here, not 1.25)."""
    from bustub_vectordb_spark import fold

    cos = fold.exact("cosine", [1.0, 2.0], [2.0, 1.0])
    r = engine.execute(
        "SELECT 1 / cosine_similarity(ARRAY [1.0, 2.0], ARRAY [2.0, 1.0]) AS f, "
        "1 / (ARRAY [1.0, 2.0] <=> ARRAY [2.0, 1.0]) AS o, "
        "3 * inner_product(ARRAY [1.0, 2.0], ARRAY [2.0, 1.0]) / 2 AS i;"
    ).collect()[0]
    assert r["f"] == r["o"] == 1 / cos and abs(r["f"] - 1.25) < 1e-12
    assert r["i"] == 6.0


def test_vector01_insert_scan(engine):
    # SELECT with no FROM (Values plan node)
    r = engine.execute(
        "SELECT ARRAY [1.0, 1.0, 1.0] <-> ARRAY [-1.0, -1.0, -1.0] as distance;"
    ).collect()
    assert r[0]["distance"] == pytest.approx(12.0**0.5)
    r = engine.execute(
        "SELECT inner_product(ARRAY [1.0, 1.0, 1.0], ARRAY [-1.0, -1.0, -1.0]) as distance;"
    ).collect()
    assert r[0]["distance"] == -3.0

    engine.execute("CREATE TABLE t1(v1 VECTOR(3), v2 integer);")
    n = engine.execute(
        "INSERT INTO t1 VALUES (ARRAY [1.0, 1.0, 1.0], 1), (ARRAY [2.0, 1.0, 1.0], 2), "
        "(ARRAY [3.0, 1.0, 1.0], 3), (ARRAY [4.0, 1.0, 1.0], 4);"
    )
    assert n == 4
    assert engine.execute("SELECT * FROM t1;").count() == 4
    r = engine.execute(
        "SELECT v1, ARRAY [1.0, 1.0, 1.0] <-> v1 as distance FROM t1;"
    ).collect()
    assert sorted(x["distance"] for x in r) == [0.0, 1.0, 2.0, 3.0]


def test_vector02_naive_knn(engine):
    engine.execute("CREATE TABLE t2(v1 VECTOR(3), v2 integer);")
    engine.execute(
        "INSERT INTO t2 VALUES (ARRAY [-1.0, 1.0, 1.0], -1), (ARRAY [-2.0, 1.0, 1.0], -2), "
        "(ARRAY [-3.0, 1.0, 1.0], -3), (ARRAY [-4.0, 1.0, 1.0], -4), (ARRAY [1.0, 1.0, 1.0], 1), "
        "(ARRAY [2.0, 1.0, 1.0], 2), (ARRAY [3.0, 1.0, 1.0], 3), (ARRAY [4.0, 1.0, 1.0], 4);"
    )
    r = engine.execute(
        "SELECT v2 FROM t2 ORDER BY ARRAY [1.0, 1.0, 1.0] <-> v1 LIMIT 3;"
    ).collect()
    got = [x["v2"] for x in r]
    assert got[:2] == [1, 2] and got[2] in (-1, 3)  # d = 0, 1, then a 2-2 tie
    # subquery distance alias
    r = engine.execute(
        "SELECT * FROM (SELECT v2, ARRAY [0.5, 1.0, 1.0] <-> v1 as distance FROM t2) "
        "ORDER BY distance LIMIT 3;"
    ).collect()
    assert r[0]["v2"] == 1 and r[0]["distance"] == 0.5
    assert {x["v2"] for x in r[1:]} <= {-1, 2} and all(
        x["distance"] == 1.5 for x in r[1:]
    )


def test_explain_and_session_vars(engine):
    p = engine.execute(
        "EXPLAIN (s) SELECT v1 FROM t1 ORDER BY ARRAY [1.0, 1.0, 1.0] <-> v1 LIMIT 3;"
    )
    assert "TakeOrderedAndProject" in p  # the reference's TopN plan shape
    p = engine.execute(
        "EXPLAIN (o) SELECT v1 FROM t1 ORDER BY ARRAY [1.0, 1.0, 1.0] <-> v1 LIMIT 3;"
    )
    assert "GlobalLimit" in p  # optimized logical plan (reference mode o)
    engine.execute("SET vector_index_method = ivfflat;")
    r = engine.execute("SHOW vector_index_method;").collect()
    assert r[0]["value"] == "ivfflat"


def test_sql_distance_stays_native(engine, tables):
    tables["embeddings"].createOrReplaceTempView("emb_sql")
    df = engine.execute(
        "SELECT vec_id FROM emb_sql "
        "ORDER BY l2_dist(CAST(embedding AS ARRAY<DOUBLE>), array(0.1, 0.2)) LIMIT 5"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("extended")
    assert "BatchEvalPython" not in buf.getvalue()


def test_update_delete_slt_shapes(engine):
    """p3.03-update.slt / p3.04-delete.slt run through the SQL front end."""
    engine.execute("create table t3(v1 int, v2 varchar(128), v3 int);")
    n = engine.execute(
        "insert into t3 values (0, 'a', 10), (1, 'bb', 11), (2, 'ccc', 12), "
        "(3, 'dddd', 13), (4, 'eeeee', 14);"
    )
    assert n == 5
    n = engine.execute("update t3 set v3 = 445 where v1 >= 3;")
    assert n == 2  # affected-row count, like the reference's UpdateExecutor
    got = {
        (r["v1"], r["v3"]) for r in engine.execute("select v1, v3 from t3").collect()
    }
    assert got == {(0, 10), (1, 11), (2, 12), (3, 445), (4, 445)}
    n = engine.execute("delete from t3 where v1 >= 3")
    assert n == 2
    assert engine.execute("select * from t3").count() == 3
    # unconditional delete empties but keeps the table (p3.04 tail)
    n = engine.execute("delete from t3")
    assert n == 3
    assert engine.execute("select * from t3").count() == 0


def test_relational_sql_passthrough(engine, tables):
    tables["nation"].createOrReplaceTempView("nation_sql")
    r = engine.execute(
        "SELECT n_regionkey, count(*) AS n FROM nation_sql "
        "GROUP BY n_regionkey HAVING count(*) > 1 ORDER BY n_regionkey"
    ).collect()
    assert len(r) > 0


def test_meta_commands_list_tables_and_indexes(spark):
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt1(v1 VECTOR(3), v2 integer)")
    e.execute(
        "INSERT INTO mt1 VALUES (ARRAY [1.0,2.0,3.0], 1),"
        " (ARRAY [2.0,2.0,3.0], 2), (ARRAY [3.0,2.0,3.0], 3)"
    )
    e.execute(
        "CREATE INDEX mi1 ON mt1 USING ivfflat (v1 vector_l2_ops)"
        " WITH (lists = 2, probe_lists = 1)"
    )
    e.execute("CREATE INDEX mi2 ON mt1 (v2)")
    tables = {r["table"] for r in e.execute("\\dt").collect()}
    assert "mt1" in tables
    idx = {r["index"]: (r["method"], r["dist"]) for r in e.execute("\\di").collect()}
    assert idx["mi1"] == ("ivfflat", "l2")
    assert idx["mi2"][0] == "bplustree"
    help_lines = [r["help"] for r in e.execute("\\help").collect()]
    assert any("\\dt" in l for l in help_lines)
    assert any("vector_index_method" in l for l in help_lines)
    assert e.execute("\\dbgmvcc") is None  # MVCC out of scope (SURVEY §2.4)


def test_create_index_ops_class_sets_registry_dist(spark):
    """The parsed ops class must reach the registry — a cosine index
    registered as l2 would mis-route plan_knn's exact-distance-match
    preference (catalog.h:322-331 binds ops → distance fn)."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt2(v1 VECTOR(3), v2 integer)")
    e.execute(
        "INSERT INTO mt2 VALUES (ARRAY [1.0,2.0,3.0], 1),"
        " (ARRAY [2.0,2.0,3.0], 2), (ARRAY [3.0,2.0,3.0], 3)"
    )
    e.execute(
        "CREATE INDEX mc1 ON mt2 USING ivfflat (v1 vector_cosine_ops)"
        " WITH (lists = 2, probe_lists = 2)"
    )
    e.execute(
        "CREATE INDEX mc2 ON mt2 USING hnsw (v1 vector_ip_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8)"
    )
    idx = {r["index"]: (r["method"], r["dist"]) for r in e.execute("\\di").collect()}
    assert idx["mc1"] == ("ivfflat", "cosine")
    assert idx["mc2"] == ("hnsw", "ip")


def test_create_index_hnsw_routed_sq8(spark):
    """CREATE INDEX ... USING hnsw WITH (shards=2, sq8=1): the routed build
    quantizes its shard blobs (SQ8 codes), keeps default_n_probe, and the
    registered index still probes correctly."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt3(v1 VECTOR(3), v2 integer)")
    e.execute(
        "INSERT INTO mt3 VALUES (ARRAY [1.0,2.0,3.0], 1),"
        " (ARRAY [2.0,2.0,3.0], 2), (ARRAY [3.0,2.0,3.0], 3),"
        " (ARRAY [9.0,9.0,9.0], 4)"
    )
    e.execute(
        "CREATE INDEX ms1 ON mt3 USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2, sq8 = 1)"
    )
    idx = next(i for i in e.indexes.lookup("mt3", "v1") if i.name == "ms1").index
    assert "sq8_mins" in idx.params and idx.default_n_probe == 2
    hits = idx.probe([1.0, 2.0, 3.0], 2, rerank=e.catalog.tables["mt3"].df).collect()
    assert len(hits) == 2


def test_create_index_ivfpq(spark):
    """CREATE INDEX ... USING ivfflat WITH (pq=1): registers an IVF codes
    index in the PQ form whose probe serves exact reranked results from
    PQ-coded buckets."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt4(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {i % 3}.0, {i % 5}.0, {i % 7}.0], {i})" for i in range(40)
    )
    e.execute(f"INSERT INTO mt4 VALUES {rows}")
    e.execute(
        "CREATE INDEX mp1 ON mt4 USING ivfflat (v1 vector_l2_ops)"
        " WITH (lists = 2, probe_lists = 2, pq = 1, pq_m = 2, pq_k = 4)"
    )
    idx = next(i for i in e.indexes.lookup("mt4", "v1") if i.name == "mp1").index
    from bustub_vectordb_spark.similarity.ivfcodes import PQCodes

    assert isinstance(idx.form, PQCodes)
    assert idx.form.model.m == 2 and idx.form.model.k == 4
    hits = idx.probe([1.0, 1.0, 1.0, 1.0], 3).collect()
    assert len(hits) == 3


def test_create_index_ivfpq_rerank_reaches_probe(spark):
    """WITH (pq=1, rerank=R) sets the shortlist depth the probe uses, as
    it does for sq8=1: a one-row shortlist returns one row for k=3. A
    rerank below 1 is refused at DDL and at probe time."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt6(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {i % 3}.0, {i % 5}.0, {i % 7}.0], {i})" for i in range(40)
    )
    e.execute(f"INSERT INTO mt6 VALUES {rows}")
    e.execute(
        "CREATE INDEX mr1 ON mt6 USING ivfflat (v1 vector_l2_ops)"
        " WITH (lists = 2, probe_lists = 2, pq = 1, pq_m = 2, pq_k = 4, rerank = 1)"
    )
    idx = next(i for i in e.indexes.lookup("mt6", "v1") if i.name == "mr1").index
    assert idx.default_rerank == 1
    assert len(idx.probe([1.0, 1.0, 1.0, 1.0], 3).collect()) == 1
    assert len(idx.probe([1.0, 1.0, 1.0, 1.0], 3, rerank=12).collect()) == 3
    with pytest.raises(ValueError, match="rerank must be >= 1"):
        idx.probe([1.0, 1.0, 1.0, 1.0], 3, rerank=0)
    for form in ("pq = 1", "sq8 = 1"):
        with pytest.raises(ValueError, match="rerank must be >= 1"):
            e.execute(
                "CREATE INDEX mr2 ON mt6 USING ivfflat (v1 vector_l2_ops)"
                f" WITH (lists = 2, {form}, rerank = 0)"
            )


def test_create_index_ivfflat_refuses_bq(spark):
    """WITH (bq=1) on ivfflat names the option instead of building an
    unquantized index that ignores it (BQ codes have no DDL form)."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt7(v1 VECTOR(4), v2 integer)")
    e.execute("INSERT INTO mt7 VALUES (ARRAY [1.0, 2.0, 3.0, 4.0], 1)")
    with pytest.raises(ValueError, match="bq"):
        e.execute(
            "CREATE INDEX mb1 ON mt7 USING ivfflat (v1 vector_l2_ops)"
            " WITH (lists = 1, bq = 1)"
        )
    assert not e.indexes.lookup("mt7", "v1")


def test_create_index_refuses_unknown_with_keys(spark):
    """A WITH key the method's build does not read, or a key without a
    value, is refused by name on every vector method: WITH (lists = 1,
    probe_list = 4) used to build an ivfflat index with probe_lists = 1
    without a word."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt8(v1 VECTOR(4), v2 integer)")
    e.execute("INSERT INTO mt8 VALUES (ARRAY [1.0, 2.0, 3.0, 4.0], 1)")
    for method, opts, bad in (
        ("ivfflat", "lists = 1, probe_list = 4", "probe_list"),
        ("hnsw", "m = 4, ef_serch = 8", "ef_serch"),
        ("vamana", "shards = 2, cell = 2", "cell"),
    ):
        with pytest.raises(ValueError, match=f"{method} has no {bad} option.*WITH takes"):
            e.execute(
                f"CREATE INDEX mu1 ON mt8 USING {method} (v1 vector_l2_ops)"
                f" WITH ({opts})"
            )
    with pytest.raises(ValueError, match="ivfflat option sq8 needs a value"):
        e.execute(
            "CREATE INDEX mu1 ON mt8 USING ivfflat (v1 vector_l2_ops)"
            " WITH (lists = 1, sq8)"
        )
    assert not e.indexes.lookup("mt8", "v1")


@pytest.mark.parametrize(
    "method, opts, key, needs",
    [
        ("ivfflat", "lists = 1, pq_m = 2", "pq_m", "pq = 1"),
        ("ivfflat", "lists = 1, pq_k = 4", "pq_k", "pq = 1"),
        ("ivfflat", "lists = 1, pq = 0, pq_residual = 0", "pq_residual", "pq = 1"),
        ("ivfflat", "lists = 1, rerank = 3", "rerank", "sq8 = 1 or pq = 1"),
        ("hnsw", "m = 4, bq_rot_seed = 7", "bq_rot_seed", "bq = 1"),
        ("hnsw", "shards = 2, sq8 = 1, pq_m = 2", "pq_m", "pq = 1"),
    ],
)
def test_create_index_refuses_keys_without_their_tier(spark, method, opts, key, needs):
    """A WITH key that only configures another key's tier names the missing
    key instead of building an index that ignores it: WITH (lists = 2,
    pq_m = 2, rerank = 3) used to build a plain ivfflat index with no
    rerank depth."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mt9(v1 VECTOR(4), v2 integer)")
    e.execute("INSERT INTO mt9 VALUES (ARRAY [1.0, 2.0, 3.0, 4.0], 1)")
    with pytest.raises(ValueError, match=f"{method} option {key} needs {needs}"):
        e.execute(
            f"CREATE INDEX mn1 ON mt9 USING {method} (v1 vector_l2_ops) WITH ({opts})"
        )
    assert not e.indexes.lookup("mt9", "v1")


def test_insert_values_checks_types_and_vector_lengths(spark):
    """INSERT ... VALUES checks its rows on the driver: a vector of the
    wrong length for VECTOR(n) is refused by table, column, n and length
    (it used to be stored, and its NULL distance sorted it first in every
    KNN query), a NULL vector is stored, and a value that does not cast to
    the column type fails at INSERT. A refused INSERT stores no row."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE vl(id integer, v VECTOR(3))")
    assert e.execute("INSERT INTO vl VALUES (1, ARRAY[1.0, 2.0, 3.0]), (2, NULL)") == 2
    with pytest.raises(ValueError, match=r"vl: column v is VECTOR\(3\), got .* length 2"):
        e.execute("INSERT INTO vl VALUES (4, ARRAY[9.0, 9.0, 9.0]), (3, ARRAY[1.0, 2.0])")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        e.execute("INSERT INTO vl VALUES ('abc', ARRAY[1.0, 2.0, 3.0])")
    assert e.execute("INSERT INTO vl SELECT id + 10, v FROM vl") == 2
    got = e.execute("SELECT id, v FROM vl").collect()
    assert sorted((r["id"], r["v"]) for r in got if r["v"]) == [
        (1, [1.0, 2.0, 3.0]), (11, [1.0, 2.0, 3.0])
    ]
    assert sorted(r["id"] for r in got if r["v"] is None) == [2, 12]


@pytest.mark.parametrize(
    "opts",
    [
        "n_probe = 3",
        "sq8 = 1",
        "pq = 1",
        "pq_m = 2, pq = 1",
        "pq_k = 4, pq = 1",
        "pq_residual = 1, pq = 1",
        "bq = 1",
        "bq_rot_seed = 7, bq = 1",
        "rerank_mult = 8",
        "rerank_harvest_ef = 32",
    ],
)
def test_create_index_driver_hnsw_refuses_routed_keys(spark, opts):
    """A driver-mode hnsw build (no shards, under the driver-build row cap)
    serves one full-precision graph: it has no shards to probe, no codes
    and no rerank stage, so every key that configures those is refused by
    name. WITH (m = 4, sq8 = 1, n_probe = 3) used to register a plain
    graph with neither."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mr1(v1 VECTOR(4), v2 integer)")
    e.execute("INSERT INTO mr1 VALUES (ARRAY [1.0, 2.0, 3.0, 4.0], 1)")
    key = opts.split(" ")[0]
    with pytest.raises(ValueError, match=f"^{key} configures routed/sharded .*shards=N"):
        e.execute(
            f"CREATE INDEX mr2 ON mr1 USING hnsw (v1 vector_l2_ops) WITH (m = 4, {opts})"
        )
    assert not e.indexes.lookup("mr1", "v1")


def test_create_index_hnsw_routed_pq(spark):
    """CREATE INDEX ... USING hnsw WITH (shards=2, pq=1): the routed build
    PQ-quantizes its shard blobs (frozen codebooks in params), keeps
    default_n_probe, and the registered index still probes correctly."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mtpq(v1 VECTOR(3), v2 integer)")
    e.execute(
        "INSERT INTO mtpq VALUES (ARRAY [1.0,2.0,3.0], 1),"
        " (ARRAY [2.0,2.0,3.0], 2), (ARRAY [3.0,2.0,3.0], 3),"
        " (ARRAY [9.0,9.0,9.0], 4)"
    )
    e.execute(
        "CREATE INDEX mpq1 ON mtpq USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " pq = 1, pq_m = 3, pq_k = 4)"
    )
    idx = next(i for i in e.indexes.lookup("mtpq", "v1") if i.name == "mpq1").index
    # r9: routed pq=1 defaults to per-shard LOCAL books (books live in the
    # blobs; params record the mode + train knobs)
    assert idx.params.get("pq_local") == 1 and idx.default_n_probe == 2
    hits = idx.probe([1.0, 2.0, 3.0], 2, rerank=e.catalog.tables["mtpq"].df).collect()
    assert len(hits) == 2


def test_create_index_vamana(spark):
    """CREATE INDEX ... USING vamana: distributed single-graph merge build
    registers and serves KNN (SELECT ... ORDER BY <->) via the beam walk,
    including a filtered probe through the planner's allowed-set path."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mtv(v1 VECTOR(3), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {(i * 3) % 7}.0, {(i * 5) % 11}.0], {i})" for i in range(24)
    )
    e.execute(f"INSERT INTO mtv VALUES {rows}")
    e.execute(
        "CREATE INDEX mv1 ON mtv USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, min_lists = 1, alpha = 1.5)"
    )
    # the DiskANN knobs surface through DDL and freeze into params
    p = e.indexes.lookup("mtv", "v1")[0].index.params
    assert p["min_lists"] == 1 and p["alpha"] == 1.5
    got = e.execute(
        "SELECT v2 FROM mtv ORDER BY ARRAY [0.0,0.0,0.0] <-> v1 LIMIT 3"
    ).collect()
    assert [r["v2"] for r in got] == [0, 7, 11] or len(got) == 3
    from pyspark.sql import functions as F

    from bustub_vectordb_spark.index.selection import plan_knn

    df = e.catalog.tables["mtv"].df
    plan = plan_knn(e.indexes, "mtv", df, "v1", [0.0, 0.0, 0.0], 3)
    assert plan.strategy == "vector_index_scan(vamana)"
    assert len(plan.df.collect()) == 3
    # filtered probe routes through the allowed-set walk
    filt = plan_knn(
        e.indexes, "mtv", df, "v1", [0.0, 0.0, 0.0], 3,
        where=F.col("v2") % 2 == 0,
    )
    assert filt.strategy == "vector_index_scan(vamana)"
    assert all(r["v2"] % 2 == 0 for r in filt.df.join(df, on="v2").collect())


def test_create_index_vamana_pq(spark):
    """CREATE INDEX ... USING vamana WITH (pq=1): PQ-compressed serving —
    the registered index's driver graph holds only codes, and probes
    still serve exact-distance KNN through the planner."""
    from bustub_vectordb_spark.index.selection import plan_knn
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mtvq(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {(i * 3) % 7}.0, {(i * 5) % 11}.0, {i % 2}.0], {i})"
        for i in range(24)
    )
    e.execute(f"INSERT INTO mtvq VALUES {rows}")
    e.execute(
        "CREATE INDEX mvq1 ON mtvq USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, pq = 1, pq_m = 4, pq_k = 8)"
    )
    idx = next(i for i in e.indexes.lookup("mtvq", "v1") if i.name == "mvq1").index
    assert "pq_books" in idx.params
    g = idx._graph()
    assert g.vecs is None and g.pq_codes is not None
    df = e.catalog.tables["mtvq"].df
    plan = plan_knn(e.indexes, "mtvq", df, "v1", [0.0, 0.0, 0.0, 0.0], 3)
    assert plan.strategy == "vector_index_scan(vamana)"
    got = plan.df.collect()
    assert len(got) == 3 and got[0]["v2"] == 0  # exact reranked distances


def test_txn_statements_are_courtesy_noops(engine):
    """BEGIN/COMMIT/ABORT/ROLLBACK answer with the reference shell's
    unmanaged-mode one-cell messages (bustub_ddl.cpp:207-259) instead of a
    parse error; they change no state."""
    engine.execute("CREATE TABLE txt1 (x integer)")
    engine.execute("INSERT INTO txt1 VALUES (1)")
    out = engine.execute("BEGIN;")
    assert "managed txn mode" in out.collect()[0]["message"]
    for stmt in ("COMMIT", "abort;", "ROLLBACK"):
        out = engine.execute(stmt)
        assert "can only be used with txn" in out.collect()[0]["message"]
    assert engine.execute("SELECT * FROM txt1").count() == 1


def test_create_index_vamana_cells_partitioned_serving(spark):
    """CREATE INDEX ... USING vamana WITH (cells=N): explicit hand-off to
    cell-partitioned serving — the registered index is a routed sharded
    graph over the merged artifact and still answers KNN via the planner."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW
    from bustub_vectordb_spark.index.selection import plan_knn
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mtvc(v1 VECTOR(3), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {(i * 3) % 7}.0, {(i * 5) % 11}.0], {i})" for i in range(24)
    )
    e.execute(f"INSERT INTO mtvc VALUES {rows}")
    e.execute(
        "CREATE INDEX mvc1 ON mtvc USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, cells = 2, n_probe = 2)"
    )
    idx = next(i for i in e.indexes.lookup("mtvc", "v1") if i.name == "mvc1").index
    assert isinstance(idx, ShardedHNSW) and idx.default_n_probe == 2
    df = e.catalog.tables["mtvc"].df
    plan = plan_knn(e.indexes, "mtvc", df, "v1", [0.0, 0.0, 0.0], 3)
    assert plan.strategy == "vector_index_scan(vamana)"
    assert len(plan.df.collect()) == 3


def test_create_index_vamana_replicate_eps(spark):
    """WITH (replicate_eps=E[, replicate_cap=C]): SPANN closure
    assignment on the partitioned cut (r12) — implies the partitioned
    serving shape even without cells= (an opted-in replication must not
    be silently dropped on small tables), and stamps
    params['replicated'] so serving dedups cross-cell copies."""
    from bustub_vectordb_spark.index.hnsw import ShardedHNSW
    from bustub_vectordb_spark.index.selection import plan_knn
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mtvr(v1 VECTOR(3), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {(i * 3) % 7}.0, {(i * 5) % 11}.0], {i})" for i in range(24)
    )
    e.execute(f"INSERT INTO mtvr VALUES {rows}")
    e.execute(
        "CREATE INDEX mvr1 ON mtvr USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, cells = 2, n_probe = 2,"
        " replicate_eps = 0.25)"
    )
    idx = next(i for i in e.indexes.lookup("mtvr", "v1") if i.name == "mvr1").index
    assert isinstance(idx, ShardedHNSW) and idx.params["replicated"] is True
    df = e.catalog.tables["mtvr"].df
    plan = plan_knn(e.indexes, "mtvr", df, "v1", [0.0, 0.0, 0.0], 3)
    assert plan.strategy == "vector_index_scan(vamana)"
    hits = plan.df.collect()
    assert len(hits) == 3
    assert len({r["v2"] for r in hits}) == 3  # replicas deduped

    # replicate_eps ALONE (no cells=) still takes the partitioned shape
    e.execute(
        "CREATE INDEX mvr2 ON mtvr USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, replicate_eps = 0.25)"
    )
    idx2 = next(i for i in e.indexes.lookup("mtvr", "v1") if i.name == "mvr2").index
    assert isinstance(idx2, ShardedHNSW) and idx2.params["replicated"] is True


def test_create_index_vamana_cosine(spark):
    """CREATE INDEX ... USING vamana (col vector_cosine_ops): the merged
    graph builds over normalized copies and the registered index carries
    the cosine distance class for the planner."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mtvcos(v1 VECTOR(3), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i + 1}.0, {(i * 3) % 7}.0, {(i * 5) % 11}.0], {i})"
        for i in range(24)
    )
    e.execute(f"INSERT INTO mtvcos VALUES {rows}")
    e.execute(
        "CREATE INDEX mvcos1 ON mtvcos USING vamana (v1 vector_cosine_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3)"
    )
    info = next(i for i in e.indexes.lookup("mtvcos", "v1") if i.name == "mvcos1")
    assert info.dist == "cosine" and info.index.dist == "cosine"
    hits = info.index.probe([1.0, 1.0, 1.0], 3).collect()
    assert len(hits) == 3
    sims = [r["distance"] for r in hits]
    assert sims == sorted(sims, reverse=True)  # similarity, descending


def test_merge_into_upsert(engine):
    """ANSI MERGE upsert form: matched rows take the source's values,
    unmatched source rows insert, the return value is the source count."""
    engine.execute("create table mt(k int, v int);")
    engine.execute("insert into mt values (1, 10), (2, 20), (3, 30);")
    engine.execute("create table ms(k int, v int);")
    engine.execute("insert into ms values (2, 99), (4, 40);")
    n = engine.execute(
        "merge into mt using ms on mt.k = ms.k "
        "when matched then update set * when not matched then insert *;"
    )
    assert n == 2
    got = {(r["k"], r["v"]) for r in engine.execute("select k, v from mt").collect()}
    assert got == {(1, 10), (2, 99), (3, 30), (4, 40)}


def test_merge_on_term_validation(engine):
    engine.execute("create table mta(k int, v int);")
    engine.execute("create table mtb(k int, v int);")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="MERGE ON term"):
        engine.execute(
            "merge into mta using mtb on mta.k = 5 "
            "when matched then update set * when not matched then insert *;"
        )


def test_create_index_hnsw_routed_bq(spark):
    """CREATE INDEX ... USING hnsw WITH (shards=2, bq=1): the routed build
    1-bit-quantizes its shard blobs, keeps default_n_probe, and the
    registered index probes correctly with exact rerank."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mbq(v1 VECTOR(3), v2 integer)")
    e.execute(
        "INSERT INTO mbq VALUES (ARRAY [1.0,2.0,3.0], 1),"
        " (ARRAY [2.0,2.0,3.0], 2), (ARRAY [3.0,2.0,3.0], 3),"
        " (ARRAY [9.0,9.0,9.0], 4)"
    )
    e.execute(
        "CREATE INDEX mbq1 ON mbq USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2, bq = 1)"
    )
    idx = next(i for i in e.indexes.lookup("mbq", "v1") if i.name == "mbq1").index
    assert "bq_mins" in idx.params and idx.default_n_probe == 2
    hits = idx.probe([1.0, 2.0, 3.0], 2, rerank=e.catalog.tables["mbq"].df).collect()
    assert len(hits) == 2


def test_create_index_hnsw_routed_bq_rotated(spark):
    """WITH (bq=1, bq_rot_seed=S): the routed build rotates before
    sign-taking with the seeded orthonormal matrix, records the seed in
    params (save/load + insert re-derive the identical rotation), and the
    registered index probes correctly with exact rerank."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE mbqr(v1 VECTOR(3), v2 integer)")
    e.execute(
        "INSERT INTO mbqr VALUES (ARRAY [1.0,2.0,3.0], 1),"
        " (ARRAY [2.0,2.0,3.0], 2), (ARRAY [3.0,2.0,3.0], 3),"
        " (ARRAY [9.0,9.0,9.0], 4)"
    )
    e.execute(
        "CREATE INDEX mbqr1 ON mbqr USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " bq = 1, bq_rot_seed = 7)"
    )
    idx = next(i for i in e.indexes.lookup("mbqr", "v1") if i.name == "mbqr1").index
    assert idx.params["bq_rot_seed"] == 7 and "bq_mins" in idx.params
    hits = idx.probe([1.0, 2.0, 3.0], 2, rerank=e.catalog.tables["mbqr"].df).collect()
    assert len(hits) == 2 and hits[0]["distance"] == 0.0


def test_ddl_auto_shard_granularity(spark):
    """The auto-shard default is DATA-CHOSEN. Float tier: 25k rows/shard
    (r9 clean 600k sweep, drills/shard_ab_600k_clean_r9.json — at the DDL
    n_probe rule 25k is the recall winner, 0.984 vs 0.946 at 8k).
    QUANTIZED tiers (bq/pq): 5k rows/shard — 1-bit and coded shards are
    mode-limited, and the r9 1.2M drill measured BQ 0.406 -> 0.798 and
    local-PQ 0.678 -> 0.900 going 25k -> ~5k granularity with a 4.7x
    FASTER build (drills/drill_1200k_r9_pq_graph_*.json). Both clamp at
    1024 shards so 10^9-row tables don't mint millions of driver
    centroids — past the clamp, shards grow instead."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    assert e.HNSW_SHARD_TARGET_ROWS == 25_000
    assert e._auto_shards(30_000) == 2
    assert e._auto_shards(600_000) == 24
    assert e._auto_shards(2_200_000) == 88
    assert e._auto_shards(100_000_000) == 1024  # clamped
    assert e._auto_shards(10) == 2  # floor
    assert e.HNSW_SHARD_TARGET_ROWS_QUANTIZED == 5_000
    assert e._auto_shards(1_200_000, quantized=True) == 240
    assert e._auto_shards(600_000, quantized=True) == 120
    assert e._auto_shards(100_000_000, quantized=True) == 1024  # clamped


def test_merge_rejects_duplicate_source_keys(engine):
    engine.execute("create table mdt(k int, v int);")
    engine.execute("insert into mdt values (1, 10);")
    engine.execute("create table mds(k int, v int);")
    engine.execute("insert into mds values (1, 11), (1, 12);")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        engine.execute(
            "merge into mdt using mds on mdt.k = mds.k "
            "when matched then update set * when not matched then insert *;"
        )


def test_merge_delete_form(engine):
    engine.execute("create table mdd(k int, v int);")
    engine.execute("insert into mdd values (1, 10), (2, 20), (3, 30);")
    engine.execute("create table mdk(k int, v int);")
    engine.execute("insert into mdk values (2, 0), (9, 0);")
    n = engine.execute(
        "merge into mdd using mdk on mdd.k = mdk.k when matched then delete;"
    )
    assert n == 1
    got = {r["k"] for r in engine.execute("select k from mdd").collect()}
    assert got == {1, 3}


def test_merge_into_streaming_source(engine, tmp_path):
    """MERGE INTO t USING <stream>: a STREAMING source relation routes
    through the versioned foreachBatch sink (availableNow drain) and the
    merged state re-registers as the target (VERDICT r7 #6)."""
    spark = engine.spark
    engine.execute("create table smt(k int, v int);")
    engine.execute("insert into smt values (1, 10), (2, 20), (3, 30);")
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.createDataFrame([(2, 99), (4, 40)], "k int, v int").coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    stream = spark.readStream.schema("k int, v int").parquet(str(src_dir))
    engine.catalog.register("sms", stream)
    n = engine.execute(
        "merge into smt using sms on smt.k = sms.k "
        "when matched then update set * when not matched then insert *;"
    )
    assert n == 4
    got = {(r["k"], r["v"]) for r in engine.execute("select k, v from smt").collect()}
    assert got == {(1, 10), (2, 99), (3, 30), (4, 40)}


@pytest.mark.slow
def test_ddl_pq_residual_defaults(spark):
    """r9 default flip: WITH (pq=1) builds RESIDUAL codes on every tier
    (IVFADC for ivfflat, routing-centroid centers for routed hnsw,
    entry-cell centers for vamana); pq_residual=0 opts back into the
    global-codebook mode."""
    from bustub_vectordb_spark.similarity.ivfcodes import PQCodes
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE pr(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {i % 3}.0, {i % 5}.0, {i % 7}.0], {i})" for i in range(40)
    )
    e.execute(f"INSERT INTO pr VALUES {rows}")

    # ivfflat: residual by default, opt-out honored
    e.execute(
        "CREATE INDEX pr1 ON pr USING ivfflat (v1 vector_l2_ops)"
        " WITH (lists = 2, probe_lists = 2, pq = 1, pq_m = 2, pq_k = 4)"
    )
    idx = next(i for i in e.indexes.lookup("pr", "v1") if i.name == "pr1").index
    assert isinstance(idx.form, PQCodes) and idx.form.residual is True
    assert len(idx.probe([1.0, 1.0, 1.0, 1.0], 3).collect()) == 3
    e.execute(
        "CREATE INDEX pr2 ON pr USING ivfflat (v1 vector_l2_ops)"
        " WITH (lists = 2, probe_lists = 2, pq = 1, pq_m = 2, pq_k = 4,"
        " pq_residual = 0)"
    )
    idx2 = next(i for i in e.indexes.lookup("pr", "v1") if i.name == "pr2").index
    assert idx2.form.residual is False

    # routed hnsw: per-shard LOCAL books by default (r9 drill ordering);
    # pq_residual=1 still selects the global-model residual mode
    e.execute(
        "CREATE INDEX pr3 ON pr USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " pq = 1, pq_m = 2, pq_k = 4)"
    )
    idx3 = next(i for i in e.indexes.lookup("pr", "v1") if i.name == "pr3").index
    assert idx3.params.get("pq_local") == 1
    hits = idx3.probe([1.0, 1.0, 1.0, 1.0], 2, rerank=e.catalog.tables["pr"].df)
    assert len(hits.collect()) == 2
    e.execute(
        "CREATE INDEX pr3r ON pr USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " pq = 1, pq_m = 2, pq_k = 4, pq_residual = 1)"
    )
    idx3r = next(i for i in e.indexes.lookup("pr", "v1") if i.name == "pr3r").index
    assert idx3r.params.get("pq_residual") == 1

    # vamana: entry-cell centers frozen into params
    e.execute(
        "CREATE INDEX pr4 ON pr USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, pq = 1, pq_m = 2, pq_k = 4)"
    )
    idx4 = next(i for i in e.indexes.lookup("pr", "v1") if i.name == "pr4").index
    assert idx4.params.get("pq_centers")
    assert len(idx4.probe([1.0, 1.0, 1.0, 1.0], 3).collect()) == 3


def test_ddl_explicit_pq_residual_needs_multi_entry(spark):
    """r10 guard: WITH (pq_residual = 1) on a single-entry vamana build
    (entry_points = 1 — no frozen entry-cell centers) must fail loud
    instead of silently training global codebooks; the implicit default
    still downgrades gracefully."""
    import pytest

    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE prx(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {i % 3}.0, {i % 5}.0, {i % 7}.0], {i})" for i in range(40)
    )
    e.execute(f"INSERT INTO prx VALUES {rows}")
    with pytest.raises(ValueError, match="pq_residual=1 requires"):
        e.execute(
            "CREATE INDEX prx1 ON prx USING vamana (v1 vector_l2_ops)"
            " WITH (shards = 2, r = 6, entry_points = 1,"
            " pq = 1, pq_m = 2, pq_k = 4, pq_residual = 1)"
        )
    # implicit default on the same single-entry build: graceful global-book
    # downgrade, probes still serve
    e.execute(
        "CREATE INDEX prx2 ON prx USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, r = 6, entry_points = 1, pq = 1, pq_m = 2, pq_k = 4)"
    )
    idx = next(i for i in e.indexes.lookup("prx", "v1") if i.name == "prx2").index
    assert not (idx.params or {}).get("entry_ids")
    assert len(idx.probe([1.0, 1.0, 1.0, 1.0], 3).collect()) == 3


def test_ddl_vamana_pq_cell_books(spark):
    """r11: WITH (pq = 1, pq_cell_books = 1[, cells = N]) builds per-CELL
    local codebooks — the merged graph partitions FIRST (float shells),
    then each cell shell trains books on its own member rows. Implies the
    partitioned serving shape; conflicts with pq_residual=1."""
    import pytest

    from bustub_vectordb_spark.index.hnsw import ShardedHNSW
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE pcb(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {i % 3}.0, {i % 5}.0, {i % 7}.0], {i})" for i in range(40)
    )
    e.execute(f"INSERT INTO pcb VALUES {rows}")
    e.execute(
        "CREATE INDEX pcb1 ON pcb USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, cells = 2, n_probe = 2,"
        " pq = 1, pq_m = 2, pq_k = 4, pq_cell_books = 1)"
    )
    idx = next(i for i in e.indexes.lookup("pcb", "v1") if i.name == "pcb1").index
    assert isinstance(idx, ShardedHNSW)
    assert idx.params.get("pq_local") == 1
    assert "pq_books" not in (idx.params or {})  # no global/residual books
    hits = idx.probe(
        [1.0, 1.0, 1.0, 1.0], 3, rerank=e.catalog.tables["pcb"].df
    )
    assert len(hits.collect()) == 3
    # cells omitted: pq_cell_books still implies the partitioned shape
    e.execute(
        "CREATE INDEX pcb2 ON pcb USING vamana (v1 vector_l2_ops)"
        " WITH (shards = 2, m = 4, ef_construction = 16, ef_search = 16,"
        " r = 6, overlap_eps = 0.3, pq = 1, pq_m = 2, pq_k = 4,"
        " pq_cell_books = 1)"
    )
    idx2 = next(i for i in e.indexes.lookup("pcb", "v1") if i.name == "pcb2").index
    assert isinstance(idx2, ShardedHNSW) and idx2.params.get("pq_local") == 1
    with pytest.raises(ValueError, match="pq_cell_books"):
        e.execute(
            "CREATE INDEX pcb3 ON pcb USING vamana (v1 vector_l2_ops)"
            " WITH (shards = 2, r = 6, cells = 2, pq = 1, pq_m = 2,"
            " pq_k = 4, pq_cell_books = 1, pq_residual = 1)"
        )


@pytest.mark.slow
def test_ddl_past_clamp_rerank_escalation(spark, monkeypatch):
    """r10: past the 1024-shard clamp, quantized shards grow beyond mode
    granularity again and rerank depth is the remaining recall knob
    (measured at 2.2M rows: BQ rerank_mult 4->16 lifted recall
    0.478->0.718 at identical serving wall-clock). The DDL must stamp
    params['rerank_mult_default'] scaled to the rows/shard excess; WITH
    (rerank_mult=N) pins it; the target is monkeypatched so a tiny table
    exercises the past-clamp geometry."""
    from bustub_vectordb_spark.sql import SqlEngine

    monkeypatch.setattr(SqlEngine, "HNSW_SHARD_TARGET_ROWS_QUANTIZED", 10)
    e = SqlEngine(spark)
    e.execute("CREATE TABLE rk(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {i % 3}.0, {i % 5}.0, {i % 7}.0], {i})" for i in range(40)
    )
    e.execute(f"INSERT INTO rk VALUES {rows}")

    # 40 rows / 2 shards = 20 rows/shard over a target of 10 -> ratio 2:
    # BQ escalates 16 -> 32
    e.execute(
        "CREATE INDEX rk1 ON rk USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2, bq = 1)"
    )
    idx = next(i for i in e.indexes.lookup("rk", "v1") if i.name == "rk1").index
    assert idx.params.get("rerank_mult_default") == 32
    assert idx._rerank_mult(None) == 32
    assert idx._rerank_mult(4) == 4  # explicit probe-time arg always wins
    # r11: past-clamp escalation deepens the WALK too (the visited-set
    # harvest needs a wider visited set to feed the escalated shortlist
    # — 6M sweep: recall saturates at ef 160)
    assert idx.params.get("rerank_harvest_ef") == 160
    assert idx._serve_ef(None) == 160
    assert idx._serve_ef(96) == 96  # explicit probe-time ef always wins

    # PQ escalates from base 4 -> 8 at the same ratio
    e.execute(
        "CREATE INDEX rk2 ON rk USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " pq = 1, pq_m = 2, pq_k = 4)"
    )
    idx2 = next(i for i in e.indexes.lookup("rk", "v1") if i.name == "rk2").index
    assert idx2.params.get("rerank_mult_default") == 8

    # WITH (rerank_mult=N) pins the default regardless of geometry
    e.execute(
        "CREATE INDEX rk3 ON rk USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " bq = 1, rerank_mult = 24)"
    )
    idx3 = next(i for i in e.indexes.lookup("rk", "v1") if i.name == "rk3").index
    assert idx3.params.get("rerank_mult_default") == 24
    # a pinned rerank_mult skips the escalation block entirely — no walk
    # stamp; WITH (rerank_harvest_ef=N) sets it independently
    assert idx3.params.get("rerank_harvest_ef") is None
    e.execute(
        "CREATE INDEX rk4 ON rk USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " bq = 1, rerank_mult = 24, rerank_harvest_ef = 96)"
    )
    idx4 = next(i for i in e.indexes.lookup("rk", "v1") if i.name == "rk4").index
    assert idx4.params.get("rerank_harvest_ef") == 96
    assert idx4._serve_ef(None) == 96
    assert idx3._rerank_mult(None) == 24

    # a probe over the escalated index still serves (the deep shortlist is
    # broadcast-sized: n_probe x k x mult rows)
    hits = idx.probe([1.0, 1.0, 1.0, 1.0], 3, rerank=e.catalog.tables["rk"].df)
    assert len(hits.collect()) == 3


def test_ddl_rerank_opts_validated_every_tier(spark):
    """ADVICE r11 (low x3): misconfigured serving options must fail at
    CREATE INDEX time instead of silently dropping — (a) pq_cell_books
    without pq=1 built an UNQUANTIZED index at the quantized cell target,
    (b) rerank_mult/rerank_harvest_ef inside the pq/bq-only gate were
    dropped on sq8 and unquantized routed builds (both of which serve
    probe(rerank=...) and honor the stamps tier-independently), (c) the
    driver-mode build has no rerank stage at all."""
    from bustub_vectordb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.execute("CREATE TABLE vr(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {i % 3}.0, {i % 5}.0, {i % 7}.0], {i})"
        for i in range(40)
    )
    e.execute(f"INSERT INTO vr VALUES {rows}")

    # (a) pq_cell_books is a PQ codebook STRATEGY — requires pq=1
    with pytest.raises(ValueError, match="pq_cell_books=1 requires pq=1"):
        e.execute(
            "CREATE INDEX bad1 ON vr USING vamana (v1 vector_l2_ops)"
            " WITH (pq_cell_books = 1)"
        )

    # (b) explicit stamps are honored on sq8 AND unquantized routed builds
    e.execute(
        "CREATE INDEX vr1 ON vr USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " sq8 = 1, rerank_mult = 8, rerank_harvest_ef = 32)"
    )
    idx = next(i for i in e.indexes.lookup("vr", "v1") if i.name == "vr1").index
    assert idx.params.get("rerank_mult_default") == 8
    assert idx.params.get("rerank_harvest_ef") == 32
    assert idx._rerank_mult(None) == 8 and idx._serve_ef(None) == 32
    e.execute(
        "CREATE INDEX vr2 ON vr USING hnsw (v1 vector_l2_ops)"
        " WITH (m = 4, ef_construction = 8, ef_search = 8, shards = 2,"
        " rerank_mult = 6)"
    )
    idx2 = next(i for i in e.indexes.lookup("vr", "v1") if i.name == "vr2").index
    assert idx2.params.get("rerank_mult_default") == 6

    # invalid values fail loud on every tier
    with pytest.raises(ValueError, match="rerank_harvest_ef must be >= 1"):
        e.execute(
            "CREATE INDEX bad2 ON vr USING hnsw (v1 vector_l2_ops)"
            " WITH (shards = 2, bq = 1, rerank_harvest_ef = 0)"
        )

    # (c) driver-mode build (no shards opt, under the row cap) has no
    # rerank serving stage — reject rather than drop
    with pytest.raises(ValueError, match="routed/sharded rerank"):
        e.execute(
            "CREATE INDEX bad3 ON vr USING hnsw (v1 vector_l2_ops)"
            " WITH (m = 4, rerank_mult = 8)"
        )

    # a stale/hand-written 0 stamp fails loud at read time, not a silent
    # k-deep rerank (ADVICE: pre-r11 saves carrying rerank_mult_default=0)
    idx.params["rerank_mult_default"] = 0
    with pytest.raises(ValueError, match="rerank_mult_default"):
        idx._rerank_mult(None)


@pytest.mark.slow
def test_ddl_pql_auto_cells_mode_floor(spark, monkeypatch):
    """r12 (VERDICT r11 #4): WITH (pq=1, pq_cell_books=1) and no explicit
    cells must floor the auto cell count at the corpus's measured mode
    structure (estimate_modes) — the rows/cell target alone can land the
    pql tier coarser than the modes, exactly where per-cell books collapse
    (1.2M drill: 0.726@16 at 4-modes/cell vs 0.918 at mode granularity).
    The unpinned n_probe scales with the raise so the probed fraction
    holds; explicit cells= still wins; flat corpora (estimate 2) keep the
    row target."""
    from bustub_vectordb_spark import sql as sqlmod
    from bustub_vectordb_spark.index import ivfflat as ivfmod
    from bustub_vectordb_spark.sql import SqlEngine

    monkeypatch.setattr(SqlEngine, "PQL_MIN_CELL_ROWS", 5)
    calls = {}

    def fake_estimate(df, vec_col, order_col, **kw):
        calls["n"] = calls.get("n", 0) + 1
        return 6

    monkeypatch.setattr(ivfmod, "estimate_modes", fake_estimate)
    e = SqlEngine(spark)
    e.execute("CREATE TABLE pqlt(v1 VECTOR(4), v2 integer)")
    rows = ", ".join(
        f"(ARRAY [{i}.0, {(i * 7) % 11}.0, {(i * 3) % 5}.0, {i % 2}.0], {i})"
        for i in range(60)
    )
    e.execute(f"INSERT INTO pqlt VALUES {rows}")

    # auto cells for 60 rows = 2; mode floor raises to 6, n_probe scales
    e.execute(
        "CREATE INDEX pql1 ON pqlt USING vamana (v1 vector_l2_ops)"
        " WITH (pq = 1, pq_cell_books = 1, pq_m = 2, pq_k = 4,"
        " entry_points = 4)"
    )
    idx = next(i for i in e.indexes.lookup("pqlt", "v1") if i.name == "pql1").index
    assert calls["n"] == 1
    assert len(idx.centroids) == 6
    assert idx.default_n_probe == 6  # ceil(2 * 6 / 2)

    # explicit cells= pins — no estimation call
    e.execute(
        "CREATE INDEX pql2 ON pqlt USING vamana (v1 vector_l2_ops)"
        " WITH (pq = 1, pq_cell_books = 1, pq_m = 2, pq_k = 4,"
        " entry_points = 4, cells = 3, n_probe = 2)"
    )
    idx2 = next(i for i in e.indexes.lookup("pqlt", "v1") if i.name == "pql2").index
    assert calls["n"] == 1
    assert len(idx2.centroids) == 3
    assert idx2.default_n_probe == 2
