"""Scale-mechanics tests: salted joins preserve semantics; bucket-partitioned
IVFFlat storage turns probes into partition pruning."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def test_salted_join_matches_plain_join(spark):
    # 90% of the big side hits one key — the salted plan must still produce
    # exactly the plain join's rows
    big = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dim_val")
    )
    from bustub_vectordb_spark.operators.skew import salted_join

    plain = big.join(small, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )
    salted = salted_join(big, small, "k", salts=8).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_left_join_keeps_unmatched_big_rows(spark):
    big = spark.range(0, 100).select((F.col("id") % 7).alias("k"), "id")
    small = spark.createDataFrame([(0, "zero"), (1, "one")], "k long, name string")
    from bustub_vectordb_spark.operators.skew import salted_join

    out = salted_join(big, small, "k", salts=4, how="left")
    assert out.count() == 100
    assert out.filter(F.col("name").isNull()).count() == big.filter(
        ~F.col("k").isin(0, 1)
    ).count()


def test_ivfflat_probe_is_partition_pruning(spark, tables, tmp_path):
    """save() partitions assignments by bucket; a probe over the loaded index
    must prune partitions (PartitionFilters), not filter-scan every bucket."""
    from bustub_vectordb_spark.index.ivfflat import BUCKET_COL, IVFFlatIndex

    emb = tables["embeddings"]
    idx = IVFFlatIndex.build(emb, "embedding", lists=4, probe_lists=2, max_iter=3)
    idx.save(str(tmp_path / "ivf"))
    loaded = IVFFlatIndex.load(
        spark, str(tmp_path / "ivf"), "embedding", probe_lists=2
    )
    buckets = loaded.rank_buckets([0.0] * 64)[:2]
    probe_scan = loaded.assignments.filter(F.col(BUCKET_COL).isin(buckets))
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe_scan.explain("formatted")
    p = buf.getvalue()
    part_line = p.split("PartitionFilters")[1].splitlines()[0]
    assert BUCKET_COL in part_line and "IN" in part_line.upper()
    # the probe itself tests bucket membership with array_contains over a
    # literal array (fold.sql_int_in), and that still prunes partitions
    buf = io.StringIO()
    with redirect_stdout(buf):
        loaded.probe([0.0] * 64, 5).explain("formatted")
    part_line = buf.getvalue().split("PartitionFilters")[1].splitlines()[0]
    assert BUCKET_COL in part_line and "array_contains" in part_line
