"""Catalog: table registry with declared schemas and VECTOR(n) discipline.

The reference keeps an in-memory catalog mapping table name → {schema, heap}
plus a per-table index map (ref: src/include/catalog/catalog.h:46-120). Spark
has a catalog for tables/views but no index catalog, so this module provides:

  * ``Catalog`` — name → DataFrame registry (backed by temp views so Spark SQL
    works too), with declared ``StructType`` schemas and per-column type
    metadata.
  * ``VectorType`` discipline — the reference's ``VECTOR(n)`` column type
    (ref: src/include/type/vector_type.h:25-66) maps to
    ``ArrayType(DoubleType())`` with the fixed length ``n`` tracked as catalog
    metadata and enforceable via :func:`check_vector_length`.
  * index registry hooks — vector indexes are *derived tables* (centroids /
    assignments / graph edges) registered alongside their base table; see
    ``bustub_vectordb_spark.index.registry``.

DECIMAL in the reference is IEEE double (ref: src/include/type/value_factory.h:52),
so the engine never uses Spark DecimalType.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Reference type system → Spark (ref: src/include/type/type_id.h:17).
TYPE_MAP: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    # DECIMAL is stored as C++ double in the reference — never Spark DecimalType.
    "decimal": T.DoubleType(),
    "double": T.DoubleType(),
    "varchar": T.StringType(),
    "timestamp": T.TimestampType(),
}


def vector_type() -> T.ArrayType:
    """Spark type for the reference's VECTOR(n): array<double>."""
    return T.ArrayType(T.DoubleType())


@dataclass
class TableInfo:
    name: str
    df: DataFrame
    schema: T.StructType
    # column name → declared vector length for VECTOR(n) columns
    vector_lengths: dict[str, int] = field(default_factory=dict)


class Catalog:
    """Name → table registry over a SparkSession.

    Tables are also registered as temp views so ``spark.sql`` sees them;
    the engine's own metadata (vector lengths, indexes) lives here because
    Spark's catalog cannot carry it.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, TableInfo] = {}

    # -- DDL ---------------------------------------------------------------
    def create_table(
        self,
        name: str,
        columns: list[tuple[str, str]],
        rows: list[tuple] | None = None,
    ) -> TableInfo:
        """CREATE TABLE from (col_name, type_string) pairs.

        Type strings use the reference dialect: ``int``, ``varchar(128)``,
        ``decimal``, ``vector(3)`` … (ref: src/binder/bind_create.cpp:90-97).
        """
        fields, vec_lens = [], {}
        for col, type_str in columns:
            base = type_str.split("(")[0].strip().lower()
            if base == "vector":
                n = int(type_str.split("(")[1].rstrip(") "))
                vec_lens[col] = n
                fields.append(T.StructField(col, vector_type()))
            elif base in TYPE_MAP:
                fields.append(T.StructField(col, TYPE_MAP[base]))
            else:
                raise ValueError(f"unsupported type: {type_str}")
        schema = T.StructType(fields)
        df = self.spark.createDataFrame(rows or [], schema)
        return self.register(name, df, vector_lengths=vec_lens)

    def register(
        self, name: str, df: DataFrame, vector_lengths: dict[str, int] | None = None
    ) -> TableInfo:
        info = TableInfo(name, df, df.schema, vector_lengths or {})
        self.tables[name] = info
        df.createOrReplaceTempView(name)
        return info

    def insert(self, name: str, rows: list[tuple]) -> int:
        """INSERT VALUES — union new literal rows into the registered table.

        Mirrors InsertExecutor semantics incl. the reference quirk that
        existing ANN indexes are NOT auto-updated (ref:
        src/execution/insert_executor.cpp:44); callers append to indexes
        explicitly via IVFFlatIndex.insert / HNSWIndex.insert.
        """
        info = self.tables[name]
        new = self.spark.createDataFrame(rows, info.schema)
        self.register(name, info.df.unionAll(new), info.vector_lengths)
        return len(rows)

    def table(self, name: str) -> DataFrame:
        return self.tables[name].df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Enforce the engine's events.ts contract: BIGINT nanoseconds since epoch.

    Driver testdata has shipped the column both as TIMESTAMP(NANOS) parquet
    (reads as long under the nanosAsLong legacy conf) and as timestamp[us]
    (reads as TIMESTAMP_NTZ). Normalize timestamps to ns-epoch integers
    timezone-independently so every downstream operator — and the DuckDB
    oracles' epoch_ns(ts), which treats naive timestamps as epoch-relative —
    sees identical values regardless of spark.sql.session.timeZone."""
    kind = df.schema["ts"].dataType.simpleString()
    if kind == "timestamp_ntz":
        ns = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
        )
    elif kind == "timestamp":
        ns = F.unix_micros(F.col("ts")) * 1000
    else:  # already integral (TIMESTAMP(NANOS) under nanosAsLong, or bigint)
        return df
    return df.withColumn("ts", ns.cast("long"))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; events.parquet carries event time (see
    normalize_events_ts for the type contract)."""
    if name == "events":
        # harmless for timestamp[us] files; required for TIMESTAMP(NANOS) ones
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Convenience: dict of all testdata tables (no Catalog instance)."""
    return {t: read_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def check_vector_length(df: DataFrame, col: str, n: int) -> DataFrame:
    """Enforce the VECTOR(n) fixed-length invariant.

    Spark arrays are unbounded; the reference enforces length at insert
    (ref: src/type/vector_type.cpp). Raises on violation via a filter count —
    used by tests and DDL paths, not on the hot query path.
    """
    bad = df.filter(F.size(F.col(col)) != n).limit(1).count()
    if bad:
        raise ValueError(f"column {col} violates VECTOR({n}) length invariant")
    return df
