"""Table catalog for the driver-generated parquet testdata.

The reference's ``Table`` is a name -> per-field ring-buffer registry
with a declared-but-unenforced schema (reference src/storage/table.rs:
11-30 — ``field_size_bytes`` is never validated). This engine replaces
that with strict, declared StructTypes validated at load time: unknown
or missing columns are an error, not a silent drop (the reference drops
unknown fields at src/storage/table.rs:62,71).

Scale note: loading is a metadata operation — Spark plans a parquet scan
with column pruning + predicate pushdown; nothing is materialized here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_rust_timeseries_db_spark import session_cache

# ``events.ts`` is epoch-NANOS LongType in the ENGINE schema (the
# reference's native unit is ns, reference
# src/tests/integration_test.rs:169-173; Spark's TimestampType is
# µs-precision). The testdata file has shipped it two ways across
# driver rounds — parquet TIMESTAMP(NANOS) (read as long via
# spark.sql.legacy.parquet.nanosAsLong) and parquet timestamp[us]
# (read as TIMESTAMP_NTZ) — so ``load_table`` normalizes whatever the
# file yields to epoch-nanos long at the catalog boundary; every
# downstream operator and oracle sees one stable unit.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),  # epoch nanos
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),  # JSON-in-string
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def _ensure_read_confs(spark: SparkSession) -> None:
    """The driver may hand us a vanilla session; reads depend on these.

    UTC session time makes the TIMESTAMP_NTZ -> TIMESTAMP cast in
    ``_ts_to_epoch_nanos`` an identity on the wall clock (epoch = the
    NTZ value read as UTC, matching DuckDB's epoch_us over the same
    file); nanosAsLong covers the TIMESTAMP(NANOS) variant of the file.
    """
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass


def _ts_to_epoch_nanos(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to epoch-nanos long whatever the file yielded."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):  # TIMESTAMP(NANOS) via nanosAsLong
        return df
    # timestamp[us] (NTZ or tz-adjusted): epoch-µs * 1000. Lossless —
    # the file has no sub-µs precision to lose.
    return df.withColumn(
        "ts", (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
    )


def _file_schema(path: str) -> T.StructType:
    """The Spark read schema for a parquet path, from the footer via
    pyarrow instead of Spark's inference job.

    Equivalent to what ``spark.read.parquet`` infers (pinned field-by-
    field for every testdata table by tests/test_catalog.py) but
    ~5-60x faster per first load: pyarrow's footer read is ~2 ms in-process, while Spark's
    inference spins a JVM job (~0.1-1.4 s on a cold session).
    TIMESTAMP(NANOS) maps to LongType — the same shape the
    ``nanosAsLong`` conf (set in ``_ensure_read_confs``) makes Spark's
    own reader produce. At cluster scale the catalog would come from a
    metastore with declared schemas; either way the scan never pays
    per-query inference."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import from_arrow_type

    fields = []
    for f in papq.read_schema(path):
        if (pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                and f.type.tz is None):
            st: T.DataType = T.LongType()
        else:
            st = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(T.StructField(f.name, st, f.nullable))
    return T.StructType(fields)


def read_schema(spark: SparkSession, path: str) -> T.StructType:
    """:func:`_file_schema`, or Spark's own inference where pyarrow can't
    resolve the footer."""
    try:
        return _file_schema(path)
    except Exception:
        # E.g. a Spark-written DIRECTORY table, where pq.read_schema(path)
        # raises, or an arrow type from_arrow_type can't map: slower on
        # first load, always correct.
        return spark.read.parquet(path).schema


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk byte size of a testdata table (file or directory tables).

    The zero-cost input for size-gated strategy cutovers at the query
    layer (a Catalyst estimate costs a driver-side optimizer pass per
    call; a stat() doesn't). Returns -1 when the table can't be sized —
    callers must treat unknown as "too big" and take the strategy that
    is safe at any scale. Parquet bytes UNDERESTIMATE in-memory size
    (compression + encoding, typically 2-5x), so budgets compared
    against this must be set well below their in-memory equivalents.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
        return os.path.getsize(path)
    except OSError:
        return -1


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTERS (metadata read, no scan).

    The zero-cost input for count-gated sketch sizing (e.g. scaling a
    CMS grid's width with the input so a fixed threshold gate stays
    discriminating — queries/analytic._user_cms_ckpt). Returns -1 when
    the table can't be counted; callers must treat unknown per their
    own safe direction.
    """
    import pyarrow as pa
    import pyarrow.parquet as papq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                papq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
                for dp, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
        return papq.ParquetFile(path).metadata.num_rows
    except (OSError, pa.ArrowInvalid):
        # Missing table (FileNotFoundError) or a file that is not parquet.
        return -1


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; validates the declared schema by name set.

    Columns are reordered/pruned to the declared schema so downstream
    plans see a stable shape regardless of file layout.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    _ensure_read_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        df = spark.read.schema(read_schema(spark, path)).parquet(path)
        declared = [f.name for f in TABLES[name].fields]
        missing = set(declared) - set(df.columns)
        if missing:
            raise ValueError(f"table {name!r} at {path} missing columns {sorted(missing)}")
        if name == "events":
            df = _ts_to_epoch_nanos(df)
        return df.select(*declared)

    # spark.read.parquet pays a footer read + file listing (~150-250 ms
    # locally) per call; a warm catalog hands back the analyzed base
    # relation, and each query still composes fresh operators on it.
    return session_cache.memo(
        spark, os.path.abspath(sf_dir), session_cache.TABLE, name, build=build
    )

