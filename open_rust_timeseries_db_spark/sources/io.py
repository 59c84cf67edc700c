"""Format IO: CSV / JSON / Parquet readers and writers with declared
schemas.

The reference persists nothing ("no built-in persistence",
reference README.md:15); a complete engine reads and writes the
standard lake formats. All readers take the declared StructType from
the catalog — never inference (schema inference is a full extra pass at
100 TB and type-unstable between files).

Writer defaults are scale-aware: parquet + snappy, explicit
partitioning columns for pruning, no coalesce(1)-style driver funnels.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from open_rust_timeseries_db_spark.sources.catalog import TABLES


def _schema_for(table_or_schema: str | T.StructType) -> T.StructType:
    if isinstance(table_or_schema, T.StructType):
        return table_or_schema
    return TABLES[table_or_schema]


def read_csv(
    spark: SparkSession,
    path: str,
    table_or_schema: str | T.StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with a declared schema (no inference pass)."""
    return (
        spark.read.schema(_schema_for(table_or_schema))
        .option("header", str(header).lower())
        .option("mode", "FAILFAST")  # malformed rows are an error, not a silent null
        .options(**options)
        .csv(path)
    )


def read_json(
    spark: SparkSession,
    path: str,
    table_or_schema: str | T.StructType,
    **options: str,
) -> DataFrame:
    """JSON-lines scan with a declared schema (no inference pass)."""
    return (
        spark.read.schema(_schema_for(table_or_schema))
        .option("mode", "FAILFAST")
        .options(**options)
        .json(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink; ``partition_by`` drives partition pruning for
    readers filtering on those columns."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_arrow_parquet(table, directory: str, schema: T.StructType) -> str:
    """Write the Arrow ``table`` as one snappy parquet file in
    ``directory`` on the driver, with no Spark job; returns its path.

    The footer carries ``schema`` under Spark's own row-metadata key, so
    ``spark.read.parquet`` reads the file with the Spark schema it would
    have written itself. The file is written under a hidden name (Spark
    lists no ``.``-prefixed file) and renamed into place, so a concurrent
    reader never lists a partial file. For small driver-side batches
    only: every row passes through this process.
    """
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4()}.snappy.parquet"
    final = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")
    meta = {"org.apache.spark.sql.parquet.row.metadata": schema.json()}
    try:
        pq.write_table(
            table.replace_schema_metadata(meta), tmp, compression="snappy"
        )
        os.rename(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return final


def write_csv(
    df: DataFrame, path: str, header: bool = True, mode: str = "overwrite"
) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    table_or_schema: str | T.StructType,
    **options: str,
) -> DataFrame:
    """ORC scan with a declared schema — the other columnar lake
    format; same predicate-pushdown/column-pruning behavior as parquet
    (ORC carries min/max stripe stats Spark pushes filters into)."""
    return (
        spark.read.schema(_schema_for(table_or_schema))
        .options(**options)
        .orc(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink, same partitioning contract as write_parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
