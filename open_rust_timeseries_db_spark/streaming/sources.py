"""Streaming source: the producer side of the reference topology.

:func:`events_file_stream` is a file source over a testdata table
directory. Every streaming pipeline reads it, so each one is verifiable:
tests and oracles compare a streamed computation against the batch run
on the same files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_rust_timeseries_db_spark import session_cache
from open_rust_timeseries_db_spark.sources.catalog import TABLES


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the ``events`` testdata table.

    The parquet files are read as a bounded stream (with
    ``availableNow`` the query drains them and stops), which makes
    every streaming pipeline verifiable against its batch twin.
    ``ts_us`` (epoch-µs long) and ``ts_ts`` (µs timestamp) are added,
    matching the batch-side convention in queries/helpers.py.
    """
    from open_rust_timeseries_db_spark.sources.catalog import (
        _ensure_read_confs,
        _ts_to_epoch_nanos,
        read_schema,
    )

    _ensure_read_confs(spark)
    # The stream-source schema must match the FILE's ts encoding (the
    # batch reader infers it; a stream reader cannot). Peek at the file
    # footer, then normalize to the engine schema (ts = epoch-nanos
    # long) exactly like sources/catalog.load_table.
    file_ts = session_cache.memo(
        spark,
        os.path.abspath(sf_dir),
        session_cache.STREAM_TS,
        build=lambda: read_schema(
            spark, os.path.join(sf_dir, "events.parquet")
        )["ts"].dataType,
    )
    stream_schema = T.StructType(
        [
            T.StructField(f.name, file_ts if f.name == "ts" else f.dataType)
            for f in TABLES["events"].fields
        ]
    )
    # testdata tables are single parquet FILES; the file stream source
    # only accepts a directory path, so stream the sf_dir and glob-filter
    # down to the events table file.
    reader = (
        spark.readStream.schema(stream_schema)
        .option("pathGlobFilter", "events.parquet")
        .option("recursiveFileLookup", "false")
    )
    df = _ts_to_epoch_nanos(reader.parquet(sf_dir))
    return df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
        "ts_ts", F.timestamp_micros(F.col("ts_us"))
    )

