"""Streaming sources: the producer side of the reference topology.

Two sources cover the two jobs the reference's producers do:

- :func:`market_data_stream` — a rate-source generator emitting the
  reference demo's 5-field market schema with its deterministic value
  formulas (reference src/main.rs:43-56: ``price = base + i*0.01``,
  ``qty = 100 + i % 100``, ``symbol_id = 100 + producer``,
  ``exchange_id = producer``). This is the live-demo feed.
- :func:`events_file_stream` — a file source over a testdata table
  directory, used wherever results must be verifiable (tests compare
  a streamed computation against the batch run on the same files).

Scale notes: ``rowsPerSecond`` models the reference's per-producer feed
rate (≤20k msgs/s, src/main.rs:37,68); ``maxFilesPerTrigger`` /
``maxOffsetsPerTrigger`` are the ring-capacity analog — bounded intake
per micro-batch instead of reject-new overflow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_rust_timeseries_db_spark import session_cache
from open_rust_timeseries_db_spark.sources.catalog import TABLES

# Demo feed defaults mirroring the reference demo topology
# (src/main.rs:37-41: 2 producers, 50 µs sleep -> <=20k msgs/s each).
DEFAULT_PRODUCERS = 2
DEFAULT_ROWS_PER_SECOND = 20_000


def market_data_stream(
    spark: SparkSession,
    producers: int = DEFAULT_PRODUCERS,
    rows_per_second: int = DEFAULT_ROWS_PER_SECOND,
) -> DataFrame:
    """Rate-source market feed with the reference demo's field formulas.

    Columns: ``symbol_id int, price double, quantity int, ts timestamp,
    exchange_id int, seq long`` — the 5-field schema of reference
    src/main.rs:11-31 plus the source sequence number.
    """
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second * producers)
        .load()
    )
    producer = (F.col("value") % producers).cast("int")
    i = (F.col("value") / producers).cast("long")  # per-producer counter
    return rate.select(
        (F.lit(100) + producer).alias("symbol_id"),
        (F.lit(1000.0) + i.cast("double") * 0.01).alias("price"),
        (F.lit(100) + (i % 100)).cast("int").alias("quantity"),
        F.col("timestamp").alias("ts"),
        producer.alias("exchange_id"),
        F.col("value").alias("seq"),
    )


def events_file_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
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
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = _ts_to_epoch_nanos(reader.parquet(sf_dir))
    return df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
        "ts_ts", F.timestamp_micros(F.col("ts_us"))
    )


# The reference's ring maps 1:1 onto a Kafka topic: ring capacity ->
# maxOffsetsPerTrigger (bounded intake per micro-batch), per-field rings
# -> one topic with a typed payload (the row-atomic upgrade of the
# reference's lockstep per-field stitch, src/storage/table.rs:99-106),
# sequence-number publish protocol -> partition offsets + checkpoint.
MARKET_TICK_SCHEMA = T.StructType(
    [
        T.StructField("symbol_id", T.IntegerType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("ts", T.LongType()),  # epoch-nanos, reference unit
        T.StructField("exchange_id", T.IntegerType()),
    ]
)


def kafka_market_stream_options(
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int = 16_384,
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """Kafka source options for a market-tick topic.

    ``max_offsets_per_trigger`` defaults to the reference's integration
    ring capacity (16,384 slots/field, reference
    src/tests/integration_test.rs:15) — the same bounded-intake role.
    Kept as a plain dict so it is unit-testable without a broker.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",  # drop-oldest retention analog
    }


def kafka_market_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    **kwargs: int | str,
) -> DataFrame:
    """Market-tick stream from Kafka: JSON payloads -> typed columns.

    Requires the spark-sql-kafka connector on the classpath (not
    bundled in this container — the options builder above carries the
    unit-tested mapping; this function is the thin ``load`` + decode).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_market_stream_options(
        bootstrap_servers, topic, **kwargs  # type: ignore[arg-type]
    ).items():
        reader = reader.option(k, v)
    raw = reader.load()
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), MARKET_TICK_SCHEMA).alias("r"),
        F.col("timestamp").alias("kafka_ts"),
    )
    return parsed.select("r.*", "kafka_ts")
