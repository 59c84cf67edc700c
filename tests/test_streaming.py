"""Streaming-layer tests for what the oracle can't check: watermarked
dedup state eviction and key validation. (The durable sink, a
foreachBatch append into a time layout keyed by batch id, is tested in
tests/test_layout.py.)

(The windowed/VWAP/dedup/latency pipelines themselves ARE oracle-checked
— see queries/streaming_q.py — because availableNow over the file
source is a bounded, exactly-once drain.)
"""

from __future__ import annotations

import pytest

from open_rust_timeseries_db_spark.streaming.pipelines import stream_dedup
from open_rust_timeseries_db_spark.streaming.run import run_available_now_to_memory
from open_rust_timeseries_db_spark.streaming.sources import events_file_stream

SF_DIR = "/root/testdata/sf0.001"


def test_watermarked_dedup_bounded_state(spark):
    """dropDuplicatesWithinWatermark drains the bounded replay to the
    exact distinct key set (state evicted by event time as it goes)."""
    stream = events_file_stream(spark, SF_DIR)
    deduped = stream_dedup(
        stream, keys=["user_id"], ts_col="ts_ts", watermark="10 minutes"
    )
    got = run_available_now_to_memory(spark, deduped, mode="append")
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = batch.select("user_id").distinct().count()
    # Within-watermark dedup may re-emit a key seen again after its
    # state expired; on this replay order it must be >= exact-distinct
    # and <= total rows, and every distinct key must appear.
    n = got.count()
    assert want <= n <= batch.count()
    assert got.select("user_id").distinct().count() == want


@pytest.mark.parametrize("bad", ["not_a_column"])
def test_stream_dedup_rejects_unknown_key(spark, bad):
    stream = events_file_stream(spark, SF_DIR)
    with pytest.raises(Exception):
        stream_dedup(stream, keys=[bad]).explain()
