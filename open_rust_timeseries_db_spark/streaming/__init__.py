"""Structured Streaming layer: the reference's ingest/consume loop
re-expressed as micro-batch streams (SURVEY.md §7.1).

Mapping of the reference's moving parts (all citations into
/root/reference):

- producer threads pushing into per-field rings
  (src/main.rs:42-70, src/storage/table.rs:54-80)
  -> a streaming source: a file source over the testdata parquet,
     so every run is verifiable;
- ring capacity / reject-new overflow (src/memory/
  low_latency_mpmc_ring.rs:85-86, README.md:16)
  -> source admission control: maxOffsetsPerTrigger /
     maxFilesPerTrigger backpressure (semantic upgrade: blocked
     producers instead of dropped messages);
- consumer threads computing VWAP / latency metrics / throughput
  (src/tests/integration_test.rs:221-288)
  -> declarative streaming pipelines (pipelines.py), one streaming
     query per consumer role over the same source;
- destructive at-most-once reads (src/memory/
  low_latency_mpmc_ring.rs:116-121)
  -> checkpointed exactly-once micro-batches.
"""

from open_rust_timeseries_db_spark.streaming.pipelines import (
    running_vwap,
    stream_dedup,
    windowed_throughput,
)
from open_rust_timeseries_db_spark.streaming.run import run_available_now_to_memory
from open_rust_timeseries_db_spark.streaming.sources import events_file_stream

__all__ = [
    "events_file_stream",
    "run_available_now_to_memory",
    "running_vwap",
    "stream_dedup",
    "windowed_throughput",
]
