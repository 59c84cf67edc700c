"""open_rust_timeseries_db_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference system
``sai-sarat-19/open_rust_timeseries_db`` (an in-memory lock-free MPMC
ring-buffer tick store, /root/reference) as an idiomatic Apache Spark
engine:

- ingest      -> Structured Streaming micro-batches (see ``streaming/``)
- storage     -> Parquet + strict StructType schemas (see ``sources/``)
- consumers   -> declarative DataFrame queries (see ``queries/``)
- concurrency -> partition parallelism; Catalyst/AQE pick physical plans

The reference's consumer threads compute VWAP tracking, latency deltas,
percentiles, throughput, and drop accounting (reference
src/tests/integration_test.rs:221-320); those analytics — made explicit,
exhaustive, and scale-aware — plus a full relational surface and
LLM-data-pipeline extensions (dedup, similarity search, multimodal
columns, text analysis) form this engine's query inventory.
"""

from open_rust_timeseries_db_spark.session import get_spark
from open_rust_timeseries_db_spark.sources.catalog import load_table

__all__ = ["get_spark", "load_table"]

__version__ = "0.1.0"
