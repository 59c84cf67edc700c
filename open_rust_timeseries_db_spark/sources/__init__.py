"""Sources: batch parquet catalog + schema registry."""

from open_rust_timeseries_db_spark.sources.catalog import TABLES, load_table

__all__ = ["TABLES", "load_table"]
