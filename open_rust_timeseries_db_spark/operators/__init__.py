"""Custom operators Spark lacks as built-ins, composed Spark-first."""

from open_rust_timeseries_db_spark.operators.asof import asof_join
from open_rust_timeseries_db_spark.operators.percentiles import (
    nearest_rank_percentiles,
)

__all__ = ["asof_join", "nearest_rank_percentiles"]
