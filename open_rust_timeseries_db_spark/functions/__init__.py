"""Engine function library: vector math, text analysis, binary codecs."""

from open_rust_timeseries_db_spark.functions.text import (
    LANG_MARKERS,
    tokens,
    word_shingles,
)

__all__ = [
    "LANG_MARKERS",
    "tokens",
    "word_shingles",
]
