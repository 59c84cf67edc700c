"""Size estimates: Catalyst's output size for size-gated strategies
(the as-of join's broadcast probe, operators/asof.py), and the task
count of a Python stage's input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from open_rust_timeseries_db_spark.sources.catalog import footer_rows


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated output size of the optimized plan, in bytes.

    Returns -1 when the estimate is unavailable OR not credible: leaves
    Catalyst cannot size (LogicalRDD, some in-memory relations) default
    to ``spark.sql.defaultSizeInBytes`` (Long.MaxValue out of the box),
    and join estimates MULTIPLY child sizes — so a bogus leaf inflates
    every plan above it. Gating on such a value would spuriously refuse
    small inputs on a public API; "don't know" must mean "don't gate",
    not "raise". Non-positive estimates, estimates past the 1 PiB
    sanity cap (which covers stock Long.MaxValue and its
    projection-scaled derivatives), and exact hits on
    defaultSizeInBytes (an unsized leaf echoing a lowered default) are
    treated as unknown; everything else — including large real
    estimates under a lowered default — keeps gating.
    """
    try:
        sess = df.sparkSession
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        est = int(str(stats.sizeInBytes()))
        try:
            default = int(sess.conf.get("spark.sql.defaultSizeInBytes"))
        except Exception:
            default = 9223372036854775807  # Long.MaxValue, the stock default
        # Equality with defaultSizeInBytes is NOT enough: Catalyst
        # SCALES a leaf's estimate by the projection's column-width
        # ratio, so a bogus Long.MaxValue leaf seen through a narrow
        # select lands just below it (measured: a 3-column LogicalRDD
        # projected to 1 column estimated 3.35e18 "bytes" for 100
        # rows). Anything past 1 PiB cannot be a real single-frame
        # estimate (a 100 TB table is 1e14) and is treated as unknown.
        #
        # But the >= comparison is only a bogosity signal when default
        # is the STOCK Long.MaxValue: a deployment that lowers
        # defaultSizeInBytes (a common broadcast-tuning knob) below a
        # caller's gate budget would otherwise turn every
        # genuinely-large real estimate into "unknown" and silently
        # skip the gate. With a lowered default, only an EXACT hit (an
        # unsized leaf reporting the default verbatim) reads as
        # unknown; everything else is a real estimate and keeps gating.
        sanity_max = 1 << 50
        if est <= 0 or est > sanity_max or est == default:
            return -1
        return est
    except Exception:
        return -1


# Rows one Python/Arrow task takes before its stage spreads to a second
# task; every extra task pays a Python-worker round trip. Warm medians,
# 4-vCPU host, doc_gram_counts_pd / shingle_profile_pd / q_audio_decode:
# 5,000 docs ran 0.47 / 0.67 / 0.19 s in 1 task, 0.27 / 0.34 / 0.16 s
# in 4 (1,250 rows each); 500 docs ran 0.13 / 0.16 / 0.11 s in 1 task,
# the same or slower in 2 and 4.
ROWS_PER_PY_TASK = 1_250


def py_task_count(rows: int, cores: int) -> int:
    """Partitions a Python stage over ``rows`` input rows needs:
    ``min(cores, ceil(rows / ROWS_PER_PY_TASK))``, 0 for unknown
    (negative) rows."""
    return max(0, min(cores, -(-rows // ROWS_PER_PY_TASK)))


def py_stage_input(df: DataFrame) -> DataFrame:
    """``df`` split for a Python stage (a pandas/Arrow kernel, or a
    per-row JVM pass as heavy): repartitioned to :func:`py_task_count`
    partitions only when its natural split count is below that.

    The rows are the footer counts of the parquet files ``df`` scans (an
    upper bound for a filtered scan), read without a Spark job; a frame
    that scans no file keeps its natural splits. The decision (its split
    count is a physical-planning probe, tens of ms) is memoized on the
    DataFrame object, which for a catalog table lives for the session.
    """
    parts = getattr(df, "_py_stage_parts", None)
    if parts is None:
        cores = df.sparkSession.sparkContext.defaultParallelism
        # Past cores x ROWS_PER_PY_TASK rows the count is capped anyway.
        rows = footer_rows(df.inputFiles(), cores * ROWS_PER_PY_TASK)
        target = py_task_count(rows, cores)
        parts = df._py_stage_parts = (
            target if target > 1 and df.rdd.getNumPartitions() < target else 0
        )
    return df.repartition(parts) if parts else df
