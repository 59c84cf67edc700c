"""Shared builders enforcing the determinism conventions of the registry."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark import session_cache
from open_rust_timeseries_db_spark.queries.registry import DEC
from open_rust_timeseries_db_spark.sources.catalog import load_table


def events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_us`` (epoch-µs long) added.

    Spark reads events.ts as epoch-nanos (lossless); DuckDB truncates the
    same parquet to µs at read. ``ts div 1000`` floor-truncates nanos so
    both engines operate on the identical integer µs value.
    """
    import os

    # A DataFrame method call costs ~20-30 ms of JVM analysis even on a
    # catalog-cached table (measured round 8: withColumn 16-22 ms,
    # filter 23-31 ms steady) and ~40 queries start from this exact
    # projection, so the session cache keeps the OBJECT.
    return session_cache.memo(
        spark,
        os.path.abspath(sf_dir),
        session_cache.EVENTS,
        build=lambda: load_table(spark, sf_dir, "events").selectExpr(
            "*", "ts div 1000 AS ts_us"
        ),
    )


def conversion_proj_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached conversion projection: the purchase/click subset
    of events, hash-partitioned by ``user_id`` and sorted by
    ``(user_id, ts_us)`` within partitions.

    This is the tick-store "secondary projection" pattern (a
    materialized view clustered for the as-of access path, like a
    Vertica projection or ClickHouse ORDER BY twin): both directions of
    the conversion analysis (q_asof_join, q_asof_forward) consume this
    exact row subset, and keeping it key-partitioned means each query's
    window plans WITHOUT an exchange — the in-memory scan reports
    HashPartitioning(user_id), which satisfies the window's clustered
    distribution, leaving only a nearly-sorted in-partition sort.
    Measured at sf1: the raw scan+filter alone costs 0.23 s warm
    (commit 3555e21) — more than DuckDB's entire native ASOF —
    while the cached projection serves it in ~0.03 s.

    At 100 TB this is an ingest-maintained clustered materialization
    (the same deployment story as the chunked/Z-order layouts in
    sources/layout.py), not per-query state; the bench charges its
    build to its own cache_builds line.
    """
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        _cached_ckpt,
    )

    ev = events_us(spark, sf_dir)

    def build() -> DataFrame:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return (
            ev.filter(F.col("event_type").isin("purchase", "click"))
            .select("user_id", "ts_us", "event_type", "event_id", "value")
            .repartition(n, "user_id")
            .sortWithinPartitions("user_id", "ts_us")
        )

    return _cached_ckpt(ev, build, ("conversion_proj",))


def spread_scan(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Unlock parallelism for CPU-heavy map work over a tiny scan.

    The testdata parquet files are written as a SINGLE row group, so the
    scan — and every narrow op fused onto it (tokenize, hash, explode)
    — runs as ONE task regardless of ``maxPartitionBytes``. For
    pipelines whose map side is the expensive part, a round-robin
    repartition spreads that work across the executor cores at the cost
    of shuffling the raw rows once (cheap at small-file size, by
    definition).

    Gated on the actual scan partition count so it is a NO-OP at scale:
    a real multi-row-group / multi-file corpus already splits, and the
    full-data shuffle this would add there is exactly what we avoid.
    The gate is "would the spread buy >=4x parallelism": a scan already
    within 4x of the target keeps its natural splits (the shuffle would
    cost more than the extra fan-out wins), while a scan far below it
    is by construction byte-small (few splits under a <=128 MB split
    size), so the one-time shuffle is cheap relative to the CPU-heavy
    map work that motivated the call. A 100 TB table arrives as
    thousands of splits and always no-ops.

    The ``df.rdd`` probe materializes a physical plan (~tens of ms);
    catalog tables are cached per application (sources/catalog.py), so
    the count is memoized on the DataFrame object itself — one probe
    per table per session instead of one per query invocation.
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    nparts = getattr(df, "_spread_scan_nparts", None)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        try:
            df._spread_scan_nparts = nparts
        except AttributeError:  # exotic DataFrame proxy; skip memo
            pass
    if nparts * 4 >= partitions:
        return df
    return df.repartition(partitions)


def _scaled_long(c: Column) -> Column:
    """Per-row fixed-point encode: floor(x*1e6 + 0.5) as BIGINT.

    Exact while |x|*1e6 < 2^53 (per-ROW bound, ~9e9 in value — orders of
    magnitude above any measure in the schema). floor(+0.5) is half-UP
    (toward +inf) rounding built from IEEE ops both engines execute
    identically — unlike ROUND(), whose implementations differ (Spark
    detours through BigDecimal.valueOf's shortest-repr string, one
    allocation per row and ~3x slower; DuckDB uses std::round on the
    raw double) and can disagree within 1 ulp of a .5 boundary.
    """
    return F.floor(c * F.lit(1_000_000) + F.lit(0.5))


def dsum(col: Column | str) -> Column:
    """Order-insensitive double sum: fixed-point BIGINT accumulation.

    IEEE double addition is order-sensitive, and Spark's partition order
    differs from DuckDB's scan order, so doubles are summed as
    round(x*1e6) BIGINT — associative, whole-stage-codegen fast (a
    DECIMAL(38,6) accumulator is ~5x slower: one BigDecimal allocation
    per row) — and converted once at the end via CAST(S AS DOUBLE)/1e6,
    which is pure correctly-rounded IEEE in both engines. (Converting
    through DECIMAL instead trips DuckDB's non-correctly-rounded
    decimal->double cast past 2^53.)

    Scale note: the BIGINT sum holds value-sums up to 2^63/1e6 ~ 9.2e12
    per group — fine to ~1e11 rows of monetary data per group. Past
    that (a lineitem grand-total row crosses it around sf40-100), use
    the two-phase shape the rollup/cube/pivot family implements: BIGINT
    partials per (group, spark_partition_id()) — bounded by one input
    split, so overflow-free at ANY total scale — re-summed with
    :func:`fx_resum`'s DECIMAL accumulator over the tiny partial table.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(_scaled_long(c)).cast("double") / F.lit(1_000_000.0)


def fx_resum(col: Column | str) -> Column:
    """Overflow-safe phase-2 merge of fixed-point BIGINT partials.

    Companion to :func:`dsum` for two-phase aggregates (rollup / cube /
    pivot / grouping sets / sliding windows): phase 1 sums per-row
    micro-unit longs per (fine group, ``spark_partition_id()``) — the
    pid key costs nothing (constant within a task, so map-side partial
    aggregation emits exactly the same row volume as without it) and
    bounds each partial by ONE input split (~128 MB => at most ~4e17
    micro-units per partial, 20x under the 2^63 wrap), independent of
    total data volume. Phase 2 re-sums the tiny partial table here as
    DECIMAL(38,0) — exact integer arithmetic with ~1e19 headroom of
    maxed-out partials, one BigDecimal op per PARTIAL instead of per
    input row. The final CAST(exact integer AS DOUBLE)/1e6 is the same
    correctly-rounded IEEE conversion as dsum's, so results are
    bit-identical to the oracle's single-phase BIGINT sum wherever that
    sum doesn't overflow, and still correct where it would.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,0)")).cast("double") / F.lit(1_000_000.0)


def davg(col: Column | str) -> Column:
    """Order-insensitive average: fixed-point sum -> double, / count.

    Identical operands + identical IEEE ops give the same double in both
    engines; see :func:`dsum` for the accumulation scheme.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(_scaled_long(c)).cast("double") / F.lit(1_000_000.0) / F.count(c)


# DuckDB-side fragments mirroring the helpers above (kept adjacent so the
# two dialects evolve together).
def sql_dsum(expr: str) -> str:
    # CAST .. AS BIGINT collapses DuckDB's HUGEINT sum result before the
    # double conversion (dtype parity); the /1e6 happens in double
    # domain, mirroring dsum() exactly.
    # Fully parenthesized: callers embed this fragment in larger
    # arithmetic (e.g. sql_dsum(a)/sql_dsum(b)).
    return (
        f"(CAST(CAST(SUM(CAST(FLOOR(({expr})*1000000 + 0.5) AS BIGINT)) AS BIGINT)"
        f" AS DOUBLE)/1000000.0)"
    )


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"
