"""Time-series analytics: the operators a market-tick store is FOR.

The reference is an HFT tick-ingest substrate (SURVEY.md §0); its
consumers compute VWAP/latency folds but stop short of the standard
tick-store query surface — bar resampling, gap-filling, time-weighted
aggregates (the TimescaleDB/kdb+ staples). This module supplies them
Spark-first over the ``events`` table (user_id ≈ symbol, value ≈ price,
ts ≈ tick time; same shape as the reference's market schema,
reference src/tests/integration_test.rs:128-141).

Determinism notes (oracle = DuckDB, exact hash match):
- bucket keys are integer floor-divisions of epoch-µs longs;
- open/close use arg_min/arg_max on a TOTAL BIGINT ordering key
  ``ts_us * 1000 + event_id % 1000`` (ts_us ~1.7e15 so the product is
  ~1.7e18 < 2^63; (user_id, ts_us) is already unique in the testdata,
  the event_id term makes the order total even if a feed delivers
  same-µs ticks);
- double sums go through the fixed-point dsum scheme (helpers.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.queries.helpers import (
    davg,
    dsum,
    events_us,
    sql_davg,
    sql_dsum,
)
from open_rust_timeseries_db_spark.queries.registry import query

_HOUR_US = 3_600_000_000
_DAY_US = 86_400_000_000


def _bar_partials(ticks: DataFrame) -> DataFrame:
    """Hourly OHLC bars of ``ticks`` (user_id, ts_us, value, event_id)
    with the ``ord`` partials (min/max ordering keys) that let bars
    re-aggregate losslessly: the one aggregate behind the materialized
    build and its incremental refresh."""
    k = ticks.select(
        "user_id",
        F.expr(f"ts_us div {_HOUR_US}").alias("bucket_hour"),
        "value",
        (F.col("ts_us") * 1000 + F.col("event_id") % 1000).alias("ord"),
    )
    return k.groupBy("user_id", "bucket_hour").agg(
        (F.first("bucket_hour") * _HOUR_US).alias("bucket_start_us"),
        F.min_by("value", "ord").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", "ord").alias("close_v"),
        F.min_by("ord", "ord").alias("open_ord"),
        F.max_by("ord", "ord").alias("close_ord"),
        F.count(F.lit(1)).alias("n_ticks"),
        dsum("value").alias("volume"),
    )


def ohlc_hourly_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached hourly OHLC bars — the MATERIALIZED continuous
    aggregate both bar queries serve from.

    One shuffle over raw ticks, hash-partitioned on the symbol before
    persisting (the in-memory analogue of bucketing the aggregate table
    by symbol): the daily re-aggregation's groupBy(user_id, day) is
    satisfied by the cached user_id partitioning and plans with ZERO
    exchanges of its own. ``ord`` partials (min/max ordering keys)
    ride inside the bars so coarser grains re-aggregate losslessly.
    At 100 TB this is the ingest-maintained hypertable continuous
    aggregate — a real table, written once, never re-derived per query;
    the bench charges this build to its own ohlc_hourly cache line.
    """
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        _cached_ckpt,
    )

    ev = events_us(spark, sf_dir)
    return _cached_ckpt(
        ev, lambda: _bar_partials(ev), ("ohlc_hourly",), part_by=("user_id",)
    )


def ohlc_increment(bars: DataFrame, new_ticks: DataFrame) -> DataFrame:
    """Incrementally refresh materialized hourly bars with an append
    batch — the continuous-aggregate INVALIDATION pattern: aggregation
    work is proportional to the BATCH, never the history.

    ``new_ticks`` carries (user_id, ts_us, value, event_id). The batch
    aggregates to bar partials through the full build's own
    :func:`_bar_partials` (one shuffle of batch-size rows); existing
    bars split into touched (left-semi on the delta's bar keys) and
    untouched (left-anti) — only touched bars re-enter aggregation,
    merged with the delta through the carried partials: open/close via
    min_by/max_by on the ord partials (exact under ties because ord is
    a total order), high/low/n_ticks by plain max/min/sum, volume
    through the fixed-point dsum fold (order-insensitive, so merge
    order can't flip low bits). At 100 TB with the aggregate stored as
    a table partitioned like the cache (hash on symbol / chunked on
    time), the anti/semi split is partition-pruned to the batch's time
    range and the merge touches only the affected bars — TimescaleDB's
    continuous-aggregate refresh, Spark-first.

    Exactness is test-pinned: incremental(80% build + 20% batch) must
    equal the full rebuild row-for-row including ord partials
    (tests/test_continuous_aggregate.py).
    """
    delta = _bar_partials(new_ticks)
    keys = ["user_id", "bucket_hour"]
    touched = bars.join(delta.select(*keys), keys, "left_semi")
    untouched = bars.join(delta.select(*keys), keys, "left_anti")
    merged = (
        touched.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.min("bucket_start_us").alias("bucket_start_us"),
            F.min_by("open_v", "open_ord").alias("open_v"),
            F.max("high_v").alias("high_v"),
            F.min("low_v").alias("low_v"),
            F.max_by("close_v", "close_ord").alias("close_v"),
            F.min("open_ord").alias("open_ord"),
            F.max("close_ord").alias("close_ord"),
            F.sum("n_ticks").alias("n_ticks"),
            dsum("volume").alias("volume"),
        )
    )
    return untouched.unionByName(merged.select(*untouched.columns))


@query(
    "q_ohlc_bars",
    f"""
    WITH k AS (
      SELECT user_id,
             epoch_us(ts) // {_HOUR_US} AS bucket_hour,
             value,
             epoch_us(ts) * 1000 + event_id % 1000 AS ord
      FROM events
    )
    SELECT user_id, bucket_hour,
           bucket_hour * {_HOUR_US} AS bucket_start_us,
           arg_min(value, ord) AS open_v,
           MAX(value) AS high_v,
           MIN(value) AS low_v,
           arg_max(value, ord) AS close_v,
           COUNT(*) AS n_ticks,
           {sql_dsum("value")} AS volume
    FROM k GROUP BY 1, 2
    """,
    doc="OHLC bar resampling — hourly open/high/low/close/volume per "
    "symbol, THE canonical tick-store downsample (the reference's "
    "VWAP consumer is the germ; reference "
    "src/tests/integration_test.rs:240-256). Served from the "
    "session-materialized continuous aggregate (ohlc_hourly_ckpt): one "
    "shuffle over raw ticks at build, min_by/max_by carrying "
    "(ordering key, value) partials map-side — no window sort, no "
    "per-bucket row materialization. The oracle recomputes the bars "
    "directly from raw ticks, so the hash match proves the "
    "materialized aggregate is faithful.",
    tags=("timeseries", "ohlc", "downsample"),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ohlc_hourly_ckpt(spark, sf_dir).select(
        "user_id",
        "bucket_hour",
        "bucket_start_us",
        "open_v",
        "high_v",
        "low_v",
        "close_v",
        "n_ticks",
        "volume",
    )


@query(
    "q_ohlc_daily_rollup",
    f"""
    WITH k AS (
      SELECT user_id,
             epoch_us(ts) // {_DAY_US} AS day_bucket,
             value,
             epoch_us(ts) * 1000 + event_id % 1000 AS ord
      FROM events
    )
    SELECT user_id, day_bucket,
           arg_min(value, ord) AS open_v,
           MAX(value) AS high_v,
           MIN(value) AS low_v,
           arg_max(value, ord) AS close_v,
           COUNT(*) AS n_ticks,
           {sql_dsum("value")} AS volume
    FROM k GROUP BY 1, 2
    """,
    doc="Daily OHLC bars computed by RE-AGGREGATING the materialized "
    "hourly aggregate (ohlc_hourly_ckpt) — the hypertable "
    "continuous-aggregate pattern realized: the daily grain reads the "
    "session-cached hourly table (24x fewer rows than ticks, never "
    "rescans raw data) and, because the cache is hash-partitioned on "
    "the symbol, the daily groupBy plans with ZERO exchanges of its "
    "own. open/close ride the carried ord partials (min_by on "
    "open_ord / max_by on close_ord — exact even if an hour's bars "
    "tie), volume re-enters the fixed-point fold. The oracle computes "
    "daily bars DIRECTLY from raw ticks, so an exact hash match "
    "proves the rollup hierarchy is lossless.",
    tags=("timeseries", "ohlc", "rollup"),
)
def q_ohlc_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = ohlc_hourly_ckpt(spark, sf_dir).withColumn(
        "day_bucket", F.expr(f"bucket_hour div {_DAY_US // _HOUR_US}")
    )
    return hourly.groupBy("user_id", "day_bucket").agg(
        F.min_by("open_v", "open_ord").alias("open_v"),
        F.max("high_v").alias("high_v"),
        F.min("low_v").alias("low_v"),
        F.max_by("close_v", "close_ord").alias("close_v"),
        F.sum("n_ticks").alias("n_ticks"),
        dsum("volume").alias("volume"),
    )


@query(
    "q_gapfill_locf",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_HOUR_US} AS bucket_hour, value
      FROM events
    ), hourly AS (
      SELECT user_id, bucket_hour, {sql_davg("value")} AS avg_value
      FROM e GROUP BY 1, 2
    ), bounds AS (
      SELECT MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi FROM e
    ), spine AS (
      SELECT u.user_id, unnest(range(b.lo, b.hi + 1)) AS bucket_hour
      FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN bounds b
    ), filled AS (
      SELECT s.user_id, s.bucket_hour, h.avg_value
      FROM spine s LEFT JOIN hourly h USING (user_id, bucket_hour)
    )
    SELECT user_id, bucket_hour,
           bucket_hour * {_HOUR_US} AS bucket_start_us,
           avg_value,
           last_value(avg_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket_hour
             ROWS UNBOUNDED PRECEDING
           ) AS filled_value,
           CAST(CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
    FROM filled
    """,
    doc="Gap-filled hourly series with last-observation-carried-forward "
    "— time_bucket_gapfill + locf(). A dense per-symbol bucket spine "
    "(symbols × sequence(lo, hi), generated, never scanned) is "
    "left-joined to the real hourly aggregate, then "
    "last(ignorenulls) over the bucket order carries values across "
    "gaps; leading gaps before a symbol's first tick stay NULL. Scale: "
    "the spine is symbols × buckets rows regardless of tick count, the "
    "raw scan aggregates straight to buckets (one shuffle), and the "
    "LOCF window sorts only the bucketed series. The bounds row is a "
    "broadcast, not a driver collect.",
    tags=("timeseries", "gapfill", "locf", "window"),
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id", F.expr(f"ts_us div {_HOUR_US}").alias("bucket_hour"), "value"
    )
    # The hourly aggregate feeds both the gap-fill expansion and the
    # spine bounds; checkpointing the tiny bucketed table (symbols ×
    # occupied buckets) makes the raw tick scan run ONCE.
    hourly = (
        ev.groupBy("user_id", "bucket_hour")
        .agg(davg("value").alias("avg_value"))
        .localCheckpoint(eager=False)
    )
    # Global bucket bounds and the symbol list both derive from the
    # tiny hourly aggregate — one raw-events pass total, not three
    # (raw-agg for buckets + raw-agg for bounds + raw-distinct for
    # symbols). The global min/max is a window over the per-symbol
    # bounds (symbols × 2 longs), essentially free.
    per_user = hourly.groupBy("user_id").agg(
        F.min("bucket_hour").alias("u_lo"), F.max("bucket_hour").alias("u_hi")
    )
    bounds = per_user.agg(
        F.min("u_lo").alias("lo"), F.max("u_hi").alias("hi")
    )
    # INTERVAL-EXPANSION shape (see q_gapfill_interp for the full
    # rationale): LOCF's carried value for every cell in the half-open
    # run [obs, next_obs) IS that run's observed value, so one lead()
    # over the occupied-bucket table + a sequence explode generates the
    # dense spine pre-filled — no spine-to-hourly join and no
    # full-spine window sort (the old plan sorted the whole dense spine
    # once and joined it once; this sorts only the ~9x smaller hourly
    # table).
    # Expansion boundaries are NON-NULL observations only: a bucket
    # whose avg_value is NULL (every event value NULL that hour) is a
    # GAP under the oracle's last_value(... IGNORE NULLS) — LOCF
    # carries the prior value ACROSS it. Treating it as a boundary
    # would start a run with prev_v NULL and fill the whole interval
    # NULL. (Latent on shipped tiers, which carry no NULL values; the
    # nullable events schema + the in-repo oracle define the contract —
    # pinned by test_gapfill_null_hour_buckets.)
    obs = hourly.filter(F.col("avg_value").isNotNull())
    w_user = Window.partitionBy("user_id").orderBy("bucket_hour")
    cells = (
        obs.select(
            "user_id",
            F.col("bucket_hour").alias("prev_b"),
            F.col("avg_value").alias("prev_v"),
            F.lead("bucket_hour").over(w_user).alias("next_b"),
        )
        .crossJoin(F.broadcast(bounds.select("hi")))
        .select(
            "user_id",
            "prev_b",
            "prev_v",
            F.explode(
                F.sequence(
                    "prev_b",
                    F.coalesce(F.col("next_b") - 1, F.col("hi")),
                )
            ).alias("bucket_hour"),
        )
    )
    is_obs = F.col("bucket_hour") == F.col("prev_b")
    body = cells.select(
        "user_id",
        "bucket_hour",
        F.when(is_obs, F.col("prev_v")).alias("avg_value"),
        F.col("prev_v").alias("filled_value"),
    )
    # Leading gap cells before a symbol's first NON-NULL observation —
    # or its whole spine when it has none: LOCF has nothing to carry,
    # both columns NULL.
    first_obs = obs.groupBy("user_id").agg(
        F.min("bucket_hour").alias("o_lo")
    )
    leading = (
        per_user.select("user_id")
        .join(F.broadcast(first_obs), "user_id", "left")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("o_lo").isNull() | (F.col("o_lo") > F.col("lo")))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("lo"),
                    F.coalesce(F.col("o_lo") - 1, F.col("hi")),
                )
            ).alias("bucket_hour"),
            F.lit(None).cast("double").alias("avg_value"),
            F.lit(None).cast("double").alias("filled_value"),
        )
    )
    return body.unionByName(leading).select(
        "user_id",
        "bucket_hour",
        (F.col("bucket_hour") * _HOUR_US).alias("bucket_start_us"),
        "avg_value",
        "filled_value",
        F.when(F.col("avg_value").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
    )


@query(
    "q_gapfill_interp",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_HOUR_US} AS bucket_hour, value
      FROM events
    ), hourly AS (
      SELECT user_id, bucket_hour, {sql_davg("value")} AS avg_value
      FROM e GROUP BY 1, 2
    ), bounds AS (
      SELECT MIN(bucket_hour) AS lo, MAX(bucket_hour) AS hi FROM e
    ), spine AS (
      SELECT u.user_id, unnest(range(b.lo, b.hi + 1)) AS bucket_hour
      FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN bounds b
    ), filled AS (
      SELECT s.user_id, s.bucket_hour, h.avg_value
      FROM spine s LEFT JOIN hourly h USING (user_id, bucket_hour)
    ), marked AS (
      SELECT user_id, bucket_hour, avg_value,
             last_value(avg_value IGNORE NULLS) OVER wprev AS prev_v,
             last_value(CASE WHEN avg_value IS NOT NULL THEN bucket_hour END
                        IGNORE NULLS) OVER wprev AS prev_b,
             first_value(avg_value IGNORE NULLS) OVER wnext AS next_v,
             first_value(CASE WHEN avg_value IS NOT NULL THEN bucket_hour END
                         IGNORE NULLS) OVER wnext AS next_b
      FROM filled
      WINDOW wprev AS (PARTITION BY user_id ORDER BY bucket_hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wnext AS (PARTITION BY user_id ORDER BY bucket_hour
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket_hour,
           bucket_hour * {_HOUR_US} AS bucket_start_us,
           avg_value,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
                ELSE prev_v + (next_v - prev_v) *
                     (CAST(bucket_hour - prev_b AS DOUBLE)
                      / CAST(next_b - prev_b AS DOUBLE))
           END AS interp_value,
           CAST(CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
    FROM marked
    """,
    doc="Gap-filled hourly series with LINEAR INTERPOLATION — "
    "time_bucket_gapfill + interpolate(), the LOCF query's twin for "
    "continuous signals. Same dense spine + one-raw-pass hourly "
    "aggregate; the fill reads the nearest observed value on each "
    "side via ignorenulls LAST over two GROWING frames (ascending "
    "for prev, DESCENDING for next) and lerps by bucket distance. "
    "Spark evaluates a growing (unboundedPreceding, current) frame "
    "in O(n) running state per partition, but a shrinking (current, "
    "unboundedFollowing) frame by re-aggregating the partition "
    "remainder per row — O(n^2); the descending sort buys linearity "
    "for the price of one extra sort of the spine (measured 46.2 s "
    "-> ~1.3 s at sf0.1, 438.8 s -> seconds at sf1). "
    "Edges stay NULL (no extrapolation beyond a symbol's first/last "
    "observation). Deterministic cross-engine: both engines evaluate "
    "the identical double expression on identical fixed-point hourly "
    "averages.",
    tags=("timeseries", "gapfill", "interpolate", "window"),
)
def q_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INTERVAL-EXPANSION shape: the round-11 fix replaced an O(n^2)
    # shrinking frame with two O(n) growing frames, but both still
    # sorted the full DENSE spine (symbols x every bucket — 1.08M rows
    # at sf0.1, ~9% occupied) twice, after building it via a
    # spine-to-hourly join. Every gap cell's (prev, next) pair is
    # already determined by its enclosing pair of OBSERVED points, so
    # compute next via ONE lead() over the hourly table (the ~9x
    # smaller occupied-bucket set) and EXPLODE each inter-observation
    # interval into its cells with both endpoints attached — the dense
    # spine is generated exactly once, pre-labeled, and never sorted or
    # joined (plans/r12/q_gapfill_interp_*.txt: the two full-spine
    # Window sorts and the spine join disappear; measured 1.74 s ->
    # ~0.6 s warm at sf0.1). Same lerp expression on the same (prev_v,
    # next_v, prev_b, next_b) doubles — bit-identical results; leading
    # cells (before a symbol's first observation) come from the same
    # per-symbol bounds cross-join as before.
    ev = events_us(spark, sf_dir).select(
        "user_id", F.expr(f"ts_us div {_HOUR_US}").alias("bucket_hour"), "value"
    )
    hourly = (
        ev.groupBy("user_id", "bucket_hour")
        .agg(davg("value").alias("avg_value"))
        .localCheckpoint(eager=False)
    )
    per_user = hourly.groupBy("user_id").agg(
        F.min("bucket_hour").alias("u_lo"), F.max("bucket_hour").alias("u_hi")
    )
    bounds = per_user.agg(
        F.min("u_lo").alias("lo"), F.max("u_hi").alias("hi")
    )
    # NON-NULL observations only, like q_gapfill_locf: a NULL-avg
    # bucket is a gap the oracle's IGNORE NULLS windows interpolate
    # ACROSS, not an observation boundary (see the LOCF twin's note;
    # pinned by test_gapfill_null_hour_buckets).
    obs = hourly.filter(F.col("avg_value").isNotNull())
    w_user = Window.partitionBy("user_id").orderBy("bucket_hour")
    marked = obs.select(
        "user_id",
        F.col("bucket_hour").alias("prev_b"),
        F.col("avg_value").alias("prev_v"),
        F.lead("bucket_hour").over(w_user).alias("next_b"),
        F.lead("avg_value").over(w_user).alias("next_v"),
    ).crossJoin(F.broadcast(bounds.select("hi")))
    # Each observed point owns the half-open cell run [prev_b, next_b)
    # — or [prev_b, hi] for a symbol's last observation (trailing gap
    # cells, next missing -> interp NULL, exactly the old window's
    # next_v IS NULL arm).
    cells = marked.select(
        "user_id",
        "prev_b",
        "prev_v",
        "next_b",
        "next_v",
        F.explode(
            F.sequence(
                "prev_b",
                F.coalesce(F.col("next_b") - 1, F.col("hi")),
            )
        ).alias("bucket_hour"),
    )
    is_obs = F.col("bucket_hour") == F.col("prev_b")
    frac = (F.col("bucket_hour") - F.col("prev_b")).cast("double") / (
        F.col("next_b") - F.col("prev_b")
    ).cast("double")
    body = cells.select(
        "user_id",
        "bucket_hour",
        F.when(is_obs, F.col("prev_v")).alias("avg_value"),
        F.when(is_obs, F.col("prev_v"))
        .when(F.col("next_v").isNull(), F.lit(None))
        .otherwise(
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
        )
        .alias("interp_value"),
    )
    # Leading gap cells: spine positions before the symbol's first
    # NON-NULL observation — or its whole spine when it has none. No
    # prev, so both fills are NULL (no extrapolation).
    first_obs = obs.groupBy("user_id").agg(
        F.min("bucket_hour").alias("o_lo")
    )
    leading = (
        per_user.select("user_id")
        .join(F.broadcast(first_obs), "user_id", "left")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("o_lo").isNull() | (F.col("o_lo") > F.col("lo")))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("lo"),
                    F.coalesce(F.col("o_lo") - 1, F.col("hi")),
                )
            ).alias("bucket_hour"),
            F.lit(None).cast("double").alias("avg_value"),
            F.lit(None).cast("double").alias("interp_value"),
        )
    )
    return body.unionByName(leading).select(
        "user_id",
        "bucket_hour",
        (F.col("bucket_hour") * _HOUR_US).alias("bucket_start_us"),
        "avg_value",
        "interp_value",
        F.when(F.col("avg_value").isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_gap"),
    )


@query(
    "q_counter_rate",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) // {_DAY_US} AS day_bucket, value, event_id
      FROM events
    ), d AS (
      SELECT user_id, day_bucket, ts_us, value,
             LAG(value) OVER (
               PARTITION BY user_id, day_bucket ORDER BY ts_us, event_id
             ) AS prev_v
      FROM e
    )
    SELECT user_id, day_bucket,
           COUNT(*) AS n_samples,
           CAST(SUM(CASE WHEN prev_v IS NOT NULL AND value < prev_v
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
           {sql_dsum(
               "CASE WHEN prev_v IS NULL THEN 0.0 "
               "WHEN value >= prev_v THEN value - prev_v "
               "ELSE value END"
           )} AS increase,
           CASE WHEN MAX(ts_us) > MIN(ts_us)
                THEN {sql_dsum(
                    "CASE WHEN prev_v IS NULL THEN 0.0 "
                    "WHEN value >= prev_v THEN value - prev_v "
                    "ELSE value END"
                )} / (CAST(MAX(ts_us) - MIN(ts_us) AS DOUBLE)
                      / 3600000000.0)
           END AS rate_per_hour
    FROM d GROUP BY 1, 2
    """,
    doc="Monotonic-counter rate with RESET handling per symbol-day — "
    "the PromQL increase()/rate() and TimescaleDB counter_agg staple "
    "for observability series: each sample's contribution is its "
    "positive delta over the previous sample, and a decrease is read "
    "as a counter restart (the full new value counts, the drop does "
    "not). n_resets counts the restarts; rate_per_hour normalizes the "
    "day's increase by its observed span (NULL for single-sample "
    "days). Shape: ONE window sort per (symbol, day) partition + the "
    "same-keyed aggregation — no second exchange (the groupBy is "
    "satisfied by the window's hash partitioning), embarrassingly "
    "parallel across symbol-days at 100 TB exactly like the TWAP "
    "twin. Determinism: lag() rides the total (ts_us, event_id) "
    "order, per-row deltas are IEEE ops on identical operand pairs, "
    "the day sum goes through fixed-point dsum, and the final divide "
    "is one IEEE op on identical doubles.",
    tags=("timeseries", "counter", "rate", "window"),
)
def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id",
        "ts_us",
        F.expr(f"ts_us div {_DAY_US}").alias("day_bucket"),
        "value",
        "event_id",
    )
    w = Window.partitionBy("user_id", "day_bucket").orderBy(
        "ts_us", "event_id"
    )
    prev = F.lag("value").over(w)
    inc = (
        F.when(prev.isNull(), F.lit(0.0))
        .when(F.col("value") >= prev, F.col("value") - prev)
        .otherwise(F.col("value"))
    )
    d = ev.select(
        "user_id",
        "day_bucket",
        "ts_us",
        inc.alias("__inc"),
        (prev.isNotNull() & (F.col("value") < prev))
        .cast("int")
        .alias("__is_reset"),
    )
    g = d.groupBy("user_id", "day_bucket").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("__is_reset").cast("bigint").alias("n_resets"),
        dsum("__inc").alias("increase"),
        F.min("ts_us").alias("__lo"),
        F.max("ts_us").alias("__hi"),
    )
    span_h = (F.col("__hi") - F.col("__lo")).cast("double") / F.lit(
        3_600_000_000.0
    )
    return g.select(
        "user_id",
        "day_bucket",
        "n_samples",
        "n_resets",
        "increase",
        F.when(
            F.col("__hi") > F.col("__lo"), F.col("increase") / span_h
        ).alias("rate_per_hour"),
    )


@query(
    "q_time_weighted_avg",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) // {_DAY_US} AS day_bucket, value
      FROM events
    ), d AS (
      SELECT user_id, day_bucket, value,
             COALESCE(
               LEAD(ts_us) OVER (
                 PARTITION BY user_id, day_bucket ORDER BY ts_us
               ),
               (day_bucket + 1) * {_DAY_US}
             ) - ts_us AS dt_us
      FROM e
    )
    SELECT user_id, day_bucket,
           CAST(SUM(dt_us) AS BIGINT) AS held_us,
           COUNT(*) AS n_ticks,
           {sql_dsum("value * (dt_us / 1000000.0)")}
             / (CAST(CAST(SUM(dt_us) AS BIGINT) AS DOUBLE) / 1000000.0)
             AS twap
    FROM d GROUP BY 1, 2
    """,
    doc="Time-weighted average price per symbol-day (TimescaleDB "
    "time_weight / kdb+ twap): each tick's value is held until the "
    "next tick in the same day (the last tick holds to day end), "
    "weights are exact integer µs. Determinism: dt_us is BIGINT "
    "arithmetic on the lead() of a totally-ordered unique ts; the "
    "weighted sum goes through fixed-point accumulation; the final "
    "divide is one IEEE op on identical operands. One window sort + "
    "one aggregation, both partitioned by (symbol, day) — "
    "embarrassingly parallel across symbol-days at scale.",
    tags=("timeseries", "twap", "window"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id",
        "ts_us",
        F.expr(f"ts_us div {_DAY_US}").alias("day_bucket"),
        "value",
    )
    lead_w = Window.partitionBy("user_id", "day_bucket").orderBy("ts_us")
    d = ev.select(
        "user_id",
        "day_bucket",
        "value",
        (
            F.coalesce(
                F.lead("ts_us").over(lead_w),
                (F.col("day_bucket") + 1) * _DAY_US,
            )
            - F.col("ts_us")
        ).alias("dt_us"),
    )
    return d.groupBy("user_id", "day_bucket").agg(
        F.sum("dt_us").alias("held_us"),
        F.count(F.lit(1)).alias("n_ticks"),
        (
            dsum(F.col("value") * (F.col("dt_us") / F.lit(1_000_000.0)))
            / (F.sum("dt_us").cast("double") / F.lit(1_000_000.0))
        ).alias("twap"),
    )


@query(
    "q_anomaly_zscore",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             epoch_us(ts) * 1000 + event_id % 1000 AS ord
      FROM events
    ), rolled AS (
      SELECT user_id, ts_us, value,
             COUNT(*) OVER w AS n,
             CAST(SUM(CAST(FLOOR(value*1000000 + 0.5) AS BIGINT)) OVER w
                  AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(value*value*1000000 + 0.5) AS BIGINT)) OVER w
                  AS DOUBLE) / 1000000.0 AS sxx
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ord
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), scored AS (
      SELECT user_id, ts_us, value, n,
             sx / n AS mean_v,
             sxx / n - (sx / n) * (sx / n) AS var_v
      FROM rolled WHERE n >= 10
    )
    SELECT user_id, ts_us, value, n,
           (value - mean_v) / SQRT(var_v) AS zscore
    FROM scored
    WHERE var_v > 1e-9
      AND ABS((value - mean_v) / SQRT(var_v)) > 2.5
    """,
    doc="Rolling z-score anomaly detection — the monitoring staple over "
    "a tick stream: each point scored against the mean/stddev of its "
    "own trailing 20-row window (per symbol, total BIGINT tick order), "
    "emitting points beyond 2.5 sigma. Moments come from fixed-point "
    "BIGINT window sums (Sx, Sx^2) combined with the identical IEEE "
    "sequence in both engines — built-in stddev over a frame "
    "accumulates raw doubles in frame order and is not "
    "cross-engine-stable. One window sort per symbol partition, "
    "embarrassingly parallel across symbols at scale; warm-up rows "
    "(n < 10) and flat windows (var <= 1e-9) are excluded "
    "deterministically.",
    tags=("timeseries", "anomaly", "window"),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.queries.helpers import _scaled_long

    ev = events_us(spark, sf_dir).select(
        "user_id",
        "ts_us",
        "value",
        (F.col("ts_us") * 1000 + F.col("event_id") % 1000).alias("ord"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ord")
        .rowsBetween(-19, Window.currentRow)
    )
    rolled = ev.select(
        "user_id",
        "ts_us",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        (
            F.sum(_scaled_long(F.col("value"))).over(w).cast("double")
            / F.lit(1_000_000.0)
        ).alias("sx"),
        (
            F.sum(_scaled_long(F.col("value") * F.col("value"))).over(w)
            .cast("double")
            / F.lit(1_000_000.0)
        ).alias("sxx"),
    )
    n = F.col("n")
    mean_v = F.col("sx") / n
    var_v = F.col("sxx") / n - mean_v * mean_v
    scored = rolled.filter(n >= 10).select(
        "user_id",
        "ts_us",
        "value",
        "n",
        mean_v.alias("mean_v"),
        var_v.alias("var_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.sqrt(F.col("var_v"))
    return scored.filter(
        (F.col("var_v") > 1e-9) & (F.abs(z) > 2.5)
    ).select("user_id", "ts_us", "value", "n", z.alias("zscore"))


def _ord_col() -> F.Column:
    """The registry's total BIGINT tick order (see module docstring)."""
    return (F.col("ts_us") * 1000 + F.col("event_id") % 1000).alias("ord")


_ORD_SQL = "epoch_us(ts) * 1000 + event_id % 1000"


@query(
    "q_m4_downsample",
    f"""
    WITH k AS (
      SELECT user_id,
             epoch_us(ts) // {_HOUR_US} AS bucket_hour,
             value,
             {_ORD_SQL} AS ord
      FROM events
    ), w AS (
      SELECT user_id, bucket_hour, value, ord,
             MIN(value) OVER pb AS vmin,
             MAX(value) OVER pb AS vmax
      FROM k
      WINDOW pb AS (PARTITION BY user_id, bucket_hour)
    )
    SELECT user_id, bucket_hour,
           MIN(value) AS v_min,
           MAX(value) AS v_max,
           MIN(CASE WHEN value = vmin THEN ord END) AS min_ord,
           MAX(CASE WHEN value = vmax THEN ord END) AS max_ord,
           COUNT(*) AS n_points
    FROM w GROUP BY 1, 2
    """,
    doc="M4 visualization downsampling (Jugel et al., VLDB 2014): per "
    "(symbol, pixel-bucket), the min and max value AND the ordering "
    "keys where they occur — the four points that make a rendered "
    "line pixel-exact, unlike plain min/max which loses the x "
    "coordinates. OHLC's open/close come for free from the same keys "
    "(q_ohlc_bars); M4's distinctive output is the extremes' "
    "positions. Shape: ONE partial+final hash agg — the (value, ord) "
    "extremes travel as lexicographic struct min/max partials, so "
    "map-side combine applies and the shuffle carries one row per "
    "(partition, symbol, bucket); no window sort at all. Ties on "
    "value resolve to the smallest ord for the min and the largest "
    "for the max — total because ord is unique; the oracle derives "
    "the identical extremes via a per-bucket window + conditional "
    "agg (DuckDB 1.0 executes struct-MIN/MAX aggregates ~400x slower "
    "than this form — 34.8 s vs 0.09 s at sf0.1 — while Spark's "
    "struct partials are the FASTER Spark shape, so the two sides "
    "deliberately use different but value-identical formulations).",
    tags=("timeseries", "downsample", "viz"),
)
def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = events_us(spark, sf_dir).select(
        "user_id",
        F.expr(f"ts_us div {_HOUR_US}").alias("bucket_hour"),
        "value",
        _ord_col(),
    )
    vo = F.struct(F.col("value").alias("v"), F.col("ord").alias("o"))
    return k.groupBy("user_id", "bucket_hour").agg(
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min(vo)["o"].alias("min_ord"),
        F.max(vo)["o"].alias("max_ord"),
        F.count(F.lit(1)).alias("n_points"),
    )


@query(
    "q_latest_point",
    f"""
    WITH k AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             {_ORD_SQL} AS ord
      FROM events
    )
    SELECT user_id,
           MAX(ts_us) AS last_ts_us,
           arg_max(value, ord) AS last_value,
           COUNT(*) AS n_ticks
    FROM k GROUP BY 1
    """,
    doc="Latest observation per series — THE most-issued query against "
    "any tick/metrics store (kdb+ 'last', TimescaleDB last(), PromQL "
    "instant vector): the newest value and its timestamp for every "
    "symbol. ONE partial+final hash agg; max_by carries (ord, value) "
    "partials map-side, so the shuffle is one row per (partition, "
    "symbol) and there is no window sort and no self-join — the "
    "row_number()=1 formulation costs a full partition sort for the "
    "same answer. At 100 TB the real deployment serves this from the "
    "ingest-maintained continuous aggregate's tail, same plan shape.",
    tags=("timeseries", "latest"),
)
def q_latest_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = events_us(spark, sf_dir).select("user_id", "ts_us", "value", _ord_col())
    return k.groupBy("user_id").agg(
        F.max("ts_us").alias("last_ts_us"),
        F.max_by("value", "ord").alias("last_value"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# Heartbeat liveness window: a sample keeps its series "live" for 30
# simulated minutes (the testdata emits a handful of events per
# symbol-day, so both covered and dead spans occur at every sf tier).
_HEARTBEAT_US = 1_800_000_000


@query(
    "q_heartbeat_uptime",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) // {_DAY_US} AS day_bucket,
             {_ORD_SQL} AS ord
      FROM events
    ), d AS (
      SELECT user_id, day_bucket, ts_us,
             LEAD(ts_us) OVER (
               PARTITION BY user_id, day_bucket ORDER BY ts_us, ord
             ) AS nxt
      FROM e
    )
    SELECT user_id, day_bucket,
           COUNT(*) AS n_beats,
           CAST(SUM(LEAST(
             {_HEARTBEAT_US},
             COALESCE(nxt, (day_bucket + 1) * {_DAY_US}) - ts_us
           )) AS BIGINT) AS live_us,
           CAST(SUM(CASE WHEN nxt IS NOT NULL
                          AND nxt - ts_us > {_HEARTBEAT_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_gaps,
           CAST(CAST(SUM(LEAST(
             {_HEARTBEAT_US},
             COALESCE(nxt, (day_bucket + 1) * {_DAY_US}) - ts_us
           )) AS BIGINT) AS DOUBLE) / {_DAY_US}.0 AS live_ratio
    FROM d GROUP BY 1, 2
    """,
    doc="Heartbeat/uptime aggregation (the TimescaleDB heartbeat_agg "
    "staple for device fleets): each sample keeps its series live for "
    "a fixed window, and the union of those intervals per symbol-day "
    "gives covered time, dead-gap count, and uptime ratio. The "
    "interval union needs no sweep-line: intervals start at sample "
    "times, so covered time is sum(min(gap_to_next, window)) with the "
    "last sample clamped to the day boundary — one lead() per "
    "(symbol, day) partition plus the same-keyed aggregation, no "
    "second exchange, embarrassingly parallel across symbol-days at "
    "100 TB. Every quantity is integer µs arithmetic; the one double "
    "(live_ratio) is a single identical IEEE divide in both engines.",
    tags=("timeseries", "uptime", "window"),
)
def q_heartbeat_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_us(spark, sf_dir).select(
        "user_id",
        "ts_us",
        F.expr(f"ts_us div {_DAY_US}").alias("day_bucket"),
        _ord_col(),
    )
    w = Window.partitionBy("user_id", "day_bucket").orderBy("ts_us", "ord")
    nxt = F.lead("ts_us").over(w)
    d = e.select(
        "user_id",
        "day_bucket",
        F.least(
            F.lit(_HEARTBEAT_US),
            F.coalesce(nxt, (F.col("day_bucket") + 1) * _DAY_US)
            - F.col("ts_us"),
        ).alias("__live"),
        (nxt.isNotNull() & (nxt - F.col("ts_us") > _HEARTBEAT_US))
        .cast("int")
        .alias("__dead"),
    )
    g = d.groupBy("user_id", "day_bucket").agg(
        F.count(F.lit(1)).alias("n_beats"),
        F.sum("__live").cast("bigint").alias("live_us"),
        F.sum("__dead").cast("bigint").alias("n_dead_gaps"),
    )
    return g.select(
        "user_id",
        "day_bucket",
        "n_beats",
        "live_us",
        "n_dead_gaps",
        (F.col("live_us").cast("double") / F.lit(float(_DAY_US))).alias(
            "live_ratio"
        ),
    )


@query(
    "q_state_durations",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us,
             epoch_us(ts) // {_DAY_US} AS day_bucket,
             {_ORD_SQL} AS ord
      FROM events
    ), d AS (
      SELECT event_type,
             COALESCE(LEAD(ts_us) OVER (
               PARTITION BY user_id, day_bucket ORDER BY ts_us, ord
             ), (day_bucket + 1) * {_DAY_US}) - ts_us AS dur_us
      FROM e
    )
    SELECT event_type,
           COUNT(*) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / COUNT(*)
             AS avg_interval_us
    FROM d GROUP BY 1
    """,
    doc="Time-in-state aggregation (TimescaleDB state_agg / flink CEP "
    "duration staple): each sample's event_type is the state its "
    "series occupies until the next sample (day-bounded, so a silent "
    "series closes its last state at the day boundary instead of "
    "bleeding across the archive); output is total and mean occupancy "
    "per state. One lead() per (symbol, day) partition; the "
    "state-keyed re-aggregation shuffles the 5-state partial table, "
    "not the ticks (partial+final agg). Durations are integer µs; the "
    "mean is one identical IEEE divide.",
    tags=("timeseries", "state", "window"),
)
def q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_us(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts_us",
        F.expr(f"ts_us div {_DAY_US}").alias("day_bucket"),
        _ord_col(),
    )
    w = Window.partitionBy("user_id", "day_bucket").orderBy("ts_us", "ord")
    d = e.select(
        "event_type",
        (
            F.coalesce(
                F.lead("ts_us").over(w),
                (F.col("day_bucket") + 1) * _DAY_US,
            )
            - F.col("ts_us")
        ).alias("dur_us"),
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_us"),
        (
            F.sum("dur_us").cast("bigint").cast("double")
            / F.count(F.lit(1))
        ).alias("avg_interval_us"),
    )


# EWMA smoothing factor: contribution of the newest sample. 0.3 is in
# double range where the decay survives hundreds of samples per
# symbol-day without denormal underflow.
_EWMA_ALPHA = 0.3


@query(
    "q_ewma_smooth",
    f"""
    WITH e AS (
      SELECT user_id,
             epoch_us(ts) // {_DAY_US} AS day_bucket,
             value,
             {_ORD_SQL} AS ord
      FROM events
    ), g AS (
      SELECT user_id, day_bucket,
             list(value ORDER BY ord) AS vs,
             COUNT(*) AS n_samples
      FROM e GROUP BY 1, 2
    )
    SELECT user_id, day_bucket, n_samples,
           list_reduce(vs, (acc, x) ->
             {_EWMA_ALPHA}e0 * x + {1 - _EWMA_ALPHA}e0 * acc) AS ewma
    FROM g
    """,
    doc="Exponentially-weighted moving average per symbol-day — the "
    "kdb+ ema / pandas ewm staple whose recurrence (ewma = a*x + "
    "(1-a)*prev) is inherently sequential and outside SQL window "
    "frames. Both engines run the IDENTICAL left fold — Spark "
    "F.aggregate over the (ord-sorted) collected day, DuckDB "
    "list_reduce over list(ORDER BY ord) — so every intermediate is "
    "the same IEEE double and the hash matches bit-exactly with no "
    "fixed-point detour. State per group is one double; the collect "
    "is bounded by the day partition (the same bound the TWAP/LOCF "
    "family rides), so memory stays O(samples-per-symbol-day) at any "
    "archive depth. One shuffle total (the groupBy); no window sort.",
    tags=("timeseries", "smoothing", "fold"),
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_us(spark, sf_dir).select(
        "user_id",
        F.expr(f"ts_us div {_DAY_US}").alias("day_bucket"),
        "value",
        _ord_col(),
    )
    g = e.groupBy("user_id", "day_bucket").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ord"), F.col("value")))
        ).alias("pairs"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    vs = F.transform(F.col("pairs"), lambda p: p["value"])
    a, b = F.lit(_EWMA_ALPHA), F.lit(1 - _EWMA_ALPHA)
    ewma = F.aggregate(
        vs,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(a * x + b * acc),
    )
    return g.select("user_id", "day_bucket", "n_samples", ewma.alias("ewma"))


@query(
    "q_max_drawdown",
    f"""
    WITH e AS (
      SELECT user_id, value,
             {_ORD_SQL} AS ord
      FROM events
    ), r AS (
      SELECT user_id, value,
             MAX(value) OVER (
               PARTITION BY user_id ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS peak
      FROM e
    )
    SELECT user_id,
           COUNT(*) AS n_ticks,
           MAX(peak) AS peak_value,
           MIN(CASE WHEN peak > 0 THEN (value - peak) / peak END)
             AS max_drawdown
    FROM r GROUP BY 1
    """,
    doc="Maximum drawdown per symbol — the canonical risk statistic: "
    "largest fractional drop from a running peak over the full tick "
    "history. The running peak is a GROWING max frame (unbounded "
    "preceding -> current row), which Spark executes in O(n) per "
    "partition — the exact linear/quadratic frame distinction the "
    "gap-fill rework established; the per-row drawdown is one "
    "identical IEEE subtract+divide and the final MIN/MAX are "
    "order-insensitive. One window sort per symbol plus the same-"
    "keyed aggregation (no second exchange). Partitions grow with "
    "archive depth like the LOCF family — at 100 TB the deployment "
    "computes per-epoch drawdown partials from the continuous "
    "aggregate instead of raw ticks; the frame stays linear either "
    "way. Non-positive peaks are excluded deterministically (the "
    "ratio is only meaningful for positive prices).",
    tags=("timeseries", "risk", "window"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_us(spark, sf_dir).select("user_id", "value", _ord_col())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = e.select(
        "user_id", "value", F.max("value").over(w).alias("peak")
    )
    dd = F.when(
        F.col("peak") > 0,
        (F.col("value") - F.col("peak")) / F.col("peak"),
    )
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.max("peak").alias("peak_value"),
        F.min(dd).alias("max_drawdown"),
    )


@query(
    "q_top_movers",
    f"""
    WITH k AS (
      SELECT user_id,
             epoch_us(ts) // {_DAY_US} AS day_bucket,
             value,
             {_ORD_SQL} AS ord
      FROM events
    ), bars AS (
      SELECT user_id, day_bucket,
             arg_min(value, ord) AS open_v,
             arg_max(value, ord) AS close_v
      FROM k GROUP BY 1, 2
    ), chg AS (
      SELECT user_id, day_bucket, open_v, close_v,
             (close_v - open_v) / open_v AS pct_change
      FROM bars WHERE open_v > 0
    )
    SELECT day_bucket, rk, user_id, open_v, close_v, pct_change
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY day_bucket
               ORDER BY pct_change DESC, user_id
             ) AS INT) AS rk
      FROM chg
    )
    WHERE rk <= 3
    """,
    doc="Top daily gainers — the market-screener staple: open/close "
    "per symbol-day from arg_min/arg_max on the total tick order, "
    "percent change, then the top 3 movers per day by rank. Two "
    "exchanges total: the partial+final bar aggregation over ticks, "
    "then a window rank over the BAR table (one row per symbol-day — "
    "at 100 TB that is ~10^6x smaller than the tick scan, so the "
    "rank's day-partitioned sort is trivially cheap; served from the "
    "continuous aggregate in deployment). pct_change is one identical "
    "IEEE subtract+divide; the rank order carries the user_id "
    "tie-break so LIMIT-by-rank is total cross-engine.",
    tags=("timeseries", "rank", "downsample"),
)
def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = events_us(spark, sf_dir).select(
        "user_id",
        F.expr(f"ts_us div {_DAY_US}").alias("day_bucket"),
        "value",
        _ord_col(),
    )
    bars = k.groupBy("user_id", "day_bucket").agg(
        F.min_by("value", "ord").alias("open_v"),
        F.max_by("value", "ord").alias("close_v"),
    )
    chg = bars.filter(F.col("open_v") > 0).select(
        "user_id",
        "day_bucket",
        "open_v",
        "close_v",
        (
            (F.col("close_v") - F.col("open_v")) / F.col("open_v")
        ).alias("pct_change"),
    )
    w = Window.partitionBy("day_bucket").orderBy(
        F.col("pct_change").desc(), "user_id"
    )
    return (
        chg.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select(
            "day_bucket", "rk", "user_id", "open_v", "close_v", "pct_change"
        )
    )


@query(
    "q_cusum_changepoint",
    f"""
    WITH e AS (
      SELECT user_id,
             epoch_us(ts) // {_DAY_US} AS day_bucket,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS xs,
             {_ORD_SQL} AS ord
      FROM events
    ), g AS (
      SELECT user_id, day_bucket, ord, xs,
             CAST(COUNT(*) OVER pd AS BIGINT) AS n,
             CAST(SUM(xs) OVER pd AS BIGINT) AS sx
      FROM e
      WINDOW pd AS (PARTITION BY user_id, day_bucket)
    ), s AS (
      SELECT user_id, day_bucket, ord, n,
             n * CAST(SUM(xs) OVER po AS BIGINT)
               - CAST(ROW_NUMBER() OVER po AS BIGINT) * sx AS walk
      FROM g
      WINDOW po AS (PARTITION BY user_id, day_bucket ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), d AS (
      SELECT user_id, day_bucket, ord, n,
             CAST(walk - MIN(walk) OVER po2 AS BIGINT) AS drawup
      FROM s
      WINDOW po2 AS (PARTITION BY user_id, day_bucket ORDER BY ord
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, day_bucket,
           MAX(n) AS n_samples,
           CAST(MAX(drawup) AS DOUBLE)
             / (CAST(MAX(n) AS DOUBLE) * 1000000.0) AS cusum_stat,
           -((MAX({{'d': drawup, 'no': -ord}})).no) AS cp_ord
    FROM d GROUP BY 1, 2
    """,
    doc="CUSUM change-point detection per symbol-day — the monitoring "
    "staple for mean shifts (Page 1954): the classic two-sided CUSUM "
    "range statistic max_t(S_t) - min_t(S_t over the prefix), where "
    "S_t is the prefix sum of mean-centered samples, re-expressed as "
    "PURE WINDOW ALGEBRA: the drawup of the centered prefix walk "
    "(running sum minus its running min — both GROWING O(n) frames, "
    "the linear/quadratic discipline the gap-fill rework "
    "established). cp_ord estimates the change location (the argmax "
    "of the drawup, first occurrence on ties via the -ord struct "
    "tie-break). Determinism: the walk is kept INTEGER by scaling — "
    "n*prefix(xs) - rank*sum(xs) avoids dividing by n, so every "
    "intermediate is exact BIGINT (|walk| <= n^2 * max|x| * 1e6, "
    "~2^50 at 1k samples/day — re-center per epoch past that) and "
    "only the final stat is one identical IEEE cast-divide. Shape: "
    "one shuffle on (symbol, day); the unordered moment window, both "
    "running windows and the final agg all share it.",
    tags=("timeseries", "changepoint", "window"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.queries.helpers import _scaled_long

    e = events_us(spark, sf_dir).select(
        "user_id",
        F.expr(f"ts_us div {_DAY_US}").alias("day_bucket"),
        _scaled_long(F.col("value")).alias("xs"),
        _ord_col(),
    )
    keys = ("user_id", "day_bucket")
    w_part = Window.partitionBy(*keys)
    w_ord = Window.partitionBy(*keys).orderBy("ord")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = e.select(
        "user_id",
        "day_bucket",
        "ord",
        "xs",
        F.count(F.lit(1)).over(w_part).cast("bigint").alias("n"),
        F.sum("xs").over(w_part).cast("bigint").alias("sx"),
    )
    s = g.select(
        "user_id",
        "day_bucket",
        "ord",
        "n",
        (
            F.col("n") * F.sum("xs").over(w_run).cast("bigint")
            - F.row_number().over(w_ord).cast("bigint") * F.col("sx")
        ).alias("walk"),
    )
    d = s.select(
        "user_id",
        "day_bucket",
        "ord",
        "n",
        (F.col("walk") - F.min("walk").over(w_run))
        .cast("bigint")
        .alias("drawup"),
    )
    arg = F.struct(
        F.col("drawup").alias("d"), (-F.col("ord")).alias("no")
    )
    return d.groupBy("user_id", "day_bucket").agg(
        F.max("n").alias("n_samples"),
        (
            F.max("drawup").cast("double")
            / (F.max("n").cast("double") * F.lit(1_000_000.0))
        ).alias("cusum_stat"),
        (-F.max(arg)["no"]).alias("cp_ord"),
    )


# One mid-span day of the testdata's fixed January-2024 month (all sf
# tiers share the generator's clock): 2024-01-08 UTC.
_WINDOW_LO_US = 1_704_672_000_000_000
_WINDOW_HI_US = _WINDOW_LO_US + _DAY_US


@query(
    "q_time_window_scan",
    f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
    FROM events
    WHERE epoch_us(ts) >= {_WINDOW_LO_US}
      AND epoch_us(ts) < {_WINDOW_HI_US}
    """,
    doc="Time-window scan over the CHUNKED layout (sources/layout.py): "
    "the table is stored as chunk_us= day directories with ts-sorted "
    "files (built once per session, charged to the events_time_layout "
    "cache line), and the one-day read derives BOTH pruning tiers from "
    "the layout manifest — directory pruning at planning time "
    "(PartitionFilters skips 29 of 30 chunks before listing) and the "
    "pushed ts row-filter (row-group min/max skip inside the chunk, "
    "tight because files are ts-sorted). The oracle scans the flat "
    "table with the same interval: identical rows prove the layout is "
    "lossless while the plan census (tests/test_plans.py) proves the "
    "pruned scan reads a strict subset of files. THE mechanism that "
    "keeps a multi-year tick archive interactive at 100 TB.",
    tags=("timeseries", "layout", "pruning"),
)
def q_time_window_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.sources.layout import (
        events_layout_ckpt,
        read_time_range,
    )

    path = events_layout_ckpt(spark, sf_dir)
    return read_time_range(spark, path, _WINDOW_LO_US, _WINDOW_HI_US).select(
        "event_id", "user_id", "ts_us", "value"
    )


# A different mid-span day (2024-01-15) for the append-built layout's
# window, so the two layout queries don't share an answer.
_APPEND_LO_US = _WINDOW_LO_US + 7 * _DAY_US
_APPEND_HI_US = _APPEND_LO_US + _DAY_US


@query(
    "q_append_window_scan",
    f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
    FROM events
    WHERE epoch_us(ts) >= {_APPEND_LO_US}
      AND epoch_us(ts) < {_APPEND_HI_US}
    """,
    doc="Time-window scan over a layout built by the INGEST LIFECYCLE "
    "— an initial write plus two appends (each landing files into "
    "existing chunk directories) folded back by chunk-atomic "
    "compaction (sources/layout.py append_time_layout + "
    "compact_chunks) — not a one-shot write. The oracle scans the "
    "flat table over the same interval: identical rows prove the "
    "whole append+compact cycle lossless, the property a streaming "
    "tick archive depends on every day. Same two pruning tiers as "
    "q_time_window_scan (manifest-derived directory pruning + pushed "
    "ts row filter over re-sorted files).",
    tags=("timeseries", "layout", "ingest"),
)
def q_append_window_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.sources.layout import (
        events_append_layout_ckpt,
        read_time_range,
    )

    path = events_append_layout_ckpt(spark, sf_dir)
    return read_time_range(spark, path, _APPEND_LO_US, _APPEND_HI_US).select(
        "event_id", "user_id", "ts_us", "value"
    )


# Symbol band: non-empty at sf0.01 and above (sf0.01 has 150 user
# ids, sf0.1 1.5k, sf1 15k). At sf0.001 there are only ~15 ids, so the
# band — and the oracle — both return zero rows and the parity check
# is vacuous there; the driver compares at sf0.01, where it bites.
_ZBAND_LO, _ZBAND_HI = 40, 79


@query(
    "q_zorder_scan",
    f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
    FROM events
    WHERE epoch_us(ts) >= {_WINDOW_LO_US}
      AND epoch_us(ts) < {_WINDOW_HI_US}
      AND user_id BETWEEN {_ZBAND_LO} AND {_ZBAND_HI}
    """,
    doc="Symbol-band + time-window scan over the Z-ORDERED chunked "
    "layout (sources/layout.py write_zorder_layout): files inside each "
    "day chunk are Morton-ordered over interleaved (ts_us, user_id) "
    "bits, so per-file min/max stats are selective on BOTH columns and "
    "the pushed 2-D predicate skips files the ts-sorted layout must "
    "read (tests/test_layout.py measures the file-stat overlap of both "
    "layouts for this exact predicate box). Directory pruning on "
    "chunk_us= is unchanged. This is Delta/Iceberg's OPTIMIZE ZORDER "
    "re-expressed as plain Spark — the layout for the symbol+window "
    "shape that dominates tick workloads. Oracle: the same predicate "
    "on the flat table, so the hash match proves the clustered layout "
    "lossless.",
    tags=("timeseries", "layout", "pruning", "zorder"),
)
def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.sources.layout import (
        events_zorder_ckpt,
        read_time_range,
    )

    path = events_zorder_ckpt(spark, sf_dir)
    return (
        read_time_range(spark, path, _WINDOW_LO_US, _WINDOW_HI_US)
        .filter(F.col("user_id").between(_ZBAND_LO, _ZBAND_HI))
        .select("event_id", "user_id", "ts_us", "value")
    )


# 2024-01-01T00:00:00Z — the generator's month start, shared by every
# sf tier (TESTDATA.md); day-number arithmetic below derives from it.
_MONTH_LO_US = 1_704_067_200_000_000


@query(
    "q_chunk_dpp_join",
    f"""
    SELECT (epoch_us(ts) // {_DAY_US}) * {_DAY_US} AS chunk_us,
           COUNT(*) AS n,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE (epoch_us(ts) // {_DAY_US}) % 7 = 2
    GROUP BY 1
    """,
    doc="DYNAMIC partition pruning over the chunked layout: a "
    "generated 31-row calendar dim (one row per January day, "
    "day-of-week derived) is filtered to one weekday and joined to the "
    "chunk_us partition column — Catalyst broadcasts the filtered dim "
    "and re-uses the broadcast as a runtime IN-filter on the directory "
    "listing (dynamicpruningexpression in the scan, asserted in "
    "tests/test_layout.py), so only the ~4 matching day-chunks of 30 "
    "are ever read. This is the selection shape static pruning cannot "
    "serve (the surviving days are only known after the dim filter "
    "runs) and THE pattern that makes fact-to-calendar joins viable "
    "over a multi-year archive. Oracle: the equivalent flat-table "
    "predicate, so the hash match also re-proves layout losslessness.",
    tags=("timeseries", "layout", "pruning", "join"),
)
def q_chunk_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.sources.layout import (
        events_layout_ckpt,
        read_layout,
    )

    chunked = read_layout(spark, events_layout_ckpt(spark, sf_dir))
    dim = (
        spark.range(31)
        .select(
            (F.lit(_MONTH_LO_US) + F.col("id") * _DAY_US).alias("chunk_us"),
            F.pmod(
                F.lit(_MONTH_LO_US // _DAY_US) + F.col("id"), F.lit(7)
            ).alias("dow"),
        )
        .filter(F.col("dow") == 2)
    )
    return (
        chunked.join(F.broadcast(dim), "chunk_us")
        .groupBy("chunk_us")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select("chunk_us", "n", "sum_value")
    )
