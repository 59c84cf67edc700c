"""Technical indicators + robust/reporting staples (round 12).

The reference's consumer threads stop at VWAP/latency folds
(reference src/tests/integration_test.rs:221-288); a tick store's users
immediately ask for the next layer: momentum/volatility indicators over
the tick stream (RSI, Bollinger), robust outlier detection (median/MAD
— the monitoring twin of q_anomaly_zscore that survives fat tails),
engagement windows (rolling 7-day active users), and concentration
reports (Pareto deciles, winsorized means). Everything here follows the
module disciplines established in timeseries.py:

- the total BIGINT tick order ``ord = ts_us*1000 + event_id % 1000``
  (totality pinned by tests/test_ord_uniqueness.py);
- fixed-point micro-unit BIGINT sums for anything accumulated across
  rows (IEEE addition is order-sensitive; integer sums are not);
- growing/bounded ROWS frames only — never a per-key unbounded
  re-scan;
- windows over post-aggregation tables are bounded by key cardinality
  (bars, deciles), never raw fact rows.

Scale notes per query are inline; all are embarrassingly parallel
across users/symbols except the decile report, whose global percentile
cutoffs ride operators/percentiles.py's binned-selection path past the
in-memory budget.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.queries.helpers import (
    _scaled_long,
    dsum,
    events_us,
    sql_dsum,
)
from open_rust_timeseries_db_spark.queries.registry import query
from open_rust_timeseries_db_spark.sources.catalog import load_table

_HOUR_US = 3_600_000_000
_DAY_US = 86_400_000_000

_ORD_SQL = "epoch_us(ts) * 1000 + event_id % 1000"
# 3 * 1.4826 (the normal-consistency MAD multiplier), pre-folded to ONE
# literal so both engines do a single multiply against it — the decimal
# literal parses to the identical double everywhere.
_MAD_K = "4.4478"


@query(
    "q_rsi",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vfx,
             {_ORD_SQL} AS ord
      FROM events
    ), d AS (
      SELECT user_id, ts_us, value, ord,
             vfx - LAG(vfx) OVER (PARTITION BY user_id ORDER BY ord) AS dfx
      FROM e
    ), rolled AS (
      SELECT user_id, ts_us, value,
             COUNT(dfx) OVER w AS n_delta,
             SUM(CASE WHEN dfx > 0 THEN dfx ELSE 0 END) OVER w AS sg,
             SUM(CASE WHEN dfx < 0 THEN -dfx ELSE 0 END) OVER w AS sl
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ord
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts_us, value,
           100.0 * (CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE)) AS rsi
    FROM rolled
    WHERE n_delta = 14 AND sg + sl > 0
      AND (100.0 * (CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE)) >= 70
           OR 100.0 * (CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE)) <= 30)
    """,
    doc="Cutler's RSI (14-tick simple-average form) per symbol, "
    "emitting overbought/oversold ticks (RSI >= 70 / <= 30). Deltas "
    "are EXACT micro-unit BIGINT differences (vfx - lag(vfx)), so the "
    "conditional gain/loss window sums are integer-associative; the "
    "only float ops are one cast-divide and one multiply, identical "
    "IEEE sequences both engines. One window sort per symbol (lag and "
    "the rolling frame share the same window spec, one exchange), "
    "embarrassingly parallel across symbols; the SMA form (not "
    "Wilder's recursive EWMA) is chosen because it is "
    "cross-engine-exact — the recursive form lives in q_ewma_smooth.",
    tags=("timeseries", "indicator", "window"),
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id",
        "ts_us",
        "value",
        _scaled_long(F.col("value")).alias("vfx"),
        (F.col("ts_us") * 1000 + F.col("event_id") % 1000).alias("ord"),
    )
    w_lag = Window.partitionBy("user_id").orderBy("ord")
    d = ev.select(
        "user_id",
        "ts_us",
        "value",
        "ord",
        (F.col("vfx") - F.lag("vfx").over(w_lag)).alias("dfx"),
    )
    w = w_lag.rowsBetween(-13, Window.currentRow)
    rolled = d.select(
        "user_id",
        "ts_us",
        "value",
        F.count("dfx").over(w).alias("n_delta"),
        F.sum(
            F.when(F.col("dfx") > 0, F.col("dfx")).otherwise(F.lit(0))
        ).over(w).alias("sg"),
        F.sum(
            F.when(F.col("dfx") < 0, -F.col("dfx")).otherwise(F.lit(0))
        ).over(w).alias("sl"),
    )
    # The division MUST live inside when(): a bare `sg/(sg+sl)` guarded
    # only by a `sg+sl > 0` conjunct is NOT ANSI-safe — whole-stage
    # codegen hoists the division as a common subexpression of the
    # predicate and evaluates it before the conjunct short-circuits,
    # throwing DIVIDE_BY_ZERO on an all-flat window (hit at sf0.01 under
    # Spark 4's default ANSI mode). when() branches are guaranteed lazy.
    rsi = F.when(
        F.col("sg") + F.col("sl") > 0,
        F.lit(100.0)
        * (
            F.col("sg").cast("double")
            / (F.col("sg") + F.col("sl")).cast("double")
        ),
    )
    return rolled.filter(
        (F.col("n_delta") == 14)
        & ((rsi >= 70) | (rsi <= 30))
    ).select("user_id", "ts_us", "value", rsi.alias("rsi"))


@query(
    "q_bollinger_bands",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_HOUR_US} AS bucket_hour,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vfx,
             {_ORD_SQL} AS ord
      FROM events
    ), bars AS (
      SELECT user_id, bucket_hour,
             CAST(arg_max(vfx, ord) AS DOUBLE) / 1000000.0 AS close
      FROM e GROUP BY 1, 2
    ), rolled AS (
      SELECT user_id, bucket_hour, close,
             COUNT(*) OVER w AS n,
             CAST(SUM(CAST(FLOOR(close * 1000000 + 0.5) AS BIGINT)) OVER w
                  AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(CAST(FLOOR(close * close * 1000000 + 0.5) AS BIGINT))
                  OVER w AS DOUBLE) / 1000000.0 AS sxx
      FROM bars
      WINDOW w AS (PARTITION BY user_id ORDER BY bucket_hour
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    ), scored AS (
      SELECT user_id, bucket_hour, close, n,
             sx / n AS mid,
             sxx / n - (sx / n) * (sx / n) AS var_v
      FROM rolled WHERE n >= 12
    )
    SELECT user_id, bucket_hour, close, mid,
           mid + 2 * SQRT(var_v) AS upper,
           mid - 2 * SQRT(var_v) AS lower,
           (close - (mid - 2 * SQRT(var_v))) / (4 * SQRT(var_v)) AS pct_b
    FROM scored WHERE var_v > 1e-9
    """,
    doc="Bollinger bands (24-bar, 2-sigma) over HOURLY CLOSE bars — "
    "the indicator-over-continuous-aggregate shape: raw ticks collapse "
    "to one close per (symbol, hour) first (arg_max on the total tick "
    "order), so the window runs over the bar table, bounded by "
    "symbol x hours regardless of tick volume. Moments use the same "
    "fixed-point Sx/Sx^2 discipline as q_anomaly_zscore (built-in "
    "stddev over a frame is not cross-engine-stable); %B = "
    "(close - lower) / (upper - lower) with the identical IEEE "
    "sequence both sides. Warm-up bars (n < 12) and flat windows "
    "are excluded deterministically.",
    tags=("timeseries", "indicator", "window"),
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id",
        F.expr(f"ts_us div {_HOUR_US}").alias("bucket_hour"),
        _scaled_long(F.col("value")).alias("vfx"),
        (F.col("ts_us") * 1000 + F.col("event_id") % 1000).alias("ord"),
    )
    bars = ev.groupBy("user_id", "bucket_hour").agg(
        (F.max_by("vfx", "ord").cast("double") / F.lit(1_000_000.0)).alias(
            "close"
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_hour")
        .rowsBetween(-23, Window.currentRow)
    )
    rolled = bars.select(
        "user_id",
        "bucket_hour",
        "close",
        F.count(F.lit(1)).over(w).alias("n"),
        (
            F.sum(_scaled_long(F.col("close"))).over(w).cast("double")
            / F.lit(1_000_000.0)
        ).alias("sx"),
        (
            F.sum(_scaled_long(F.col("close") * F.col("close"))).over(w)
            .cast("double")
            / F.lit(1_000_000.0)
        ).alias("sxx"),
    )
    n = F.col("n")
    mid = F.col("sx") / n
    var_v = F.col("sxx") / n - mid * mid
    scored = rolled.filter(n >= 12).select(
        "user_id",
        "bucket_hour",
        "close",
        mid.alias("mid"),
        var_v.alias("var_v"),
    )
    sd2 = F.lit(2) * F.sqrt(F.col("var_v"))
    return scored.filter(F.col("var_v") > 1e-9).select(
        "user_id",
        "bucket_hour",
        "close",
        "mid",
        (F.col("mid") + sd2).alias("upper"),
        (F.col("mid") - sd2).alias("lower"),
        (
            (F.col("close") - (F.col("mid") - sd2))
            / (F.lit(4) * F.sqrt(F.col("var_v")))
        ).alias("pct_b"),
    )


@query(
    "q_rolling_wau",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM events
    ), win AS (
      SELECT DISTINCT user_id, day + o.off AS day
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o
    ), days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day AS day_bucket, COUNT(DISTINCT w.user_id) AS wau
    FROM days d JOIN win w ON w.day = d.day
    GROUP BY 1
    """,
    doc="Rolling 7-day active users per day (WAU) — the engagement "
    "staple. The scale shape is contribute-forward, not scan-back: "
    "each DISTINCT (user, day) pair explodes to the <= 7 report days "
    "it contributes to (linear fan-out), then one distinct-count per "
    "day — versus the naive per-day re-scan of a week of history "
    "(7x the reads) or a range self-join. Report days are the days "
    "that actually have events, so the result needs no calendar "
    "scalar. Everything is exact integer day buckets.",
    tags=("analytic", "window", "distinct"),
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir)
    ud = ev.select(
        "user_id",
        F.expr(f"ts_us div {_DAY_US}").alias("day"),
    ).distinct()
    win = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("day"),
    ).distinct()
    days = ud.select("day").distinct()
    return (
        win.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.col("day").alias("day_bucket"), "wau")
    )


@query(
    "q_anomaly_mad",
    f"""
    WITH ranked AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY value, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), med AS (
      SELECT user_id,
             MAX(CASE WHEN rn = CAST(ROUND(0.5 * (n - 1)) AS BIGINT) + 1
                      THEN value END) AS med
      FROM ranked GROUP BY user_id
    ), dev AS (
      SELECT e.user_id, epoch_us(e.ts) AS ts_us, e.value, e.event_id,
             m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (user_id)
    ), dranked AS (
      SELECT user_id, adev,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY adev, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM dev
    ), mad AS (
      SELECT user_id,
             MAX(CASE WHEN rn = CAST(ROUND(0.5 * (n - 1)) AS BIGINT) + 1
                      THEN adev END) AS mad
      FROM dranked GROUP BY user_id
    )
    SELECT d.user_id, d.ts_us, d.value, d.med, md.mad
    FROM dev d JOIN mad md USING (user_id)
    WHERE md.mad > 0 AND d.adev > {_MAD_K} * md.mad
    """,
    doc="Robust outlier detection per symbol: median/MAD scoring "
    "(|v - median| > 3 * 1.4826 * MAD) — the fat-tail-safe twin of "
    "q_anomaly_zscore, whose mean/stddev a single spike can drag. "
    "Medians are EXACT nearest-rank selections "
    "(operators/percentiles.py grouped path: per-key distinct-value "
    "histogram, never a per-key raw-row single task), so both passes "
    "pick actual sample values — no interpolation, no float "
    "accumulation anywhere; the only float ops are one subtract/abs "
    "and one multiply-compare against the pre-folded 3*1.4826 "
    "literal. Two bounded passes + two broadcast-sized joins back to "
    "the raw rows.",
    tags=("timeseries", "anomaly", "percentile"),
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused med+MAD selection on ONE value histogram. The naive shape
    # (two nearest_rank_percentiles_by passes + two broadcast joins)
    # paid 4 exchanges, 2 broadcast builds and 3 corpus scans; but the
    # deviation histogram is a pure function of the VALUE histogram
    # (|v - med| per distinct value, counts summed), so the whole
    # med -> adev -> MAD chain runs inside one user_id-hash-partitioned
    # pipeline: groupBy(user_id, value) is the only row-level exchange,
    # the median attaches via a whole-partition window (no join), the
    # adev re-group and MAD window are both satisfied by the same
    # user_id partitioning (grouping on a superset of the partition key
    # elides the exchange), and one tiny (user_id, med, mad) table
    # broadcasts back onto the raw scan. Plan: 2 exchanges + 1
    # broadcast vs 4 + 2 (plans/r12/q_anomaly_mad_*.txt); identical
    # selections — same histogram algorithm as
    # operators/percentiles.nearest_rank_percentiles_by, and merging
    # symmetric values into one adev bucket is exactly what the
    # per-row grouping did.
    ev = events_us(spark, sf_dir).select(
        "user_id", "ts_us", "value", "event_id"
    )
    hist = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id", "value")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_all = Window.partitionBy("user_id")

    def rank_arm(value_col: str) -> Column:
        r = F.round(F.lit(0.5) * (F.col("__n") - 1)).cast("bigint") + 1
        return F.max(
            F.when(
                (F.col("__cum") - F.col("__c") < r) & (r <= F.col("__cum")),
                F.col(value_col),
            )
        )

    w_v = (
        Window.partitionBy("user_id")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_v = hist.select(
        "user_id",
        "value",
        "__c",
        F.sum("__c").over(w_v).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    with_med = cum_v.select(
        "user_id", "value", "__c", rank_arm("value").over(w_all).alias("med")
    )
    ahist = with_med.groupBy(
        "user_id", F.abs(F.col("value") - F.col("med")).alias("adev")
    ).agg(F.sum("__c").alias("__c"), F.max("med").alias("med"))
    w_a = (
        Window.partitionBy("user_id")
        .orderBy("adev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_a = ahist.select(
        "user_id",
        "adev",
        "med",
        "__c",
        F.sum("__c").over(w_a).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    med_mad = cum_a.groupBy("user_id").agg(
        F.max("med").alias("med"), rank_arm("adev").alias("mad")
    )
    return (
        ev.join(F.broadcast(med_mad), "user_id")
        .filter(
            (F.col("mad") > 0)
            & (
                F.abs(F.col("value") - F.col("med"))
                > F.lit(float(_MAD_K)) * F.col("mad")
            )
        )
        .select("user_id", "ts_us", "value", "med", "mad")
    )


@query(
    "q_revenue_concentration",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS rfx
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT rfx,
             ROW_NUMBER() OVER (ORDER BY rfx, o_custkey) AS rn,
             COUNT(*) OVER () AS n
      FROM cust
    ), cuts AS (
      SELECT
        {", ".join(
            f"MAX(CASE WHEN rn = CAST(ROUND(0.{i} * (n - 1)) AS BIGINT) + 1"
            f" THEN rfx END) AS c{i}" for i in range(1, 10)
        )}
      FROM ranked
    ), dec AS (
      SELECT c.rfx,
             1 + {" + ".join(
                 f"(CASE WHEN c.rfx > k.c{i} THEN 1 ELSE 0 END)"
                 for i in range(1, 10)
             )} AS decile
      FROM cust c CROSS JOIN cuts k
    ), agg AS (
      SELECT decile, COUNT(*) AS n_customers,
             CAST(SUM(rfx) AS BIGINT) AS dfx
      FROM dec GROUP BY 1
    )
    SELECT decile, n_customers,
           CAST(dfx AS DOUBLE) / 1000000.0 AS revenue,
           CAST(dfx AS DOUBLE)
             / CAST(CAST(SUM(dfx) OVER () AS BIGINT) AS DOUBLE) AS share,
           CAST(CAST(SUM(dfx) OVER (ORDER BY decile DESC) AS BIGINT)
                AS DOUBLE)
             / CAST(CAST(SUM(dfx) OVER () AS BIGINT) AS DOUBLE) AS cum_share
    FROM agg
    """,
    doc="Pareto / revenue-concentration report: customers bucketed "
    "into revenue deciles by EXACT nearest-rank cutoffs, with each "
    "decile's revenue share and the cumulative share from the top "
    "('the top decile owns X%'). The global sorted-cumsum trap is "
    "avoided: cutoffs come from operators/percentiles.py (binned "
    "two-pass selection past the in-memory budget — no single-task "
    "row sort at any scale), assignment is a broadcast compare "
    "against 9 integer cutoffs, and the only windows run over the "
    "<= 10-row decile table. All money stays micro-unit BIGINT until "
    "the final share divisions (identical cast-divides both "
    "engines).",
    tags=("warehouse", "report", "percentile"),
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.operators.percentiles import (
        nearest_rank_percentiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(_scaled_long(F.col("o_totalprice"))).cast("bigint").alias("rfx")
    )
    cuts = nearest_rank_percentiles(
        cust, "rfx", [(f"c{i}", i / 10.0) for i in range(1, 10)],
        tiebreak="o_custkey",
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + F.when(
            F.col("rfx") > F.col(f"c{i}"), 1
        ).otherwise(0)
    agg = (
        cust.join(F.broadcast(cuts))
        .select("rfx", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rfx").cast("bigint").alias("dfx"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy(F.col("decile").desc())
    total = F.sum("dfx").over(w_all).cast("bigint").cast("double")
    return agg.select(
        "decile",
        "n_customers",
        (F.col("dfx").cast("double") / F.lit(1_000_000.0)).alias("revenue"),
        (F.col("dfx").cast("double") / total).alias("share"),
        (
            F.sum("dfx").over(w_cum).cast("bigint").cast("double") / total
        ).alias("cum_share"),
    )


@query(
    "q_winsorized_mean",
    f"""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), cuts AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(ROUND(0.05 * (n - 1)) AS BIGINT) + 1
                      THEN value END) AS p05,
             MAX(CASE WHEN rn = CAST(ROUND(0.95 * (n - 1)) AS BIGINT) + 1
                      THEN value END) AS p95
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_type, MAX(c.p05) AS p05, MAX(c.p95) AS p95,
           {sql_dsum("LEAST(GREATEST(e.value, c.p05), c.p95)")} AS wmean_sum,
           COUNT(*) AS n_events
    FROM events e JOIN cuts c USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Winsorized mean per event type: values clipped at the exact "
    "nearest-rank p05/p95 before the mean — the robust-statistics "
    "staple for metrics a single fat-tail sample would drag (and the "
    "quality-score trimming step of a training-data pipeline). "
    "Cutoffs ride the grouped percentile operator (bounded histogram "
    "path); clipping is pure comparisons (LEAST/GREATEST pick actual "
    "sample values, no arithmetic); the clipped sum goes through the "
    "standard fixed-point dsum. The result carries the SUM (renamed "
    "wmean_sum) and count so the consumer divides once — the division "
    "is the one float op and it is identical both engines.",
    tags=("analytic", "percentile", "robust"),
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.operators.percentiles import (
        nearest_rank_percentiles_by,
    )

    ev = events_us(spark, sf_dir).select("event_type", "value", "event_id")
    cuts = nearest_rank_percentiles_by(
        ev, "event_type", "value", [("p05", 0.05), ("p95", 0.95)]
    ).select("event_type", "p05", "p95")
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
            dsum(clipped).alias("wmean_sum"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
