"""Advanced analytic surface: session windows, cube / grouping sets,
range frames, and the approximate sketches that replace exact operators
at 100 TB.

The reference has none of these (SURVEY.md §2.3 marks every category
Absent); they complete the standard checklist beyond what §7.3 planned.
Sketch queries (HLL, KLL) emit their error-bound CHECK as the result
(exact value + each engine's own within-bound flag — deterministic on
both sides without faking exactness), so they are fully oracle-checked;
tests/test_sketches.py pins the raw-estimate contracts besides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.queries.helpers import (
    events_us,
    fx_resum,
    sql_dsum,
)
from open_rust_timeseries_db_spark.queries.registry import DEC, query
from open_rust_timeseries_db_spark.sources.catalog import load_table

_GAP_US = 300_000_000  # 5-minute session gap


@query(
    "q_session_window",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
    ), flagged AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - LAG(ts_us) OVER w > {_GAP_US}
                    OR LAG(ts_us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ), sessioned AS (
      SELECT user_id, ts_us,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING
             ) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS sess_start_us,
           MAX(ts_us) + {_GAP_US} AS sess_end_us,
           COUNT(*) AS n_events
    FROM sessioned
    GROUP BY user_id, sess_id
    """,
    doc="Session windows (5-minute gap) per user — the session_window "
    "streaming-native operator run in batch. The oracle derives the "
    "same sessions with the lag/cumsum islands idiom, pinning Spark's "
    "merge semantics (end = last event + gap). One shuffle on user_id; "
    "state-bounded in streaming via watermark.",
    tags=("analytic", "window", "session"),
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).withColumn(
        "ts_ts", F.timestamp_micros(F.col("ts_us"))
    )
    return (
        ev.groupBy(
            "user_id", F.session_window(F.col("ts_ts"), "5 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("sess_start_us"),
            F.unix_micros(F.col("sw.end")).alias("sess_end_us"),
            "n_events",
        )
    )


@query(
    "q_cube_revenue",
    f"""
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             COUNT(*) AS pn,
             SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))*1000000
                            + 0.5) AS BIGINT)) AS pr_fx
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           CAST(SUM(pn) AS BIGINT) AS n,
           CAST(CAST(SUM(pr_fx) AS BIGINT) AS DOUBLE)/1000000.0 AS revenue
    FROM base
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus) with grouping_id — all four "
    "grouping sets in one pass. Same two-phase shape as "
    "q_rollup_revenue: aggregate to the finest grain first, cube the "
    "tiny partials (grouping-set expansion multiplies rows BEFORE "
    "partial agg, so cubing raw lineitem would 4x the scanned rows).",
    tags=("analytic", "agg", "cube"),
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.queries.helpers import _scaled_long

    li = load_table(spark, sf_dir, "lineitem")
    # Fixed-point BIGINT partials per (group, split) — pid-keyed so no
    # partial can wrap BIGINT at any scale — DECIMAL re-summed in the
    # cube phase (see q_rollup_revenue / helpers.fx_resum).
    base = li.groupBy(
        "l_returnflag", "l_linestatus", F.spark_partition_id().alias("pid")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(
            _scaled_long(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            )
        ).alias("pr_fx"),
    )
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.sum("pn").alias("n"),
        fx_resum("pr_fx").alias("revenue"),
    )


@query(
    "q_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           {sql_dsum("o_totalprice")} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (status), (priority), (grand total) — "
    "expressed through the engine's SQL surface (spark.sql over "
    "registered views) rather than the DataFrame API, exercising the "
    "SQL entry point end to end.",
    tags=("analytic", "agg", "grouping-sets", "sql-api"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    # Two-phase through the SQL surface, same overflow-safe shape as the
    # DataFrame rollup/cube twins: BIGINT micro-unit partials per
    # (status, priority, spark_partition_id()) — bounded by one input
    # split, and the grouping-sets expansion multiplies the tiny partial
    # table instead of the raw scan — then an exact DECIMAL(38,0)
    # re-sum whose grand-total row can't wrap at any scale.
    return spark.sql(
        """
        WITH part AS (
          SELECT o_orderstatus, o_orderpriority,
                 spark_partition_id() AS pid,
                 COUNT(*) AS pn,
                 SUM(CAST(FLOOR(o_totalprice*1000000 + 0.5) AS BIGINT))
                   AS ps_fx
          FROM orders
          GROUP BY 1, 2, 3
        )
        SELECT o_orderstatus, o_orderpriority,
               SUM(pn) AS n,
               CAST(SUM(CAST(ps_fx AS DECIMAL(38,0)))
                    AS DOUBLE)/1000000.0 AS sum_price
        FROM part
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q_range_frame",
    f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(FLOOR(value*1000000 + 0.5) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_GAP_US} PRECEDING AND CURRENT ROW
           ) AS DOUBLE)/1000000.0 AS sum_5min
    FROM events
    """,
    doc="RANGE-framed window: per user, the 5-minute trailing sum by "
    "event time — the value-based frame (peers included) vs "
    "q_moving_avg's ROWS frame. No tie-break needed: RANGE frames are "
    "a function of the ordering VALUE, so duplicate timestamps get "
    "identical (deterministic) frames.",
    tags=("analytic", "window", "range-frame"),
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_GAP_US, Window.currentRow)
    )
    from open_rust_timeseries_db_spark.queries.helpers import _scaled_long

    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        # Fixed-point frame sum — see q_moving_avg's rationale. The
        # RANGE frame is time-bounded (5 min), not row-bounded: BIGINT
        # holds ~9.2e12 in value units per frame, so this wraps only if
        # a single key ticks >~1e10 rows within 5 minutes — document as
        # the operating bound rather than pay DECIMAL per frame slide.
        (
            F.sum(_scaled_long(F.col("value"))).over(w).cast("double")
            / F.lit(1e6)
        ).alias("sum_5min"),
    )


_SLIDE_US = 60_000_000  # 1-minute slide
_WIDTH_US = 600_000_000  # 10-minute sliding window width


@query(
    "q_sliding_window",
    f"""
    WITH contrib AS (
      SELECT e.value,
             (epoch_us(e.ts) // {_SLIDE_US}) * {_SLIDE_US} - k.k * {_SLIDE_US}
               AS win_start_us
      FROM events e,
           (SELECT unnest(range(0, {_WIDTH_US // _SLIDE_US})) AS k) k
    )
    SELECT win_start_us,
           win_start_us + {_WIDTH_US} AS win_end_us,
           COUNT(*) AS n,
           {sql_dsum("value")} AS sum_value
    FROM contrib
    GROUP BY 1, 2
    """,
    doc="Sliding windows (10-minute width, 1-minute slide): each event "
    "belongs to width/slide = 10 overlapping windows. Two-phase plan: "
    "pre-aggregate events into 1-minute slide buckets FIRST (the only "
    "full-data shuffle — decimal partials stay exact under re-sum), "
    "then explode each bucket into its 10 windows and re-aggregate the "
    "tiny bucket table. Spark's window(ts, w, s) explodes every EVENT "
    "10x before the shuffle; this shape shuffles each slide bucket "
    "once, a width/slide-fold reduction in shuffle rows at any scale. "
    "Streaming twin: watermarked window() in streaming/pipelines.py.",
    tags=("analytic", "window", "sliding"),
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.queries.helpers import _scaled_long

    ev = events_us(spark, sf_dir)
    slide = (F.col("ts_us") - (F.col("ts_us") % _SLIDE_US)).alias("slide_us")
    # Fixed-point BIGINT partials: exact and associative under the
    # second-phase re-sum, like the DECIMAL partials they replace, but
    # whole-stage-codegen fast (the DECIMAL accumulator allocates a
    # BigDecimal per row — ~5x slower over the full events scan; see
    # helpers.dsum). pid-keyed so no partial outgrows one input split
    # (a hot 1-minute bucket can hold unbounded rows at scale); the
    # window re-aggregation below merges partials in DECIMAL
    # (helpers.fx_resum), overflow-free at any volume.
    buckets = ev.groupBy(slide, F.spark_partition_id().alias("pid")).agg(
        F.count(F.lit(1)).alias("bn"),
        F.sum(_scaled_long(F.col("value"))).alias("bsum_fx"),
    )
    # Every event in slide bucket s lies in exactly the windows starting
    # at s - k*slide for k = 0..width/slide-1, so the expansion is
    # lossless.
    expanded = buckets.select(
        "slide_us",
        "bn",
        "bsum_fx",
        F.explode(
            F.sequence(F.lit(0), F.lit(_WIDTH_US // _SLIDE_US - 1))
        ).alias("k"),
    )
    win_start = F.col("slide_us") - F.col("k") * F.lit(_SLIDE_US)
    return (
        expanded.groupBy(win_start.alias("win_start_us"))
        .agg(
            F.sum("bn").alias("n"),
            fx_resum("bsum_fx").alias("sum_value"),
        )
        .select(
            "win_start_us",
            (F.col("win_start_us") + F.lit(_WIDTH_US)).alias("win_end_us"),
            "n",
            "sum_value",
        )
    )


@query(
    "q_doc_chunks",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(0, GREATEST(
               CAST(CEIL((length(text) - 64) / 192.0) AS BIGINT), 1
             ))) AS chunk_id
      FROM documents
    )
    SELECT doc_id, chunk_id,
           substr(text, CAST(chunk_id * 192 + 1 AS INT), 256) AS chunk,
           CAST(length(substr(text, CAST(chunk_id * 192 + 1 AS INT), 256))
                AS BIGINT) AS chunk_len,
           md5(substr(text, CAST(chunk_id * 192 + 1 AS INT), 256)) AS chunk_md5
    FROM idx
    """,
    doc="Document chunking for retrieval/training pipelines: 256-char "
    "windows with 64-char overlap (stride 192), chunk ids + md5 "
    "fingerprints. Pure sequence+explode+substr — narrow, no Python, "
    "no shuffle; the standard pre-embedding step at corpus scale.",
    tags=("analytic", "text", "chunking"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.ceil((F.length("text") - F.lit(64)) / F.lit(192.0)).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    chunked = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    chunk = F.substring(
        F.col("text"), (F.col("chunk_id") * 192 + 1).cast("int"), 256
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        chunk.alias("chunk"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


# Sketch accuracy bounds emitted BY the sketch queries (see below).
# Margins vs measured behavior on this data: Spark HLL rsd=0.01 and
# DuckDB HLL both land under 1.1% worst-case (bound 5%); Spark
# percentile_approx accuracy=10000 guarantees rank error <=1e-4 and
# DuckDB's t-digest measures <=1e-3 here (bound 5e-3).
_HLL_REL_BOUND = 0.05
_PCT_RANK_EPS = 0.005
_APPROX_PCTS = [0.5, 0.9, 0.99, 0.999, 0.9999]


@query(
    "q_approx_distinct",
    f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
             <= {_HLL_REL_BOUND} * COUNT(DISTINCT user_id) AS within_bound
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HyperLogLog++) per event_type — the "
    "single-pass, fixed-memory replacement for exact COUNT(DISTINCT) "
    "at 100 TB (exact distinct double-shuffles; HLL merges partials). "
    "rsd=0.01. Oracle-checkable WITHOUT faking exactness: raw HLL "
    "estimates are engine-specific, so the emitted result is the error-"
    "bound CHECK — exact count (deterministic both sides) plus a "
    "within_bound flag where each engine validates ITS OWN sketch "
    "against its own exact count (<=5% rel). A sketch that drifts out "
    "of bound flips the flag and fails the hash. The production form "
    "at scale is the sketch alone; tests/test_sketches.py additionally "
    "asserts the tighter 5% contract per group.",
    tags=("analytic", "sketch"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Dedup-first two-level aggregate, NOT countDistinct alongside the
    # sketch: mixing COUNT(DISTINCT) with other aggregates makes Spark
    # expand every input row per aggregate family (measured 3 s warm at
    # sf0.1, ~8x this shape). HLL registers are duplicate-insensitive,
    # so approx_count_distinct over the deduped (event_type, user_id)
    # pairs is bit-identical to running it over the raw rows; the exact
    # count becomes a plain COUNT(*), and n_events a SUM of the first
    # level's partial counts.
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("nr")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
            F.sum("nr").alias("n_events"),
        )
        .select(
            "event_type",
            "exact_users",
            F.col("n_events").cast("bigint").alias("n_events"),
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.lit(_HLL_REL_BOUND) * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


_CMS_K = 20
_CMS_BOUND = 2.718281828  # e — the Markov bound factor of the CMS proof


def _heavy_hitters_oracle() -> str:
    """DuckDB twin of q_heavy_hitters: the md5-affine cell hashes are
    engine-portable, so the oracle rebuilds the IDENTICAL count-min
    grid and the whole sketch is hash-checked cell-for-cell through
    the estimates."""
    from open_rust_timeseries_db_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
    )

    def cell(j_expr: str, key_expr: str) -> str:
        return (
            f"CAST(('0x' || substring(md5(CAST({j_expr} AS VARCHAR) || ':' "
            f"|| CAST({key_expr} AS VARCHAR)), 1, 15)) AS BIGINT) % {CMS_WIDTH}"
        )

    return f"""
    WITH js AS (
      SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS j
    ), cells AS (
      SELECT j, {cell("j", "user_id")} AS cell, COUNT(*) AS c
      FROM events, js GROUP BY 1, 2
    ), exact AS (
      SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
    ), topk AS (
      SELECT user_id, exact_n FROM exact
      ORDER BY exact_n DESC, user_id ASC LIMIT {_CMS_K}
    ), est AS (
      SELECT t.user_id, MIN(c.c) AS est_n
      FROM topk t
      CROSS JOIN js
      JOIN cells c ON c.j = js.j AND c.cell = {cell("js.j", "t.user_id")}
      GROUP BY t.user_id
    ), n AS (
      SELECT CAST(SUM(c) AS BIGINT) AS N FROM cells WHERE j = 0
    )
    SELECT t.user_id, t.exact_n, e.est_n,
           e.est_n >= t.exact_n AS est_ge_exact,
           e.est_n <= t.exact_n
             + CAST(CEIL({_CMS_BOUND!r} * N / {CMS_WIDTH}) AS BIGINT)
             AS within_bound
    FROM topk t JOIN est e ON e.user_id = t.user_id CROSS JOIN n
    """


@query(
    "q_heavy_hitters",
    _heavy_hitters_oracle(),
    doc="Count-min heavy hitters: the hot-key detector a skew gate "
    "consults (q_event_funnel's bounded-state shape) before a 100 TB "
    "join. The sketch grid is DEPTH x WIDTH cells "
    "regardless of input size, builds in one fully-parallel pass "
    "(map-side combine collapses each task to the grid before the "
    "shuffle) and merges by cell-wise addition. Estimates are "
    "ONE-SIDED (est >= exact always — a cold verdict is trustworthy), "
    "checked here per top-k key: est_ge_exact is a mathematical "
    "invariant, within_bound the e*N/WIDTH Markov bound. md5-affine "
    "cell hashes (the q_dedup_near family) make every cell "
    "bit-reproducible in DuckDB, so the oracle hash-checks the SKETCH "
    "itself, not just the exact side. The exact top-k here is the "
    "verification yardstick; the production path at scale keeps only "
    "the grid + candidate probes.",
    tags=("analytic", "sketch"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.operators.sketches import (
        CMS_WIDTH,
        cms_estimate,
    )

    ev = load_table(spark, sf_dir, "events")
    keys = ev.select("user_id")
    # The grid is SESSION STATE, not per-query work: a deployment
    # maintains the user-key CMS at ingest (it already feeds the
    # funnel's shape gate), so the query
    # pays only its probes + the exact verification yardstick. Fixed
    # PARITY width — the oracle rebuilds cells at CMS_WIDTH — shared
    # with the funnel gate's cache entry wherever cms_width_for
    # resolves to the same width (every tier below ~0.5B events).
    cms = _hh_cms_ckpt(spark, sf_dir)
    exact = keys.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    topk = exact.orderBy(
        F.col("exact_n").desc(), F.col("user_id").asc()
    ).limit(_CMS_K)
    est = cms_estimate(topk.select("user_id"), cms, "user_id")
    # N rides out of the sketch itself (row 0 sums to the input count)
    # — no extra pass over the data.
    n_total = cms.filter(F.col("j") == 0).agg(
        F.sum("c").cast("bigint").alias("__N")
    )
    return (
        topk.join(est, "user_id")
        .join(F.broadcast(n_total))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") >= F.col("exact_n")).alias("est_ge_exact"),
            (
                F.col("est_n")
                <= F.col("exact_n")
                + F.ceil(
                    F.lit(_CMS_BOUND) * F.col("__N") / F.lit(CMS_WIDTH)
                ).cast("bigint")
            ).alias("within_bound"),
        )
    )


def _approx_pct_oracle() -> str:
    """DuckDB twin of q_approx_percentile: same exact nearest-rank
    values, same rank-bracket check against DuckDB's OWN t-digest."""
    from open_rust_timeseries_db_spark.queries.registry import FIXED_NOW_US

    eps = _PCT_RANK_EPS
    sks = ", ".join(
        f"approx_quantile(lag_us, {p}) AS s{i}"
        for i, p in enumerate(_APPROX_PCTS)
    )
    exacts = ", ".join(
        f"MAX(CASE WHEN rn = CAST(ROUND({p} * (n - 1)) AS BIGINT) + 1 "
        f"THEN lag_us END) AS e{i}"
        for i, p in enumerate(_APPROX_PCTS)
    )
    cnts = ", ".join(
        f"CAST(SUM(CASE WHEN l.lag_us <= sk.s{i} THEN 1 ELSE 0 END) AS BIGINT) AS le{i}, "
        f"CAST(SUM(CASE WHEN l.lag_us <  sk.s{i} THEN 1 ELSE 0 END) AS BIGINT) AS lt{i}"
        for i in range(len(_APPROX_PCTS))
    )
    arms = " UNION ALL ".join(
        f"SELECT CAST({p} AS DOUBLE) AS p, agg.e{i} AS exact_lag_us, agg.n AS n, "
        f"(cnt.le{i} >= ({p} - {eps}) * agg.n AND "
        f" cnt.lt{i} <= ({p} + {eps}) * agg.n) AS rank_ok "
        f"FROM agg, cnt"
        for i, p in enumerate(_APPROX_PCTS)
    )
    return f"""
    WITH lags AS (
      SELECT {FIXED_NOW_US} - epoch_us(ts) AS lag_us, event_id FROM events
      WHERE {FIXED_NOW_US} - epoch_us(ts) > 0
    ), ranked AS (
      SELECT lag_us,
             ROW_NUMBER() OVER (ORDER BY lag_us, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM lags
    ), agg AS (
      SELECT MAX(n) AS n, {exacts} FROM ranked
    ), sk AS (
      SELECT {sks} FROM lags
    ), cnt AS (
      SELECT {cnts} FROM lags l, sk
    )
    {arms}
    """


@query(
    "q_approx_percentile",
    _approx_pct_oracle(),
    doc="percentile_approx for P50/P90/P99/P99.9/P99.99 of the "
    "event-lag distribution — the reference's latency report "
    "(src/tests/integration_test.rs:332,359-364 sorts in memory; "
    "impossible at 100 TB) via a mergeable quantile sketch, accuracy "
    "10000. Oracle-checkable WITHOUT faking exactness: per quantile p "
    "the result row is (p, exact nearest-rank value — deterministic "
    "both sides, n, rank_ok) where rank_ok verifies each engine's OWN "
    "sketch value sits within +-0.5% RANK of p (count of values "
    "<=/< sketch brackets p*n — duplicate-safe). Spark's guarantee at "
    "accuracy 10000 is 1e-4 rank error; a sketch drifting past 5e-3 "
    "flips the flag and fails the hash. Two size-gated strategies "
    "(cut over by the Catalyst estimate, like the as-of broadcast "
    "probe): in-memory inputs fuse sketch + rank into ONE window pass "
    "(2 jobs — sketch, count and row_number share the same "
    "single-partition exchange); past IN_MEMORY_SORT_MAX_BYTES the "
    "exact rank side runs binned two-pass selection (operators/"
    "percentiles.py) — all row-level passes parallel, serial work "
    "bounded by the bin table — so the check itself survives 100 TB. "
    "Exact twin: q_latency_percentiles.",
    tags=("analytic", "sketch"),
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.operators.percentiles import (
        PARQUET_SORT_MAX_BYTES,
    )
    from open_rust_timeseries_db_spark.queries.registry import FIXED_NOW_US
    from open_rust_timeseries_db_spark.sources.catalog import table_bytes

    ev = events_us(spark, sf_dir)
    lags = ev.select(
        (F.lit(FIXED_NOW_US) - F.col("ts_us")).alias("__v")
    ).filter(F.col("__v") > 0)
    # Zero-cost strategy gate (stat(), not a Catalyst estimate);
    # unknown (-1) is "too big" and takes the scale-safe strategy.
    nbytes = table_bytes(sf_dir, "events")
    if 0 < nbytes <= PARQUET_SORT_MAX_BYTES:
        return _approx_pct_window(lags)
    return _approx_pct_binned(lags)


def _approx_pct_window(lags: DataFrame) -> DataFrame:
    """In-memory strategy: sketch, count and row_number all ride ONE
    single-partition window pass (no separate sketch job, no broadcast
    attach), then one wide aggregate — the minimal-stage plan for
    inputs a single task can sort."""
    eps = _PCT_RANK_EPS
    ranked = lags.select(
        "__v",
        F.row_number().over(Window.orderBy("__v")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.percentile_approx("__v", _APPROX_PCTS, 10000)
        .over(Window.partitionBy())
        .alias("qs"),
    )
    # expr strings, not Column algebra: the 16-aggregate + 5-struct
    # build is ~2 py4j round trips this way instead of ~400 (plan-build
    # time is real cold cost at the driver; see minhash_neardup).
    aggs = [F.expr("MAX(n) AS n")] + [
        F.expr(e)
        for i, p in enumerate(_APPROX_PCTS)
        for e in (
            f"MAX(CASE WHEN rn = CAST(ROUND({p!r} * (n - 1)) AS BIGINT) + 1 "
            f"THEN __v END) AS e{i}",
            f"SUM(CASE WHEN __v <= qs[{i}] THEN 1 ELSE 0 END) AS le{i}",
            f"SUM(CASE WHEN __v < qs[{i}] THEN 1 ELSE 0 END) AS lt{i}",
        )
    ]
    wide = ranked.agg(*aggs)
    structs = ", ".join(
        f"struct(CAST({p!r} AS DOUBLE) AS p, e{i} AS exact_lag_us, n, "
        f"(le{i} >= {p - eps!r} * n AND "
        f" lt{i} <= {p + eps!r} * n) AS rank_ok)"
        for i, p in enumerate(_APPROX_PCTS)
    )
    return wide.selectExpr(f"inline(array({structs}))")


def _approx_pct_binned(lags: DataFrame) -> DataFrame:
    """Scale strategy: the exact rank side via binned two-pass
    selection; the sketch and the <=/< rank-bracket counts ride the
    same parallel passes (sketch + bin endpoints share pass 1, bracket
    counts ride pass 2's map-side-combined histogram agg)."""
    from open_rust_timeseries_db_spark.operators.percentiles import (
        N_SELECTION_BINS,
        selection_bin,
    )

    # Pass 1 (parallel): sketch + count + bin endpoints in ONE one-row
    # broadcast frame — the sketch and the selection stats share the
    # scan.
    stats = lags.agg(
        F.percentile_approx("__v", _APPROX_PCTS, 10000).alias("qs"),
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
    )
    binned = lags.join(F.broadcast(stats)).select(
        "__v",
        "qs",
        selection_bin(
            F.col("__v"),
            F.col("__lo"),
            F.col("__hi"),
            N_SELECTION_BINS,
            is_float=False,
        ),
    )
    # Pass 2 (parallel): bin histogram, with the sketch-rank counts
    # (<=/< each sketch value) riding the same map-side-combined agg.
    # expr strings, not Column algebra: the 11-aggregate build is ~2
    # py4j round trips this way instead of ~200 (plan-build time is
    # real cold cost at the driver; see minhash_neardup).
    eps = _PCT_RANK_EPS
    hist_aggs = [F.expr("COUNT(*) AS __c")] + [
        F.expr(e)
        for i in range(len(_APPROX_PCTS))
        for e in (
            f"SUM(CASE WHEN __v <= qs[{i}] THEN 1 ELSE 0 END) AS le{i}",
            f"SUM(CASE WHEN __v < qs[{i}] THEN 1 ELSE 0 END) AS lt{i}",
        )
    ]
    hist = binned.groupBy("__bin").agg(*hist_aggs)
    wcum = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "__bin",
        "__c",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wall).alias("__n"),
        *[
            F.sum(f"{k}{i}").over(wall).alias(f"t{k}{i}")
            for i in range(len(_APPROX_PCTS))
            for k in ("le", "lt")
        ],
    )
    # Locate each target rank's bin + in-bin offset; rank_ok needs only
    # the global <=/< totals, so it rides the tiny target row.
    def arm(i: int, p: float) -> str:
        r = f"(CAST(ROUND({p!r} * (__n - 1)) AS BIGINT) + 1)"
        ok = (
            f"(tle{i} >= {p - eps!r} * __n AND "
            f"tlt{i} <= {p + eps!r} * __n)"
        )
        return (
            f"CASE WHEN __cum - __c < {r} AND {r} <= __cum THEN "
            f"named_struct('p', CAST({p!r} AS DOUBLE), '__tbin', __bin, "
            f"'__off', {r} - (__cum - __c), 'n', __n, 'rank_ok', {ok}) END"
        )

    arms = ", ".join(arm(i, p) for i, p in enumerate(_APPROX_PCTS))
    targets = (
        cum.selectExpr(f"explode(array({arms})) AS __t")
        .filter(F.col("__t").isNotNull())
        .select("__t.*")
    )
    # Pass 3 (parallel): refetch only target-bin rows (inner broadcast
    # join at the scan) and select the value covering each offset.
    cand = binned.select("__v", "__bin").join(
        F.broadcast(targets), F.col("__bin") == F.col("__tbin")
    )
    per_val = cand.groupBy("p", "__off", "n", "rank_ok", "__v").agg(
        F.count(F.lit(1)).alias("__c2")
    )
    w2 = (
        Window.partitionBy("p")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum2 = F.sum("__c2").over(w2)
    return (
        per_val.select(
            "p",
            F.col("__v").alias("exact_lag_us"),
            "n",
            "rank_ok",
            (cum2 - F.col("__c2")).alias("__before"),
            cum2.alias("__cum2"),
            "__off",
        )
        .filter(
            (F.col("__before") < F.col("__off"))
            & (F.col("__off") <= F.col("__cum2"))
        )
        .select("p", "exact_lag_us", "n", "rank_ok")
    )


@query(
    "q_value_histogram",
    f"""
    WITH b AS (
      SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bin, value FROM events
    ), h AS (
      SELECT bin, COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v,
             {sql_dsum("value")} AS sum_v
      FROM b GROUP BY bin
    )
    SELECT bin, bin * 10.0 AS bin_lo, (bin + 1) * 10.0 AS bin_hi,
           n, min_v, max_v, sum_v,
           CAST(n AS DOUBLE) / SUM(n) OVER () AS share
    FROM h
    """,
    doc="Equi-width histogram of the value distribution (width 10) with "
    "per-bin share of total — the profiling pass that sizes skew "
    "mitigation and bin-packed partitioning before a big job. One "
    "shuffle keyed by bin; the share window runs over the tiny bin "
    "table, not the raw rows. Bin edges are exact integer-double "
    "products; share is one IEEE divide of exact BIGINTs.",
    tags=("analytic", "histogram", "profiling"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.queries.helpers import dsum

    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.floor(F.col("value") / 10.0).cast("bigint").alias("bin"), "value"
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            dsum("value").alias("sum_v"),
        )
    )
    share_w = Window.partitionBy()
    return h.select(
        "bin",
        (F.col("bin") * 10.0).alias("bin_lo"),
        ((F.col("bin") + 1) * 10.0).alias("bin_hi"),
        "n",
        "min_v",
        "max_v",
        "sum_v",
        (F.col("n").cast("double") / F.sum("n").over(share_w)).alias("share"),
    )


# Per-stratum keep rates out of 1000: purchases are kept whole, the
# noisy high-volume types are thinned hardest.
_STRATA_RATES = (("purchase", 1000), ("signup", 500), ("error", 250))
_DEFAULT_RATE = 100


def _sql_rate() -> str:
    whens = " ".join(
        f"WHEN event_type = '{t}' THEN {r}" for t, r in _STRATA_RATES
    )
    return f"CASE {whens} ELSE {_DEFAULT_RATE} END"


@query(
    "q_stratified_sample",
    f"""
    WITH s AS (
      SELECT event_id, event_type, user_id, value,
             {_sql_rate()} AS rate_permille,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000 AS h_mod
      FROM events
    )
    SELECT event_id, event_type, user_id, value, rate_permille
    FROM s WHERE h_mod < rate_permille
    """,
    doc="Deterministic stratified sampling — per-class keep rates "
    "(purchase 100%, signup 50%, error 25%, rest 10%) decided by a "
    "content hash (md5 of the row key) instead of an RNG, so the "
    "sample is reproducible across engines, retries, and reruns — the "
    "property an LLM-data pipeline needs for auditable corpus "
    "downsampling (sampleBy() is seeded per-partition and not "
    "cross-engine stable). Pure narrow map+filter: no shuffle, filter "
    "runs map-side at scan speed, and the hash partitions the keep "
    "decision uniformly within every stratum.",
    tags=("analytic", "sampling", "stratified"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rate = F.lit(_DEFAULT_RATE)
    for t, r in reversed(_STRATA_RATES):
        rate = F.when(F.col("event_type") == t, F.lit(r)).otherwise(rate)
    h_mod = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 1000
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "user_id",
            "value",
            rate.cast("int").alias("rate_permille"),
            h_mod.alias("h_mod"),
        )
        .filter(F.col("h_mod") < F.col("rate_permille"))
        .drop("h_mod")
    )


_DAY_US_A = 86_400_000_000


@query(
    "q_event_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
           (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_then_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
    """,
    doc="Ordered event funnel (view -> click -> purchase): stage k "
    "counts users whose earliest stage-k event strictly follows their "
    "earliest qualifying stage-(k-1) event. ONE shuffle, ONE operator: "
    "a single map-side-combined hash aggregate collapses each user to "
    "(min view ts, sorted click ts array, sorted purchase ts array) — "
    "the event log crosses the wire once and never sits in a window "
    "buffer — and the stage cascade is two array probes over the tiny "
    "per-user arrays (first click after t1, first purchase after t2). "
    "Replaced the round-6 three-window cascade (same exchange, but "
    "three full WindowExec buffering passes over every event): "
    "measured 2.5x at sf1 (0.58-0.90 s vs 1.61-1.85 s, identical "
    "results). The round-5 per-stage broadcast-join cascade before "
    "that was 16 jobs and unscalable besides — a per-user frame at "
    "100 TB is not a broadcastable dim. SKEW BOUND: the per-user "
    "arrays hold that user's click/purchase history in one agg "
    "buffer — a degenerate bot user with millions of events "
    "concentrates its history in one hash-agg entry. "
    "event_funnel_bounded_state is the O(1)-per-user-state twin for "
    "that regime (equality property-tested incl. a bot shape); it "
    "costs two extra co-partitioned join stages, measured 10-20x "
    "this query's warm time at the sf0.1/sf1 tiers where no such "
    "user exists. The served query AUTO-SELECTS between the two on a "
    "measured skew verdict: a session-cached count-min sketch over "
    "events.user_id yields a one-sided upper bound on the hottest "
    "user's event count (min over hash rows of that row's max cell — "
    "never an undercount, so a bot can never sneak under the gate); "
    "below FUNNEL_STATE_BOUND the array shape runs, above it the "
    "bounded-state twin does.",
    tags=("analytic", "funnel", "sequence"),
)
def q_event_funnel(
    spark: SparkSession, sf_dir: str, state_bound: int = None
) -> DataFrame:
    if state_bound is None:
        state_bound = FUNNEL_STATE_BOUND
    if max_user_events_bound(spark, sf_dir) > state_bound:
        return event_funnel_bounded_state(spark, sf_dir)
    return event_funnel_arrays(spark, sf_dir)


# Array-state gate: a user with this many events puts ~2x this many
# longs (= ~16 MB at 1M) in ONE hash-agg buffer — survivable, but the
# next order of magnitude is not. The CMS bound is one-sided (only
# ever OVERcounts), so the gate can only trip early, never late.
FUNNEL_STATE_BOUND = 1_000_000


def _hh_cms_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached user CMS at the PINNED parity width (CMS_WIDTH):
    q_heavy_hitters' oracle rebuilds every cell at that width, so its
    grid must never scale. Shares the cache entry (same key) with
    :func:`_user_cms_ckpt` at every tier where the funnel's scaled
    width also resolves to CMS_WIDTH."""
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        _cached_ckpt,
    )
    from open_rust_timeseries_db_spark.operators.sketches import (
        CMS_WIDTH,
        count_min_cells,
    )

    ev = events_us(spark, sf_dir)
    return _cached_ckpt(
        ev,
        lambda: count_min_cells(ev.select("user_id"), "user_id"),
        ("events_user_cms", CMS_WIDTH),
    )


def _user_cms_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached count-min grid over events.user_id — the skew
    sketch consulted by q_event_funnel's shape gate (and reusable by
    any operator needing a hot-key verdict on events). Bounded at
    depth x width cells regardless of input size; built by one
    map-side-combined pass (operators/sketches.py)."""
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        _cached_ckpt,
    )
    from open_rust_timeseries_db_spark.operators.sketches import (
        cms_width_for,
        count_min_cells,
    )
    from open_rust_timeseries_db_spark.sources.catalog import table_rows

    # Width scales with the event count relative to the gate threshold
    # (cms_width_for): a fixed 4096-wide grid's collision floor
    # (~N/4096) crosses FUNNEL_STATE_BOUND once events reach ~4B rows,
    # which would permanently route to the slower bounded-state shape
    # with no hot user present. Footer row count is a metadata read;
    # unknown (-1 -> None) keeps the default width — at that point the
    # gate is conservative, never wrong (the bound stays one-sided).
    n_events = table_rows(sf_dir, "events")
    width = cms_width_for(n_events if n_events > 0 else None,
                          FUNNEL_STATE_BOUND)
    ev = events_us(spark, sf_dir)
    return _cached_ckpt(
        ev,
        lambda: count_min_cells(ev.select("user_id"), "user_id",
                                width=width),
        ("events_user_cms", width),
    )


def max_user_events_bound(spark: SparkSession, sf_dir: str) -> int:
    """One-sided upper bound on the hottest user's event count.

    min over hash rows of that row's MAX populated cell: each row's
    max cell >= the true max key frequency (the hottest key lands in
    some cell of every row), so the min across rows is still an upper
    bound — the same argument as the point estimate, applied to the
    row-wise max. Runs one tiny agg over the bounded cached grid,
    memoized on the grid object (zero jobs warm)."""
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        cached_row,
    )
    from open_rust_timeseries_db_spark.operators.sketches import CMS_DEPTH

    grid = _user_cms_ckpt(spark, sf_dir)
    # min over rows of max(c) as ONE flat aggregate (cached_row takes
    # ungrouped aggs): per-row conditional maxes combined with least().
    # least() skips nulls, so a row with no populated cells (only the
    # empty-input case) never poisons the bound.
    row = cached_row(
        grid,
        "user_cms_maxbound",
        F.least(
            *[
                F.max(F.when(F.col("j") == j, F.col("c")))
                for j in range(CMS_DEPTH)
            ]
        ),
    )
    return 0 if row[0] is None else int(row[0])


def event_funnel_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("user_id", "ts_us", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts_us"))
        ).alias("t1"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts_us"))
            )
        ).alias("cl"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts_us"))
            )
        ).alias("pu"),
    )
    # First click strictly after t1; null t1 nulls the comparison, so
    # the filter drops everything and get() yields null — no view, no
    # stage 2. Same logic purchase-after-t2.
    staged = per_user.select(
        "user_id",
        "t1",
        F.get(F.filter("cl", lambda x: x > F.col("t1")), 0).alias("t2"),
        "pu",
    )
    per2 = staged.select(
        "user_id",
        "t1",
        "t2",
        F.get(F.filter("pu", lambda x: x > F.col("t2")), 0).alias("t3"),
    )
    return per2.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_then_click"),
        F.count("t3").alias("n_full_funnel"),
    )


def event_funnel_bounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_event_funnel with O(1) aggregation state per user — the shape
    for event logs with degenerate heavy-hitter users (bot traffic),
    where the default's per-user collect_list arrays would concentrate
    one user's whole history in a single hash-agg buffer.

    Identity used (strict inequalities throughout, matching the
    oracle): stage 2 exists iff max_click > min_view, and stage 3
    (exists purchase > t2 where t2 = min click > t1) holds iff some
    click lies in the OPEN interval (min_view, max_purchase) — if such
    a click c exists then t2 <= c < max_purchase, and conversely t2
    itself is such a click. So one bounded hash-agg computes
    (t1 = min view, mc = max click, mp = max purchase) per user, and
    one co-partitioned shuffle-hash join re-tests the click stream
    against (t1, mp) — no per-user array anywhere. The explicit
    repartition is shared by the aggregate and both join sides
    (ReusedExchange: the event log still crosses the wire once);
    the joins add two stage waves, measured 10-20x the array shape's
    warm time at the sf0.1/sf1 tiers — which is why this is the
    documented alternative, not the default (equality property-tested
    in tests/test_funnel_shapes.py, including a bot-user shape).
    """
    ev = events_us(spark, sf_dir).select("user_id", "ts_us", "event_type")
    evp = ev.repartition("user_id")
    pu = evp.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts_us"))
        ).alias("t1"),
        F.max(
            F.when(F.col("event_type") == "click", F.col("ts_us"))
        ).alias("mc"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("mp"),
    )
    clicks = evp.filter("event_type = 'click'").select("user_id", "ts_us")
    hits = (
        clicks.join(pu.hint("shuffle_hash"), "user_id")
        .filter((F.col("ts_us") > F.col("t1")) & (F.col("ts_us") < F.col("mp")))
        .groupBy("user_id")
        .agg(F.first(F.lit(1)).alias("hit"))
    )
    pu2 = pu.join(hits.hint("shuffle_hash"), "user_id", "left")
    return pu2.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count(F.when(F.col("mc") > F.col("t1"), 1)).alias(
            "n_view_then_click"
        ),
        F.count("hit").alias("n_full_funnel"),
    )


@query(
    "q_retention_cohorts",
    f"""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US_A} AS day FROM events
    ), f AS (
      SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
    )
    SELECT f.cohort_day,
           d.day - f.cohort_day AS day_offset,
           COUNT(DISTINCT d.user_id) AS n_active
    FROM d JOIN f ON f.user_id = d.user_id
    WHERE d.day - f.cohort_day BETWEEN 0 AND 7
    GROUP BY 1, 2
    """,
    doc="Retention cohorts: users grouped by first-seen day, activity "
    "counted per day-offset for the first week — the standard "
    "engagement matrix. The cohort day is a same-partition window "
    "minimum over the one user-keyed shuffle (the round-5 shape "
    "broadcast a per-USER first-seen frame — not a broadcastable dim "
    "at 100 TB, and a second event-log scan besides); the distinct "
    "count then dedups (cohort, offset, user) map-side on the "
    "user-partitioned blocks before the tiny final shuffle. All "
    "integers, so parity is exact.",
    tags=("analytic", "retention", "cohort"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = events_us(spark, sf_dir).select(
        "user_id", F.expr(f"ts_us div {_DAY_US_A}").alias("day")
    )
    cohort = d.withColumn(
        "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return (
        cohort.withColumn("day_offset", F.col("day") - F.col("cohort_day"))
        .filter(F.col("day_offset").between(0, 7))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
