"""Relational completion: every standard-checklist category absent from
the reference (SURVEY.md §2.3) implemented Spark-first over the star
schema + events.

The reference has no joins, no window functions, no distinct, no set ops
— its nearest analog is the positional per-field column-stitch of
read_one_record (reference src/storage/table.rs:99-106). Everything here
is a Catalyst-optimized built-in; plan shapes (broadcast vs SMJ, pushed
filters) are asserted in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.operators.asof import (
    asof_join,
    asof_join_same_source,
)
from open_rust_timeseries_db_spark.queries.helpers import (
    conversion_proj_ckpt,
    davg,
    dsum,
    events_us,
    fx_resum,
    sql_davg,
    sql_dsum,
)
from open_rust_timeseries_db_spark.queries.registry import DEC, query
from open_rust_timeseries_db_spark.sources.catalog import load_table


@query(
    "q_distinct_users",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    doc="Exact distinct count per group. Scale: exact COUNT(DISTINCT) "
    "double-shuffles; the 100 TB variant is approx_count_distinct (HLL, "
    "single pass) — kept out of the oracle set because sketches don't "
    "hash-match.",
    tags=("relational", "agg"),
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "q_join_orders_customer",
    f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           {sql_dsum("o.o_totalprice")} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Fact-to-dim equi join + agg. customer is the small side -> "
    "broadcast hash join (hinted; AQE would also pick it), so the big "
    "side never shuffles for the join — the pattern that matters at "
    "100 TB.",
    tags=("relational", "join"),
)
def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "q_semi_anti_join",
    """
    SELECT c_mktsegment,
           COUNT(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) THEN 1 END) AS n_with_orders,
           COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) THEN 1 END) AS n_without_orders
    FROM customer c
    GROUP BY c_mktsegment
    """,
    doc="LEFT SEMI + LEFT ANTI join (EXISTS / NOT EXISTS): customers with "
    "vs without orders per segment. Semi/anti joins short-circuit on "
    "first match and carry no right-side payload — strictly cheaper than "
    "inner join + distinct at scale.",
    tags=("relational", "join"),
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cond = customer.c_custkey == orders.o_custkey
    semi = (
        customer.join(orders, cond, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    anti = (
        customer.join(orders, cond, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return (
        semi.join(anti, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


_BANDS = [
    ("b0_50", 0.0, 50.0),
    ("b50_100", 50.0, 100.0),
    ("b100_150", 100.0, 150.0),
    ("b150_200", 150.0, 200.0),
    ("b200_inf", 200.0, 1e18),
]
_BANDS_SQL = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)


@query(
    "q_range_join",
    f"""
    SELECT b.band, COUNT(*) AS n, {sql_dsum("e.value")} AS sum_value
    FROM events e
    JOIN (VALUES {_BANDS_SQL}) b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
    doc="Range (interval) join: fact rows to value bands via non-equi "
    "predicate. The band side is tiny and broadcast, so Spark executes a "
    "BroadcastNestedLoopJoin — linear in the fact table, never a "
    "cartesian shuffle. Theta-join category from SURVEY §2.3.",
    tags=("relational", "join", "range"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # VALUES -> JVM LocalRelation: keeps the join inside whole-stage
    # codegen (a Python-built DataFrame scans an ExistingRDD, which
    # breaks codegen and adds a Python->JVM conversion job).
    vals = ", ".join(
        f"('{b}', CAST({lo} AS DOUBLE), CAST({hi} AS DOUBLE))"
        for b, lo, hi in _BANDS
    )
    bands = spark.sql(f"SELECT * FROM VALUES {vals} AS t(band, lo, hi)")
    cond = (ev.value >= bands.lo) & (ev.value < bands.hi)
    return (
        ev.join(F.broadcast(bands), cond, "inner")
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )


@query(
    "q_asof_join",
    """
    WITH purchases AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value
      FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id,
           p.ts_us AS purchase_ts_us,
           c.ts_us AS click_ts_us,
           p.ts_us - c.ts_us AS gap_us,
           c.value AS click_value
    FROM purchases p
    ASOF JOIN clicks c
      ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    """,
    doc="As-of join: each purchase matched to the user's most recent "
    "prior click (operators.asof.asof_join: union + ordered window, one "
    "shuffle — SMJ cost class, no range explosion). Oracle is DuckDB's "
    "native ASOF JOIN. SURVEY §7.4 flags this as the highest-risk "
    "custom operator.",
    tags=("relational", "join", "asof"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both sides are subsets of ONE events scan — the same-source
    # operator tags rows in the scan projection instead of scanning
    # twice and unioning (2.6x faster cold at sf1, commit 3555e21;
    # equality vs the two-sided operator is hypothesis-tested). The
    # input is the session-cached conversion projection (key-partitioned
    # + sorted), so the window plans exchange-free.
    joined = asof_join_same_source(
        conversion_proj_ckpt(spark, sf_dir),
        on="user_id",
        ts="ts_us",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "click",
        left_cols=["event_id"],
        right_values=["value"],
        how="inner",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        F.col("asof_ts").alias("click_ts_us"),
        (F.col("ts_us") - F.col("asof_ts")).alias("gap_us"),
        F.col("asof_value").alias("click_value"),
    )


@query(
    "q_asof_forward",
    """
    WITH clicks AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           c.ts_us AS click_ts_us,
           p.ts_us AS purchase_ts_us,
           p.ts_us - c.ts_us AS wait_us,
           p.value AS purchase_value
    FROM clicks c
    ASOF JOIN purchases p
      ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
    """,
    doc="Forward as-of join — each click matched to the user's NEXT "
    "purchase (time-to-conversion). Same one-shuffle union+window "
    "operator as q_asof_join with the timestamp sort reversed "
    "(operators/asof.py direction='forward'); oracle is DuckDB's "
    "native forward ASOF JOIN (l.ts <= r.ts).",
    tags=("relational", "join", "asof"),
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same single-scan tagged-union shape as q_asof_join, reversed
    # direction (operators/asof.py asof_join_same_source), over the
    # same shared conversion projection.
    joined = asof_join_same_source(
        conversion_proj_ckpt(spark, sf_dir),
        on="user_id",
        ts="ts_us",
        left_pred=F.col("event_type") == "click",
        right_pred=F.col("event_type") == "purchase",
        left_cols=["event_id"],
        right_values=["value"],
        how="inner",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("click_ts_us"),
        F.col("asof_ts").alias("purchase_ts_us"),
        (F.col("asof_ts") - F.col("ts_us")).alias("wait_us"),
        F.col("asof_value").alias("purchase_value"),
    )


@query(
    "q_rollup_revenue",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {sql_dsum("l_quantity")} AS sum_qty,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical totals via ROLLUP (flag, status, grand total) — "
    "TPC-H Q1 shape. Catalyst expands grouping sets into one shuffle; "
    "partial aggregation still applies map-side.",
    tags=("relational", "agg", "rollup"),
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.queries.helpers import _scaled_long

    li = load_table(spark, sf_dir, "lineitem")
    # Two-phase rollup: aggregate to the finest grouping first, then
    # roll the (tiny) partials up. Grouping-sets expansion multiplies
    # input rows by the number of sets BEFORE partial aggregation, so
    # rolling up raw lineitem triples the scanned-row volume; rolling up
    # the per-(flag,status) partials is free and exact. Partials are
    # fixed-point BIGINT micro-units keyed additionally by
    # spark_partition_id() — constant within a task, so map-side
    # partial aggregation emits the same row volume as without it, but
    # each partial is bounded by one input split and cannot wrap BIGINT
    # at any total scale. The rollup phase re-sums the tiny partial
    # table in DECIMAL (helpers.fx_resum), so the grand-total row stays
    # exact past the ~sf40 point where a single-phase BIGINT sum
    # silently overflows.
    base = li.groupBy(
        "l_returnflag", "l_linestatus", F.spark_partition_id().alias("pid")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(_scaled_long(F.col("l_quantity"))).alias("pq_fx"),
        F.sum(
            _scaled_long(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            )
        ).alias("pr_fx"),
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("pn").alias("n"),
        fx_resum("pq_fx").alias("sum_qty"),
        fx_resum("pr_fx").alias("revenue"),
    )


@query(
    "q_moving_avg",
    f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(FLOOR(value*1000000 + 0.5) AS BIGINT)) OVER w
                AS DOUBLE)/1000000.0
             / COUNT(*) OVER w AS mov_avg
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
    )
    """,
    doc="Moving average over the trailing 7 rows per key — the classic "
    "TSDB rolling metric (reference's running VWAP tracking is the "
    "stateful germ, src/tests/integration_test.rs:240-256). One shuffle "
    "on user_id, in-partition sort; decimal window sum keeps it "
    "deterministic.",
    tags=("relational", "window"),
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    from open_rust_timeseries_db_spark.queries.helpers import _scaled_long

    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        # Fixed-point window sum: same per-row half-up rounding and
        # exact integer accumulation as the DECIMAL frame it replaces,
        # without a BigDecimal allocation per frame slide. Overflow-safe
        # by the FRAME bound (7 rows max => |sum| < 7 * 9e15 << 2^63),
        # unlike the group sums, which need the two-phase fx_resum shape.
        (
            F.sum(_scaled_long(F.col("value"))).over(w).cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1)).over(w)
        ).alias("mov_avg"),
    )


@query(
    "q_rank_per_group",
    """
    SELECT event_type, event_id, value, rnk FROM (
      SELECT event_type, event_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS BIGINT) AS rnk
      FROM events)
    WHERE rnk <= 3
    """,
    doc="Top-N per group via ranking window. Spark pushes a per-partition "
    "top-K (WindowGroupLimit) below the shuffle, so only K rows per "
    "group per task move — scales to arbitrary group counts.",
    tags=("relational", "window"),
)
def q_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "q_lag_delta",
    """
    SELECT event_id, user_id,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
    FROM events
    """,
    doc="Per-key first difference via LAG — tick-to-tick price delta, the "
    "analytic-window germ of the reference's latency delta (C4). First "
    "row per key yields NULL (kept).",
    tags=("relational", "window"),
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "q_set_ops",
    """
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
    SELECT
      (SELECT COUNT(*) FROM (SELECT * FROM p UNION SELECT * FROM c)) AS n_union,
      (SELECT COUNT(*) FROM (SELECT * FROM p INTERSECT SELECT * FROM c)) AS n_intersect,
      (SELECT COUNT(*) FROM (SELECT * FROM p EXCEPT SELECT * FROM c)) AS n_purchase_only
    """,
    doc="UNION / INTERSECT / EXCEPT over key sets, reduced to one row of "
    "cardinalities. Exercises Spark's set operators (each is a "
    "hash-distinct/join underneath).",
    tags=("relational", "setops"),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    c = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    n_union = p.union(c).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    n_inter = p.intersect(c).agg(F.count(F.lit(1)).alias("n_intersect"))
    n_ponly = p.subtract(c).agg(F.count(F.lit(1)).alias("n_purchase_only"))
    return n_union.crossJoin(n_inter).crossJoin(n_ponly)


@query(
    "q_string_funcs",
    """
    SELECT doc_id,
           UPPER(lang) AS lang_up,
           CAST(LENGTH(text) AS BIGINT) AS text_len,
           SPLIT_PART(text, ' ', 1) AS first_word,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
           CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS has_spark,
           REGEXP_EXTRACT(text, '([a-z]+ing)', 1) AS first_ing
    FROM documents
    """,
    doc="String-function sweep (upper/length/split/like/regexp_extract) "
    "over documents. All JVM-side codegen'd expressions — narrow, no "
    "shuffle.",
    tags=("relational", "strings"),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_up"),
        F.length("text").cast("bigint").alias("text_len"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.when(F.col("text").contains("spark"), 1).otherwise(0).alias("has_spark"),
        F.regexp_extract("text", r"([a-z]+ing)", 1).alias("first_ing"),
    )


@query(
    "q_json_extract",
    f"""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           {sql_davg("value")} AS avg_value
    FROM events
    GROUP BY 1
    """,
    doc="JSON-in-string extraction (events.props) + agg on the extracted "
    "key. get_json_object is codegen'd; at scale prefer from_json with a "
    "declared schema once per pipeline (see functions.text).",
    tags=("relational", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), davg("value").alias("avg_value"))
    )


@query(
    "q_array_ops",
    """
    SELECT e.vec_id,
           CAST(LEN(e.embedding) AS BIGINT) AS dim,
           CAST(e.embedding[1] AS DOUBLE) AS first_val,
           s.l1_norm, s.l2_norm
    FROM embeddings e
    JOIN (
      SELECT vec_id,
             CAST(SUM(CAST(FLOOR(ABS(CAST(u AS DOUBLE)) * 1e12) AS BIGINT)) AS BIGINT) / 1e12 AS l1_norm,
             SQRT(CAST(SUM(CAST(FLOOR(CAST(u AS DOUBLE) * CAST(u AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) / 1e12) AS l2_norm
      FROM (SELECT vec_id, UNNEST(embedding) AS u FROM embeddings)
      GROUP BY vec_id
    ) s USING (vec_id)
    """,
    doc="Array-column ops on the embedding vectors: size, element access, "
    "L1/L2 norms via fold. Spark side stays in one narrow pass "
    "(F.aggregate lambda, no explode/shuffle); the oracle unnests. "
    "Norms are fixed-point (floor(x*1e12) -> integer sum): floor has no "
    "tie semantics, unlike decimal rounding where dyadic float32 values "
    "land exactly on .5 and Spark (HALF_UP) and DuckDB (HALF_EVEN) "
    "disagree.",
    tags=("relational", "arrays"),
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    zero = F.lit(0).cast("bigint")
    scale = F.lit(1e12)
    l1 = (
        F.aggregate(
            "embedding",
            zero,
            lambda acc, x: acc + F.floor(F.abs(x.cast("double")) * scale),
        ).cast("bigint")
        / scale
    )
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            zero,
            lambda acc, x: acc + F.floor(x.cast("double") * x.cast("double") * scale),
        ).cast("bigint")
        / scale
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        l1.alias("l1_norm"),
        l2.alias("l2_norm"),
    )


_CAL_DAY_US = 86_400_000_000
# Recursion step for the calendar spine: each UnionLoop iteration is a
# scheduled Spark job, so the spine recurses in chunks and expands each
# chunk declaratively — depth span/16 instead of span.
_CAL_STEP_DAYS = 16


@query(
    "q_recursive_calendar",
    f"""
    WITH RECURSIVE chunk(lo, hi) AS (
      SELECT MIN(epoch_us(ts) // {_CAL_DAY_US}),
             MAX(epoch_us(ts) // {_CAL_DAY_US})
      FROM events
      UNION ALL
      SELECT lo + {_CAL_STEP_DAYS}, hi FROM chunk
      WHERE lo + {_CAL_STEP_DAYS} <= hi
    ), cal AS (
      SELECT unnest(range(lo, LEAST(lo + {_CAL_STEP_DAYS} - 1, hi) + 1))
               AS day_bucket
      FROM chunk
    ), daily AS (
      SELECT epoch_us(ts) // {_CAL_DAY_US} AS day_bucket, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT c.day_bucket,
           c.day_bucket * {_CAL_DAY_US} AS day_start_us,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
           CAST(SUM(COALESCE(d.n, 0)) OVER (
             ORDER BY c.day_bucket ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_events
    FROM cal c LEFT JOIN daily d ON d.day_bucket = c.day_bucket
    """,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE — run as genuine "
    "recursion on BOTH engines, not emulated): the calendar spine is "
    "derived recursively from the data's own min/max day (the upper "
    "bound rides along the recursion — a scalar subquery in the "
    "recursive step would rescan the fact table every iteration), "
    "left-joined to daily counts with empty days zero-filled, plus a "
    "running cumulative total. The recursion steps in "
    f"{_CAL_STEP_DAYS}-day chunks, each expanded declaratively "
    "(sequence/explode) — recursion depth is span/step instead of "
    "span, because each UnionLoop iteration costs a scheduled job "
    "(round-5: the day-at-a-time loop was 30 iterations and 182x the "
    "oracle at sf0.1; at 100 TB of history a per-day loop is a "
    "driver-side bottleneck regardless of engine). The heavy side — "
    "the daily aggregate — is one ordinary shuffle. Complements the "
    "iterative DataFrame loop of q_dedup_clusters: both fixpoint "
    "styles are first-class.",
    tags=("relational", "recursive", "calendar"),
)
def q_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    events_us(spark, sf_dir).createOrReplaceTempView("events_v")
    return spark.sql(
        f"""
        WITH RECURSIVE chunk(lo, hi) AS (
          SELECT MIN(ts_us div {_CAL_DAY_US}), MAX(ts_us div {_CAL_DAY_US})
          FROM events_v
          UNION ALL
          SELECT lo + {_CAL_STEP_DAYS}, hi FROM chunk
          WHERE lo + {_CAL_STEP_DAYS} <= hi
        ), cal AS (
          SELECT explode(sequence(lo, LEAST(lo + {_CAL_STEP_DAYS} - 1, hi)))
                   AS day_bucket
          FROM chunk
        ), daily AS (
          SELECT ts_us div {_CAL_DAY_US} AS day_bucket, COUNT(*) AS n
          FROM events_v GROUP BY 1
        )
        SELECT c.day_bucket,
               c.day_bucket * {_CAL_DAY_US} AS day_start_us,
               CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
               CAST(SUM(COALESCE(d.n, 0)) OVER (
                 ORDER BY c.day_bucket ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_events
        FROM cal c LEFT JOIN daily d ON d.day_bucket = c.day_bucket
        """
    )
