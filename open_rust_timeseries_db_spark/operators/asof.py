"""As-of (backward) join — the time-series staple Spark has no built-in for.

Semantics: for each left row, attach the most recent right row of the
same key with ``right_ts <= left_ts`` (ties on the timestamp include the
right row). Matches DuckDB's ``ASOF JOIN ... ON l.k = r.k AND l.ts >=
r.ts``. The reference's domain (market ticks) begs for this operator but
never implements it (SURVEY.md §2.3).

Strategy (union + ordered window, one shuffle):
  1. tag right rows 0 and left rows 1,
  2. union on (key, ts, tag, payload),
  3. ``last(right_payload, ignorenulls=True)`` over a window partitioned
     by key, ordered by (ts, tag, tiebreak), rows unbounded-preceding..current,
  4. keep left rows.

Cost at scale: exactly one hash-partition-by-key + in-partition sort —
the same shuffle class as a sort-merge join of the two inputs; no
range-explosion like a naive inequality join (which Spark would execute
as a broadcast-nested-loop). Skewed keys degrade to single-partition
sorts; pre-split hot keys by time-bucket if a key exceeds executor
memory (not needed at testdata scales).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Cutover policy for the broadcast-probe strategy (same knob family as
# operators/dedupe.BROADCAST_MAX_BYTES): the right side must fit a
# broadcast AND the left side must dwarf it. The probe's array HOFs are
# CodegenFallback (interpreted per row), so the strategy only pays when
# avoiding the LEFT side's shuffle dominates — measured at sf1: 1M-left
# / 1k-right runs 0.40-0.74 s broadcast vs 1.57-1.64 s window, while
# the symmetric 200k/200k shape runs ~2x SLOWER on the probe. 16x is
# the conservative line between those endpoints; unestimable sides
# always take the window path (safe at any size).
BROADCAST_RIGHT_MAX_BYTES = 64 << 20
BROADCAST_MIN_LEFT_RIGHT_RATIO = 16


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    tiebreak: str | None = None,
    how: str = "inner",
    direction: str = "backward",
    strategy: str = "auto",
) -> DataFrame:
    """As-of join of ``left`` to ``right`` on key ``on``.

    ``direction="backward"`` (default) attaches the most recent right
    row with ``right_ts <= left_ts``; ``direction="forward"`` attaches
    the nearest following right row with ``right_ts >= left_ts`` (DuckDB
    ``ASOF JOIN ... ON l.ts <= r.ts``). Forward is backward on reversed
    time: the only change is the window's timestamp sort order — cost
    and shuffle shape are identical.

    ``right_values`` are carried to the output as ``asof_<name>``;
    ``asof_ts`` carries the matched right timestamp. ``how`` is
    ``"inner"`` (drop left rows with no match) or ``"left"``.

    ``strategy``: ``"window"`` = union + ordered window (one hash
    shuffle of both inputs — the any-size shape); ``"broadcast"`` =
    group the right side into per-key sorted arrays, broadcast them,
    and probe per left row with codegen'd array HOFs — the LEFT side
    never shuffles, which is the production shape when the quote/dim
    stream is small (the common case: ticks >> quotes); ``"auto"``
    (default) picks broadcast when the right projection's Catalyst
    estimate fits ``BROADCAST_RIGHT_MAX_BYTES``, else window. Both
    paths are result-identical (hypothesis-tested against a linear
    scan and each other).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if strategy not in ("auto", "window", "broadcast"):
        raise ValueError(f"strategy must be auto|window|broadcast, got {strategy!r}")

    # A right row with a NULL timestamp can never be "the most recent
    # row <= ts" — drop them once, before strategy selection, so both
    # paths (and the broadcast size estimate) see the same input. The
    # window path happened to ignore them for asof_ts via
    # last(ignorenulls=True) but would still leak their VALUE columns;
    # the broadcast probe's array-count indexing would silently
    # misindex (sort_array places null-__rts structs first, but the
    # count predicates skip them).
    right = right.filter(F.col(right_ts).isNotNull())

    if strategy == "broadcast" or (
        strategy == "auto"
        and _broadcast_pays(left, right, on, left_ts, right_ts, right_values, tiebreak)
    ):
        return _asof_broadcast(
            left, right, on, left_ts, right_ts, right_values,
            tiebreak, how, direction,
        )

    l_cols = left.columns
    # Right rows carry the tiebreak so equal-ts right duplicates have a
    # deterministic winner (the greatest tiebreak value); it must be
    # captured HERE, while the right DataFrame's own columns are still
    # in scope.
    lhs_tb = [F.lit(None).cast("long").alias("__tb")] if tiebreak else []
    rhs_tb = [F.col(tiebreak).cast("long").alias("__tb")] if tiebreak else []
    lhs = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).cast("long").alias("__ts"),
        F.lit(1).alias("__tag"),
        F.struct(*l_cols).alias("__left"),
        F.lit(None).cast("long").alias("__rts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__rv_{c}") for c in right_values],
        *lhs_tb,
    )
    rhs = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).cast("long").alias("__ts"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(left.select(F.struct(*l_cols)).schema[0].dataType).alias("__left"),
        F.col(right_ts).cast("long").alias("__rts"),
        *[F.col(c).alias(f"__rv_{c}") for c in right_values],
        *rhs_tb,
    )

    ts_order = F.col("__ts") if direction == "backward" else F.col("__ts").desc()
    # __tag stays ascending in both directions: at the boundary
    # timestamp the right row (tag 0) must precede the left row so the
    # equal-ts match is included in the preceding frame.
    order: list[Column] = [ts_order, F.col("__tag")]
    if tiebreak is not None:
        order.append(F.col("__tb").asc_nulls_first())

    unioned = lhs.unionByName(rhs)
    w = (
        Window.partitionBy("__key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # A null left_ts never matches: in backward order it sorts before
    # every right row anyway, but in forward (desc) order it would sort
    # last and pick up the globally-smallest right_ts — mask it.
    has_ts = F.col("__ts").isNotNull()
    matched = unioned.select(
        "__left",
        F.when(has_ts, F.last("__rts", ignorenulls=True).over(w)).alias("asof_ts"),
        *[
            F.when(
                has_ts, F.last(f"__rv_{c}", ignorenulls=True).over(w)
            ).alias(f"asof_{c}")
            for c in right_values
        ],
    ).filter(F.col("__left").isNotNull())

    out = matched.select("__left.*", "asof_ts", *[f"asof_{c}" for c in right_values])
    if how == "inner":
        out = out.filter(F.col("asof_ts").isNotNull())
    return out


def asof_join_same_source(
    df: DataFrame,
    on: str,
    ts: str,
    left_pred: Column,
    right_pred: Column,
    left_cols: list[str],
    right_values: list[str],
    tiebreak: str | None = None,
    how: str = "inner",
    direction: str = "backward",
) -> DataFrame:
    """As-of join where BOTH sides are row-subsets of ONE DataFrame.

    Result-identical to::

        asof_join(df.filter(left_pred),  df.filter(right_pred), ...)

    but built from a SINGLE scan: the two-sided operator's union step
    re-reads the source once per side (two parquet scans, two filter
    pipelines, a union exchange), while the tick-store shape this
    serves — trades and quotes interleaved in one event stream — can
    tag each row in the scan projection and go straight to the ordered
    window. Measured at sf1 (200k/200k rows from a 1M-row events scan,
    15k keys): 2.6x faster cold, 1.9x warm than the two-scan window
    path (commit 3555e21).

    ``left_pred`` / ``right_pred`` must be disjoint; a row matching
    both is treated as LEFT only (``when`` order), which differs from
    the two-sided operator (where it would appear on both sides).

    Output: ``on``, ``ts`` (original values), ``left_cols``,
    ``asof_ts`` (matched right ``ts`` as epoch-long), and
    ``asof_<c>`` for each of ``right_values``. Null semantics match
    ``asof_join``: null-``ts`` right rows never match anything,
    null-``ts`` left rows never find a match, null keys group
    together.

    Cost at scale: one scan + one hash-partition-by-key + in-partition
    sort — strictly less work than the two-sided window path at the
    same input size, with the same no-range-explosion guarantee.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    tag = F.when(left_pred, F.lit(1)).when(right_pred, F.lit(0))
    is_right = F.col("__tag") == 0
    # Payload columns: left_cols verbatim plus any right_values not
    # already carried. Right rows' left_cols (and vice versa) hold that
    # row's own values, but they are masked out below — right values
    # only read where __tag == 0, left rows only survive the final
    # __tag == 1 filter.
    payload = list(dict.fromkeys([*left_cols, *right_values]))
    tb_sel = (
        [F.when(tag == 0, F.col(tiebreak)).cast("long").alias("__tb")]
        if tiebreak
        else []
    )
    tagged = (
        df.select(
            F.col(on).alias("__key"),
            F.col(ts).alias("__ts_orig"),
            F.col(ts).cast("long").alias("__ts"),
            tag.alias("__tag"),
            *[F.col(c) for c in payload],
            *tb_sel,
        )
        .filter(F.col("__tag").isNotNull())
        # A right row with a null ts can never be "the most recent row
        # <= ts" — same pre-filter as asof_join. Left null-ts rows stay
        # (how="left" keeps them, match masked below).
        .filter((F.col("__tag") == 1) | F.col("__ts").isNotNull())
    )

    ts_order = F.col("__ts") if direction == "backward" else F.col("__ts").desc()
    order: list[Column] = [ts_order, F.col("__tag")]
    if tiebreak is not None:
        order.append(F.col("__tb").asc_nulls_first())
    w = (
        Window.partitionBy("__key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Null left_ts never matches (in forward/desc order it would sort
    # last and pick up the globally-smallest right ts) — mask, exactly
    # as the two-sided window path does.
    has_ts = F.col("__ts").isNotNull()
    out = (
        tagged.select(
            "__key",
            "__ts_orig",
            "__tag",
            *left_cols,
            F.when(
                has_ts, F.last(F.when(is_right, F.col("__ts")), ignorenulls=True).over(w)
            ).alias("asof_ts"),
            *[
                F.when(
                    has_ts,
                    F.last(F.when(is_right, F.col(c)), ignorenulls=True).over(w),
                ).alias(f"asof_{c}")
                for c in right_values
            ],
        )
        .filter(F.col("__tag") == 1)
        .select(
            F.col("__key").alias(on),
            F.col("__ts_orig").alias(ts),
            *left_cols,
            "asof_ts",
            *[f"asof_{c}" for c in right_values],
        )
    )
    if how == "inner":
        out = out.filter(F.col("asof_ts").isNotNull())
    return out


def _broadcast_pays(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    tiebreak: str | None,
) -> bool:
    """Catalyst-estimate gate: right fits the broadcast budget AND the
    left is at least BROADCAST_MIN_LEFT_RIGHT_RATIO times bigger (the
    interpreted probe only pays when it saves a much larger left
    shuffle — see the knob comment). Unestimable sides (estimate -1,
    the shared "don't know means don't gate" estimator,
    operators/sizing.py) take the window path, the shape safe at any
    size."""
    from open_rust_timeseries_db_spark.operators.sizing import (
        estimated_size_bytes,
    )

    cols = [on, right_ts, *right_values] + ([tiebreak] if tiebreak else [])
    r_est = estimated_size_bytes(right.select(*dict.fromkeys(cols)))
    if not (0 < r_est <= BROADCAST_RIGHT_MAX_BYTES):
        return False
    l_est = estimated_size_bytes(left.select(on, left_ts))
    return l_est >= BROADCAST_MIN_LEFT_RIGHT_RATIO * r_est


def _asof_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    tiebreak: str | None,
    how: str,
    direction: str,
) -> DataFrame:
    """Broadcast-probe as-of: per-key sorted right arrays, probed with
    codegen'd array HOFs — the left side never shuffles.

    The right side collapses to one array row per key, sorted by
    (right_ts, tiebreak): the match for a left row is the LAST array
    element with ``rts <= lts`` (backward) or the last element sharing
    the SMALLEST ``rts >= lts`` (forward) — identical picks to the
    union+window path's running ``last()`` over (ts, tag, tiebreak)
    order. Per-left-row cost is O(right rows of that key), fused into
    whole-stage codegen; the one shuffle left anywhere is the (small)
    right side's groupBy.
    """
    struct_fields = [F.col(right_ts).cast("long").alias("__rts")]
    if tiebreak:
        struct_fields.append(F.col(tiebreak).cast("long").alias("__tb"))
    struct_fields += [F.col(c).alias(f"__rv_{c}") for c in right_values]
    rgrp = (
        right.select(F.col(on).alias("__key"), F.struct(*struct_fields).alias("__r"))
        .groupBy("__key")
        .agg(F.sort_array(F.collect_list("__r")).alias("__rarr"))
    )
    lts = F.col(left_ts).cast("long")
    arr = F.col("__rarr")
    if direction == "backward":
        n_le = F.size(F.filter(arr, lambda x: x["__rts"] <= lts))
        matched = F.get(arr, n_le - 1)
    else:
        n_lt = F.size(F.filter(arr, lambda x: x["__rts"] < lts))
        first_ge_ts = F.get(arr, n_lt)["__rts"]
        n_le_match = F.size(F.filter(arr, lambda x: x["__rts"] <= first_ge_ts))
        matched = F.get(arr, n_le_match - 1)
    # A null left_ts never matches: the forward count predicates all
    # evaluate to null → n_lt=0 → the probe would return arr[0] (the
    # smallest right_ts) instead of no-match.
    matched = F.when(lts.isNotNull(), matched)
    # eqNullSafe: the window strategy groups NULL keys into one
    # partition (null left rows match null right rows), so the probe
    # join must treat NULL keys the same way or strategy="auto" would
    # silently change results across the size cutover.
    out = (
        left.join(F.broadcast(rgrp), left[on].eqNullSafe(F.col("__key")), "left")
        .select(
            *left.columns,
            matched["__rts"].alias("asof_ts"),
            *[matched[f"__rv_{c}"].alias(f"asof_{c}") for c in right_values],
        )
    )
    if how == "inner":
        out = out.filter(F.col("asof_ts").isNotNull())
    return out
