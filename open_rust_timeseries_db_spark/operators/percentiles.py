"""Percentile operators: exact nearest-rank (reference semantics).

The reference computes percentiles by sorting all samples in memory and
indexing at round(p * (n-1)) (reference src/tests/integration_test.rs:
359-364). ``nearest_rank_percentiles`` reproduces that exactly and
deterministically.

Two exact strategies, chosen by a Catalyst size estimate (strategy
"auto"):

- **window** (small inputs): one single-task row_number window — the
  fewest-stage plan there is (2 jobs cold). At bench scale this is the
  same work DuckDB does in-process; stage-count, not row-count, is the
  cold cost, so the minimal plan wins.
- **binned** (large or unestimable inputs): binned two-pass selection —
  every row-level pass fully parallel, the only serial window over a
  bounded bin histogram (<= N_SELECTION_BINS + 1 rows). More stages
  (fixed cost, amortized at scale), unbounded scalability. This
  replaces the old EXACT_SORT_MAX_BYTES *refusal*: past the in-memory
  budget the operator now switches plans instead of raising.

Measured (sf0.1 events, 100k rows, fresh session): window path 0.5s
cold / 2 jobs; binned path 8.3s cold / 9 jobs but 0.06s warm — the
binned cold cost is per-stage codegen+scheduling, which is exactly the
cost that vanishes against hours of compute at 100 TB while the
single-task sort becomes the thing that never finishes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.operators.sizing import (
    estimated_size_bytes,
)

# Budget for the in-memory single-task window strategy. Catalyst's
# sizeInBytes estimate is free (no job); beyond it — or when the
# estimate is unknown (must be safe at ANY size) — "auto" switches to
# binned selection instead of funneling a cluster-scale sort through
# one task.
IN_MEMORY_SORT_MAX_BYTES = 2 << 30

# The same budget for callers gating on ON-DISK parquet bytes
# (sources.catalog.table_bytes — a stat(), no optimizer pass):
# compressed parquet underestimates in-memory size 2-5x, so the disk
# budget sits 4x below the in-memory one.
PARQUET_SORT_MAX_BYTES = IN_MEMORY_SORT_MAX_BYTES >> 2

# Bin count for the binned-selection histogram. The serial cumulative
# window sees at most this many rows regardless of input size; the
# candidate pass refetches only rows in the <= len(percentiles) target
# bins (expected N / N_SELECTION_BINS rows per target for
# non-adversarial value distributions).
N_SELECTION_BINS = 4096

_NUMERIC_TYPES = {
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
}


def _is_numeric(dtype: str) -> bool:
    return dtype in _NUMERIC_TYPES or dtype.startswith("decimal")


def selection_bin(
    v: Column, lo: Column, hi: Column, n_bins: int, *, is_float: bool
) -> Column:
    """Order-preserving bin id in [0, n_bins) for ``v`` over [lo, hi].

    Monotone non-strict (bin(v1) <= bin(v2) whenever v1 <= v2), and the
    SAME expression is evaluated in the histogram pass and the
    candidate pass, so boundary rounding can never split a value across
    bins inconsistently. Floats: NaN maps to the top bin (Spark sorts
    NaN greatest, and the within-bin selection re-sorts it last); +-inf
    endpoints degenerate to one bin (NaN ratio -> top bin): results
    stay exact, parallelism degrades to the single-bin case. Integer
    inputs bin through double arithmetic — lossy past 2^53 but still
    monotone, which is all binning needs; the within-bin selection
    compares the ORIGINAL values, so the result stays exact.
    """
    vd = v.cast("double")
    lod = lo.cast("double")
    hid = hi.cast("double")
    width = (hid - lod) / F.lit(float(n_bins))
    raw = (vd - lod) / width
    top = F.lit(n_bins - 1)
    guarded = (
        F.when(F.isnan(raw) | (raw >= F.lit(float(n_bins))), top)
        .when(raw < 0, F.lit(0))
        .otherwise(F.floor(raw).cast("int"))
    )
    if is_float:
        guarded = F.when(F.isnan(vd), top).otherwise(guarded)
    # Degenerate frame: hi == lo (or single row) -> everything bin 0.
    return F.when(hid == lod, F.lit(0)).otherwise(guarded).alias("__bin")


def rank_targets(
    cum: DataFrame, percentiles: list[tuple[str, float]]
) -> DataFrame:
    """Locate each nearest-rank target inside a cumulative bin table.

    ``cum`` must carry ``__bin``, ``__c`` (bin count), ``__cum``
    (inclusive cumulative count in bin order) and ``__n`` (total). For
    each (name, p) the target rank is r = round(p * (n-1)) + 1 (the
    reference's indexing, src/tests/integration_test.rs:359-364, made
    1-based); the row whose bin covers r yields (name, bin, offset of r
    within the bin). Output: one tiny row per percentile.
    """
    arms = []
    for name, p in percentiles:
        r = F.round(F.lit(p) * (F.col("__n") - 1)).cast("bigint") + 1
        arms.append(
            F.when(
                (F.col("__cum") - F.col("__c") < r) & (r <= F.col("__cum")),
                F.struct(
                    F.lit(name).alias("__name"),
                    F.col("__bin").alias("__tbin"),
                    (r - (F.col("__cum") - F.col("__c"))).alias("__off"),
                ),
            )
        )
    return (
        cum.select(F.explode(F.array(*arms)).alias("__t"))
        .filter(F.col("__t").isNotNull())
        .select("__t.*")
    )


def select_at_offsets(binned: DataFrame, targets: DataFrame) -> DataFrame:
    """Pick the value at each (bin, offset) target: rows (name, value).

    ``binned`` carries (__v, __bin); ``targets`` (tiny, broadcast) maps
    __tbin -> (__name, __off). The inner join drops every row outside a
    target bin at scan time; a per-target row_number window (parallel
    across targets, each over one bin's rows — expected
    N / N_SELECTION_BINS of the input) picks the row at the offset.
    Tie order within an equal-value run cannot change which VALUE sits
    at a rank, so arbitrary row_number tie-breaking is exact.
    """
    cand = binned.join(
        F.broadcast(targets), binned["__bin"] == targets["__tbin"]
    )
    w = Window.partitionBy("__name").orderBy("__v")
    return (
        cand.select(
            "__name", "__v", "__off", F.row_number().over(w).alias("__rn")
        )
        .filter(F.col("__rn") == F.col("__off"))
        .select("__name", "__v")
    )


def nearest_rank_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: list[tuple[str, float]],
    tiebreak: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """One-row frame of exact nearest-rank percentiles of ``value_col``.

    ``strategy``: "window" | "binned" | "auto" (see module docstring).
    "auto" takes the minimal-stage window plan when the Catalyst
    estimate of the narrow projection fits IN_MEMORY_SORT_MAX_BYTES and
    the binned plan when it is bigger or unknown — unknown must take
    the strategy that is safe at ANY size, the reverse of the old
    refuse-gate's "don't know means don't gate" (refusing on unknown
    broke public-API callers; *switching* on unknown merely costs a few
    extra stages).

    The ``tiebreak`` column (optional) makes the window strategy's sort
    order total for determinism documentation; the selected VALUE is
    provably independent of tie order — permuting rows within an
    equal-value run cannot change which value covers a rank — which is
    also why the binned strategy needs no tiebreak at all.

    Binned requires a numeric value column; non-numeric inputs past the
    in-memory budget take a distinct-value histogram (parallel row
    pass, serial window over distinct values only).
    """
    if strategy not in ("auto", "window", "binned"):
        raise ValueError(f"unknown strategy {strategy!r}")
    dtype = dict(df.dtypes).get(value_col)
    if strategy == "auto":
        cols = [value_col] + ([tiebreak] if tiebreak else [])
        est = estimated_size_bytes(df.select(*cols))
        strategy = (
            "window" if 0 < est <= IN_MEMORY_SORT_MAX_BYTES else "binned"
        )
    if strategy == "binned" and (dtype is None or not _is_numeric(dtype)):
        return _distinct_value_percentiles(df, value_col, percentiles)
    if strategy == "window":
        return _window_percentiles(df, value_col, percentiles, tiebreak)
    return _binned_percentiles(
        df, value_col, percentiles, is_float=dtype in ("float", "double")
    )


def _window_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: list[tuple[str, float]],
    tiebreak: str | None,
) -> DataFrame:
    """Single-task row_number plan: 2 jobs, minimal cold overhead.

    The right plan when the rows fit one task — which is exactly when
    an in-process engine (the reference's sort_unstable, DuckDB) is the
    yardstick. Never chosen by "auto" past IN_MEMORY_SORT_MAX_BYTES.
    """
    order = [value_col] + ([tiebreak] if tiebreak else [])
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v"),
        F.row_number().over(Window.orderBy(*order)).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__n"),
    )
    aggs = []
    for name, p in percentiles:
        r = F.round(F.lit(p) * (F.col("__n") - 1)).cast("bigint") + 1
        aggs.append(F.max(F.when(F.col("__rn") == r, F.col("__v"))).alias(name))
    return ranked.agg(*aggs)


def _binned_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: list[tuple[str, float]],
    *,
    is_float: bool,
) -> DataFrame:
    """Binned two-pass selection — exact at any scale, no single-task
    row-level operator anywhere in the plan:

    1. one parallel pass computes (min, max, n);
    2. one parallel pass histograms rows into N_SELECTION_BINS
       order-preserving bins; a serial cumulative window over the
       BOUNDED bin table locates, for each rank r = round(p*(n-1))+1,
       the bin covering r and r's offset within it;
    3. one parallel pass refetches only rows in target bins (inner
       broadcast join at the scan) and picks the row at each offset
       via a per-target window.
    """
    vals = df.select(F.col(value_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    stats = vals.agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
    )
    binned = vals.join(F.broadcast(stats)).select(
        "__v",
        selection_bin(
            F.col("__v"),
            F.col("__lo"),
            F.col("__hi"),
            N_SELECTION_BINS,
            is_float=is_float,
        ),
    )
    hist = binned.groupBy("__bin").agg(F.count(F.lit(1)).alias("__c"))
    wcum = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "__bin",
        "__c",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(Window.partitionBy()).alias("__n"),
    )
    sel = select_at_offsets(binned, rank_targets(cum, percentiles))
    return sel.agg(
        *[
            F.max(F.when(F.col("__name") == name, F.col("__v"))).alias(name)
            for name, _ in percentiles
        ]
    )


def _distinct_value_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: list[tuple[str, float]],
) -> DataFrame:
    """Histogram-over-distinct-values path for non-numeric columns past
    the in-memory budget: the row-level pass is a fully-parallel
    map-side-combined groupBy(value); only the distinct-value histogram
    flows through the serial cumulative window. Worst case (all values
    distinct) the window sees N rows — numeric columns take the binned
    path instead, whose serial window is bounded by N_SELECTION_BINS.
    """
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        F.col(value_col),
        F.col("__c"),
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(Window.partitionBy()).alias("__n"),
    )
    aggs = []
    for name, p in percentiles:
        r = F.round(F.lit(p) * (F.col("__n") - 1)).cast("bigint") + 1
        aggs.append(
            F.max(
                F.when(
                    (F.col("__cum") - F.col("__c") < r)
                    & (r <= F.col("__cum")),
                    F.col(value_col),
                )
            ).alias(name)
        )
    return cum.agg(*aggs)


def nearest_rank_percentiles_by(
    df: DataFrame,
    key_col: str,
    value_col: str,
    percentiles: list[tuple[str, float]],
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key exact nearest-rank percentiles — one row per key.

    Same semantics as :func:`nearest_rank_percentiles` with the sort
    scoped per key. Histogram-based selection scoped per key: the
    row-level pass is a fully-parallel map-side-combined
    groupBy(key, value), and only the per-key distinct-value histogram
    crosses the window — this survives LOW-cardinality keys at scale
    (a per-key row_number window would serialize each key's FULL row
    set through one task; 5 event types = 5 busy tasks on a
    1000-executor cluster).
    """
    del tiebreak  # rank selection provably independent of tie order
    # Nulls are ignored, matching the global operator's documented
    # contract (test_nulls_ignored_and_empty_input): unfiltered, null
    # values sort first, inflate __n, and shift every rank.
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        F.col(key_col),
        F.col(value_col),
        F.col("__c"),
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(Window.partitionBy(key_col)).alias("__n"),
    )
    aggs = []
    for name, p in percentiles:
        r = F.round(F.lit(p) * (F.col("__n") - 1)).cast("bigint") + 1
        aggs.append(
            F.max(
                F.when(
                    (F.col("__cum") - F.col("__c") < r)
                    & (r <= F.col("__cum")),
                    F.col(value_col),
                )
            ).alias(name)
        )
    aggs.append(F.max("__n").cast("bigint").alias("n"))
    return cum.groupBy(key_col).agg(*aggs)
