"""Count-min sketch: mergeable, fixed-memory key-frequency estimates.

The hot-key detector for 100 TB pipelines: exact per-key counts need a
key-cardinality shuffle (billions of rows of agg state for a user-id
style key), while the count-min grid is DEPTH x WIDTH cells regardless
of input size, builds in one fully-parallel pass with map-side combine
(cells are the group keys, so partial aggregation collapses each task
to <= DEPTH*WIDTH rows before the shuffle), and merges across
partitions/streams by plain cell-wise addition. The estimate is
ONE-SIDED: est(k) >= exact(k) always (a key's own rows always land in
its cells), and est(k) <= exact(k) + e*N/WIDTH with probability
1 - e^-DEPTH per the standard Markov argument. That one-sidedness is
what makes it safe for skew decisions — a key the sketch calls cold IS
cold (q_event_funnel's bounded-state gate never misses a hot user).

Hashing is the repo's md5-affine family (functions/text_kernels.py
uses the same construction) — NOT xxhash64 — so a DuckDB oracle
reproduces every cell bit-for-bit and the whole sketch is
hash-checkable, the q_approx_distinct/q_approx_percentile pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 4096
# Width ceiling for scaled grids: 4M cells x 4 rows of (int, long) is
# ~100 MB worst case — still broadcastable. Past the cap the collision
# floor degrades gracefully (see cms_width_for).
CMS_MAX_WIDTH = 1 << 22


def cms_width_for(n_rows: int | None, threshold: int) -> int:
    """Grid width sized so a THRESHOLD decision stays discriminating.

    A fixed-width grid's per-cell collision floor is ~n_rows/width:
    once that floor crosses the caller's decision threshold, EVERY key
    estimates above it and the gate stops discriminating (a
    bounded-state fallback would run forever even with no hot key).
    Scale width so the floor sits >=8x below the threshold — width =
    next power of two >= 8*n_rows/threshold — floored at CMS_WIDTH and
    capped at CMS_MAX_WIDTH (past the cap only keys genuinely near the
    threshold clear it anyway). ``None``/unknown row counts keep the
    default width.
    """
    w = CMS_WIDTH
    if n_rows:
        target = 8 * n_rows // max(1, threshold)
        while w < target and w < CMS_MAX_WIDTH:
            w <<= 1
    return w


def cms_cell(key: Column, j: int, width: int = CMS_WIDTH) -> Column:
    """Row-j cell index for ``key``: md5('<j>:<key>') -> 60-bit int mod width.

    Deterministic, engine-portable (DuckDB twin:
    ``CAST(('0x' || substring(md5('<j>:' || CAST(k AS VARCHAR)), 1, 15))
    AS BIGINT) % width``). The j prefix makes the DEPTH rows pairwise
    independent hash functions from one md5 family.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), key.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return (h % F.lit(width)).alias(f"__cell{j}")


def count_min_cells(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the sketch grid: rows (j, cell, c) — at most depth*width.

    One parallel pass: each input row contributes +1 to ``depth`` cells
    via an inline posexplode (no join, no per-row Python), and the
    groupBy(j, cell) shuffle moves only the partially-aggregated grid —
    bounded by depth*width per task — never raw rows.
    """
    cells = df.select(
        F.posexplode(
            F.array(
                *[cms_cell(F.col(key_col), j, width) for j in range(depth)]
            )
        ).alias("j", "cell")
    )
    return cells.groupBy("j", "cell").agg(F.count(F.lit(1)).alias("c"))


def cms_estimate(
    keys: DataFrame,
    cms: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Attach ``est_n`` = min over sketch rows of the key's cell counts.

    ``keys`` is the candidate table (tiny: heavy-hitter candidates,
    join-skew suspects); the grid is bounded, so the probe is a
    broadcast-scale join however big the ORIGINAL input was. Keys never
    seen by the sketch hit ``depth`` cells of which at least one is
    empty (no grid row): the LEFT join + coalesce(c, 0) makes that
    cell count 0, so unseen candidates honestly estimate 0 and the
    one-sided upper bound (est_n >= true count) holds for ARBITRARY
    candidate sets, not just subsets of the sketched input.
    """
    probes = keys.select(
        key_col,
        F.posexplode(
            F.array(
                *[cms_cell(F.col(key_col), j, width) for j in range(depth)]
            )
        ).alias("j", "cell"),
    )
    return (
        probes.join(cms, ["j", "cell"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_n"))
    )
