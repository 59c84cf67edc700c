"""Salted grouped pairs (operators/dedupe.py): the salted two-phase
plan must produce the same pair set as the unsalted grouped plan."""

from __future__ import annotations

import pytest


def test_salted_pairs_cms_sizing_matches_exact_and_drops_a_shuffle(
    spark, monkeypatch
):
    """salted_group_pairs with a CMS size grid must produce the exact
    same pair set as exact-count sizing AND as the unsalted grouped
    plan — and the per-query plan must contain one fewer shuffle
    exchange (the sizes groupBy(keys).count() pass the grid replaces;
    the grid itself is a session artifact behind an in-memory scan)."""
    import open_rust_timeseries_db_spark.operators.dedupe as dd

    monkeypatch.setattr(dd, "SALT_MIN_SOURCE_ROWS", 0)
    monkeypatch.setattr(dd, "SALT_BUCKET_MIN_ROWS", 8)
    monkeypatch.setattr(dd, "SALT_TARGET_ROWS", 4)

    rows = (
        [(0, i) for i in range(30)]
        + [(1, 100 + i) for i in range(10)]
        + [(2, 200 + i) for i in range(3)]
    )
    # Multi-partition input: a single-partition local relation lets
    # Spark collapse partial+final aggregation without an exchange,
    # which would hide the very shuffle the census below counts.
    m = spark.createDataFrame(rows, "g int, id long").repartition(4)
    n = len(rows)

    unsalted = dd.salted_group_pairs(m, ("g",), [], n_member_rows=None)
    # n_member_rows=None skips the gate but keeps exact sizing; with
    # the monkeypatched floor, n also engages the machinery.
    exact = dd.salted_group_pairs(m, ("g",), [], n_member_rows=n)
    grid = dd.cms_size_grid(m, ("g",)).persist()
    grid.count()
    cms = dd.salted_group_pairs(
        m, ("g",), [], n_member_rows=n, cms_grid=grid
    )

    def pairs(df):
        return sorted((r["a"], r["b"]) for r in df.collect())

    want = sorted(
        (a, b)
        for ids in (range(30), range(100, 110), range(200, 203))
        for i, a in enumerate(ids)
        for b in list(ids)[i + 1:]
    )
    assert pairs(unsalted) == pairs(exact) == pairs(cms) == want

    def shuffles(df):
        # Tree walk, not string count: the plan STRING inlines each
        # cached relation's build plan (with its exchanges) once per
        # scan, while in the tree an in-memory scan is a leaf.
        def count(plan):
            name = plan.nodeName()
            if name == "AdaptiveSparkPlan":
                return count(plan.inputPlan())
            k = 1 if name == "Exchange" else 0
            ch = plan.children()
            for i in range(ch.length()):
                k += count(ch.apply(i))
            return k

        return count(df._jdf.queryExecution().executedPlan())

    # The exact path's sizes shuffle appears under BOTH the cold and
    # hot branch subtrees in the unexecuted plan (AQE reuses it as one
    # exchange at runtime), so dropping the sizing pass removes two
    # tree occurrences of that one shuffle.
    assert shuffles(cms) == shuffles(exact) - 2


def test_salted_pairs_rejects_widthless_grid(spark, monkeypatch):
    """A grid that lost its build width must be an ERROR, not a silent
    SALT_CMS_MIN_WIDTH fallback: probing a wider grid's cells modulo a
    smaller width collapses estimates toward 0 and hot buckets go
    unsalted — exactly the failure the machinery exists to prevent."""
    import open_rust_timeseries_db_spark.operators.dedupe as dd

    monkeypatch.setattr(dd, "SALT_MIN_SOURCE_ROWS", 0)
    m = spark.createDataFrame([(0, 1), (0, 2)], "g int, id long")
    grid = dd.cms_size_grid(m, ("g",))
    # a select() returns a NEW DataFrame object without the attribute
    stripped = grid.select("j", "cell", "c")
    with pytest.raises(ValueError, match="no build width"):
        dd.salted_group_pairs(m, ("g",), [], n_member_rows=2,
                              cms_grid=stripped)
    # explicit width restores the stripped grid's usability
    explicit = dd.salted_group_pairs(
        m, ("g",), [], n_member_rows=2, cms_grid=stripped,
        cms_width=grid._salt_cms_width,
    )
    assert sorted((r["a"], r["b"]) for r in explicit.collect()) == [(1, 2)]
