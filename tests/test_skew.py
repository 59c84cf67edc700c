"""Salted grouped pairs (operators/dedupe.py): the salted two-phase
plan must produce the same pair set as the unsalted grouped plan."""

from __future__ import annotations


def test_salted_pairs_match_unsalted(spark, monkeypatch):
    """salted_group_pairs with exact-count sizing must produce the
    exact same pair set as the unsalted grouped plan and as the pairs
    built by hand: with the thresholds lowered, the 30-member bucket
    splits 8 ways, the 10-member one 3 ways and the 3-member one stays
    cold."""
    import open_rust_timeseries_db_spark.operators.dedupe as dd

    rows = (
        [(0, i) for i in range(30)]
        + [(1, 100 + i) for i in range(10)]
        + [(2, 200 + i) for i in range(3)]
    )
    m = spark.createDataFrame(rows, "g int, id long").repartition(4)

    # The branch is chosen while the plan is built: a row count under
    # the production SALT_MIN_SOURCE_ROWS gives the single-branch
    # grouped plan, and the same count past the lowered floor below
    # gives the salted one.
    unsalted = dd.salted_group_pairs(m, ("g",), [], n_member_rows=len(rows))
    monkeypatch.setattr(dd, "SALT_MIN_SOURCE_ROWS", 0)
    monkeypatch.setattr(dd, "SALT_BUCKET_MIN_ROWS", 8)
    monkeypatch.setattr(dd, "SALT_TARGET_ROWS", 4)
    salted = dd.salted_group_pairs(m, ("g",), [], n_member_rows=len(rows))
    assert "__salt" in salted._jdf.queryExecution().analyzed().toString()
    assert "__salt" not in unsalted._jdf.queryExecution().analyzed().toString()

    def pairs(df):
        return sorted((r["a"], r["b"]) for r in df.collect())

    want = sorted(
        (a, b)
        for ids in (range(30), range(100, 110), range(200, 203))
        for i, a in enumerate(ids)
        for b in list(ids)[i + 1:]
    )
    assert pairs(unsalted) == pairs(salted) == want
