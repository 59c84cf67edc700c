"""The bench's cache-build phase must actually cover the shared tables.

If a query materializes a session-cached artifact the build phase does
not list, its "cold" bench line silently absorbs a build again (the
round-3 mis-attribution the phase exists to fix). Contract: after all
builders run, the cache-heavy queries plan WITHOUT adding new ckpt
cache entries and without collect-memo misses.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F  # noqa: F401  (parity with suite style)

import open_rust_timeseries_db_spark.functions.text_kernels as tk
from open_rust_timeseries_db_spark import session_cache as sc
from open_rust_timeseries_db_spark.queries import all_queries
from open_rust_timeseries_db_spark.queries.cache_builds import cache_builders
from open_rust_timeseries_db_spark.queries.helpers import events_us
from open_rust_timeseries_db_spark.sources import layout
from open_rust_timeseries_db_spark.sources.catalog import load_table
from tests.conftest import SF_DIR

# The queries whose plans hang off shared session artifacts.
CACHE_HEAVY = [
    "q_lm_score",
    "q_ngram_lm_bigrams",
    "q_repetition_ratio",
    "q_tfidf_topterms",
    "q_bm25_rank",
    "q_token_diversity",
    "q_dedup_near",
    "q_minhash_jaccard",
    "q_ngram_jaccard",
    "q_simhash",
    "q_winnow_neardup",
    "q_winnowing_fp",
    "q_contamination",
    "q_ann_ivf",
    "q_kmeans_update",
    "q_semantic_dedup",
    # fingerprint-census consumers (round 9):
    "q_dedup_apply",
    "q_fingerprint",
    "q_ann_recall",
    "q_ngram_lm_bigrams",
]


def _ckpt_keys() -> list:
    return list(sc._GROUPS.get((sc.CKPT,), {}))


def test_cache_builders_cover_query_artifacts(spark):
    specs = all_queries()
    builders = cache_builders(spark, SF_DIR)
    rows = {name: build() for name, build in builders.items()}
    assert all(n >= 0 for n in rows.values())

    n_entries = len(_ckpt_keys())
    for name in CACHE_HEAVY:
        specs[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    assert len(_ckpt_keys()) == n_entries, (
        "a cache-heavy query materialized a session artifact the build "
        "phase does not list: "
        f"{sorted(k[3:] for k in _ckpt_keys()[-(len(_ckpt_keys()) - n_entries):])}"
    )


@pytest.fixture
def empty_cache(monkeypatch):
    """A private, empty session cache for the test; the session's own
    entries come back afterwards."""
    monkeypatch.setattr(sc, "_GROUPS", {})
    monkeypatch.setattr(sc, "_PARENT", {})
    monkeypatch.setattr(sc, "_CHILDREN", {})


def test_parent_eviction_cascades_to_derived_children(
    spark, monkeypatch, empty_cache
):
    # Evicting a persisted parent must also drop its persist=False
    # children: a surviving child is a memoized view over unpersisted
    # blocks that silently recomputes the full kernel pipeline per
    # action (round-6 ADVICE low).
    monkeypatch.setattr(sc, "CKPT_MAX", 3)
    src = spark.range(100)
    par = tk._cached_ckpt(src, src.selectExpr("id"), ("par",))
    tk._cached_ckpt(
        src, par.filter("id > 2"), ("child",), persist=False, parent=par
    )
    # Registration + hits keep the parent at least as fresh as the
    # child, so plain LRU pressure always takes the child first —
    # the cascade is the backstop for direct/forced eviction.
    sc.evict(par._orts_ckpt_key)
    tails = {k[3:] for k in _ckpt_keys()}
    assert ("par",) not in tails
    assert ("child",) not in tails
    assert not sc._PARENT and not sc._CHILDREN


def test_child_hit_keeps_parent_fresh(spark, monkeypatch, empty_cache):
    # A hit on a derived view is a hit on its parent's blocks: the
    # parent must not be the LRU victim while the child is hot.
    monkeypatch.setattr(sc, "CKPT_MAX", 3)
    src = spark.range(100)
    par = tk._cached_ckpt(src, src.selectExpr("id"), ("par",))
    tk._cached_ckpt(
        src, par.filter("id > 2"), ("child",), persist=False, parent=par
    )
    tk._cached_ckpt(src, src.selectExpr("id + 1 AS x"), ("d0",))
    # Child HIT touches the parent; the next insert must evict d0
    # (now the stalest untouched entry), not the parent.
    tk._cached_ckpt(
        src, par.filter("id > 2"), ("child",), persist=False, parent=par
    )
    tk._cached_ckpt(src, src.selectExpr("id + 2 AS x"), ("d1",))
    tails = {k[3:] for k in _ckpt_keys()}
    assert ("par",) in tails and ("child",) in tails
    assert ("d0",) not in tails


@pytest.mark.parametrize(
    "build",
    [
        lambda spark, sf_dir: load_table(spark, sf_dir, "region"),
        events_us,
        layout.events_layout_ckpt,
    ],
    ids=["catalog_table", "events_frame", "layout_path"],
)
def test_session_cache_keys_on_app_and_scope(spark, tmp_path, build):
    # The same application and scope get the cached object back; another
    # scope (a different sf_dir path to the same files) builds its own.
    other = tmp_path / "sf"
    other.symlink_to(SF_DIR)
    first = build(spark, SF_DIR)
    assert build(spark, SF_DIR) is first
    fresh = build(spark, str(other))
    try:
        assert fresh is not first
        assert build(spark, str(other)) is fresh
    finally:
        if isinstance(fresh, str):  # a layout copy under the session root
            shutil.rmtree(fresh, ignore_errors=True)
