"""Plan-quality gates: the physical-plan properties the 100 TB design
relies on, asserted so regressions fail here instead of at scale.

Every gate states WHY the property matters at 1000 executors; sf is
irrelevant (plans are shape-stable), so these run on sf0.001.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.plans import (
    count_exchanges,
    has_broadcast_hash_join,
    has_python_eval,
    has_wholestage_codegen,
    plan_string,
    pushed_filters,
    read_schemas,
)
from open_rust_timeseries_db_spark.queries import all_queries
from open_rust_timeseries_db_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    """Registry specs with the prepared-plan memo UNWRAPPED: these
    tests assert on plan shape, and a memoized DataFrame that another
    test already executed renders its AQE-final plan string (extra
    QueryStage/Exchange nodes) instead of the logical shape under
    test. ``functools.wraps`` exposes the raw builder as
    ``__wrapped__``; fall back to the spec fn where no memo exists."""
    import dataclasses

    out = {}
    for name, spec in all_queries().items():
        fn = getattr(spec.fn, "__wrapped__", spec.fn)
        out[name] = dataclasses.replace(spec, fn=fn)
    return out


def test_filter_reaches_parquet_scan(spark, qs):
    """A filter that isn't pushed scans 100 TB to read 1 TB."""
    df = qs["q_filter_pushdown"].fn(spark, SF_DIR)
    assert pushed_filters(df), "no PushedFilters on the parquet scan"


def test_projection_prunes_scan_columns(spark):
    """Reading all columns for a 2-column projection is wrong at any
    scale; parquet scans must carry a pruned ReadSchema."""
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    schemas = read_schemas(df)
    assert schemas, "no parquet ReadSchema found"
    assert all(
        "l_orderkey" in s and "l_extendedprice" not in s for s in schemas
    ), f"scan not pruned: {schemas}"


def test_small_dim_join_broadcasts(spark, qs):
    """orders x customer must broadcast the small side — a shuffled
    sort-merge join here would move the fact table for nothing."""
    df = qs["q_join_orders_customer"].fn(spark, SF_DIR)
    assert has_broadcast_hash_join(df), plan_string(df, "simple")


def test_hot_aggregates_stay_jvm_side(spark, qs):
    """Reference-parity analytics must not fall out of whole-stage
    codegen into Python: BatchEvalPython in a hot path is a 10-100x
    regression (SURVEY.md §2.2 C1-C15 are all built-in expressible)."""
    # AQE hides codegen subtrees behind AdaptiveSparkPlan until
    # execution; toggle it off for the static codegen compile check
    # (codegen itself is unaffected by AQE).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in (
            "q_vwap_by_symbol",
            "q_latency_summary",
            "q_groupby_avg",
            "q_throughput_window",
            "q_event_lag",
        ):
            df = qs[name].fn(spark, SF_DIR)
            assert not has_python_eval(df), f"{name} evaluates Python"
            assert has_wholestage_codegen(df), f"{name} lost codegen"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_python_confined_to_designated_operators(spark, qs):
    """Python/Arrow evaluation appears ONLY where it is the designed
    hot path (vector similarity, multimodal plumbing, and — since the
    round-1 verdict measured the interpreted JVM HOF chains at 4-9x
    the oracle wall time — text shingle/signature kernels), nowhere
    else."""
    allowed = {
        "q_cosine_topk",
        "q_ann_ivf",
        "q_ann_search",
        # recall gate composes the two Arrow pipelines above
        "q_ann_recall",
        # label vote over the exact top-k table (same Arrow build as
        # the recall gate's ground-truth side)
        "q_knn_classify",
        "q_embedding_neardup",
        "q_frame_sample",
        # functions/text_kernels.py consumers (shingle/MinHash/SimHash
        # Arrow kernels):
        "q_ngram_jaccard",
        "q_minhash_jaccard",
        "q_simhash",
        "q_dedup_near",
        "q_dedup_clusters",
        "q_contamination",
        "q_winnowing_fp",
        # bigram LM counts roll up the fused doc-gram Arrow kernel's
        # per-document bigram rows (doc_gram_counts_pd): the JVM HOF
        # chain shuffled one row per bigram occurrence; the rollup
        # ships per-document counts instead.
        "q_ngram_lm_bigrams",
        # per-doc bigram kernel consumers:
        "q_lm_score",
        "q_repetition_ratio",
        # (doc, term, tf) family — derives from the fused doc-gram
        # Arrow kernel since round 5 (one tokenization pass shared
        # with the bigram family, replacing the JVM explode+agg):
        "q_tfidf_topterms",
        "q_bm25_rank",
        "q_token_diversity",
        # fingerprint census (doc_fp_census_ckpt): fp is JVM md5, but
        # n_toks comes from the doc_lengths rollup of the doc-gram
        # kernel, so the kernel lineage sits under the cached census:
        "q_dedup_apply",
        "q_fingerprint",
        # winnowing fingerprint kernel consumers:
        "q_winnow_neardup",
        # IVF assignment kernel feeding the Lloyd update hash-agg:
        "q_kmeans_update",
        # real PNG / WAV encode->decode roundtrips inside Arrow passes:
        "q_image_decode",
        "q_audio_decode",
        # IVF-cell-blocked pair scoring (applyInPandas per cell):
        "q_semantic_dedup",
    }
    for name, spec in qs.items():
        if name.startswith("q_stream"):
            continue  # streaming plans are checked by execution
        df = spec.fn(spark, SF_DIR)
        if name in allowed:
            # A kernel behind the session cache shows as an
            # InMemoryTableScan (persist) or an ExistingRDD scan
            # (localCheckpoint / pickled createDataFrame) — not an
            # InPandas node. LocalTableScan (Arrow createDataFrame of
            # the driver-side union-find labels) is accepted ONLY for
            # q_dedup_clusters: anywhere else a tiny local relation in
            # the plan would satisfy the guard vacuously.
            plan = plan_string(df, "simple")
            assert (
                has_python_eval(df)
                or "InMemoryTableScan" in plan
                or "ExistingRDD" in plan
                or (name == "q_dedup_clusters" and "LocalTableScan" in plan)
            ), f"{name} should use the Arrow path"
        else:
            assert not has_python_eval(df), f"{name} unexpectedly runs Python"


def test_single_shuffle_aggregation(spark, qs):
    """groupBy().agg() must be one shuffle (partial map-side + final);
    anything more means partial aggregation broke."""
    df = qs["q_groupby_avg"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 1, plan_string(df, "simple")


def test_vwap_single_shuffle(spark, qs):
    df = qs["q_vwap_by_symbol"].fn(spark, SF_DIR)
    assert count_exchanges(df) <= 2, plan_string(df, "simple")


def test_range_join_is_broadcast_not_cartesian(spark, qs):
    """The band side is tiny: the plan must be a broadcast nested-loop
    over the fact table, never a shuffled cartesian."""
    df = qs["q_range_join"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_modulo_sample_pushdown_free_scan(spark, qs):
    """Deterministic modulo sampling stays a narrow scan: no shuffle."""
    df = qs["q_modulo_sample"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 0, plan_string(df, "simple")


def test_broadcast_hint_survives_in_topk(spark):
    """orderBy().limit() must plan TakeOrderedAndProject (top-k heap),
    not a global sort."""
    orders = load_table(spark, SF_DIR, "orders")
    df = orders.orderBy(F.col("o_totalprice").desc()).limit(10)
    assert "TakeOrderedAndProject" in plan_string(df, "simple")


def test_pipeline_dictionary_sides_broadcast(spark, qs):
    """Vocabulary/dictionary-sized join sides in the curation queries
    must broadcast — shuffling the corpus to meet a vocab-sized table
    is wrong at any scale."""
    for name in ("q_tfidf_topterms", "q_mixture_sample", "q_ngram_lm_bigrams"):
        df = qs[name].fn(spark, SF_DIR)
        assert has_broadcast_hash_join(df), f"{name}: {plan_string(df, 'simple')}"


def test_packing_window_is_shard_partitioned(spark, qs):
    """q_pack_plan's cumulative-sum window must partition by shard —
    a single-partition window would serialize the whole corpus."""
    df = qs["q_pack_plan"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "hashpartitioning(shard" in plan, plan


def test_anomaly_window_is_symbol_partitioned(spark, qs):
    """q_anomaly_zscore's rolling frame must partition by symbol."""
    df = qs["q_anomaly_zscore"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "hashpartitioning(user_id" in plan, plan


def test_sliding_window_two_phase_plan(spark, qs):
    """q_sliding_window's intended shape: pre-aggregate into slide
    buckets (shuffle 1), explode buckets 10x, re-aggregate windows
    (shuffle 2). Spark's window(ts, w, s) built-in would explode every
    EVENT 10x before the first shuffle — a width/slide-fold more
    shuffle rows at any scale. Pinned after the round-2 bench moved
    +32% on this query (host variance, but the plan is the invariant
    worth guarding)."""
    df = qs["q_sliding_window"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 2, plan_string(df, "simple")
    assert not has_python_eval(df)


def test_warm_plan_build_runs_zero_jobs(spark, qs):
    """Building a query PLAN on a warm session must launch no Spark
    jobs: the broadcast-vs-grouped cutovers read memoized stats
    (cached_count/cached_avg) and the scan-split probe is memoized per
    catalog table — a driver-side .count() per invocation is a blocking
    job serialized before the real query at any scale (round-2 verdict
    'What's wrong' #3)."""
    warm = (
        "q_dedup_near",
        "q_minhash_jaccard",
        "q_ngram_jaccard",
        "q_simhash",
        "q_contamination",
        "q_tfidf_topterms",
        "q_bm25_rank",
        "q_ngram_lm_bigrams",
    )
    for name in warm:  # populate session caches (jobs expected here)
        qs[name].fn(spark, SF_DIR)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    for name in warm:  # plan-build only: no action, so no jobs allowed
        qs[name].fn(spark, SF_DIR)
    after = set(spark.sparkContext.statusTracker().getJobIdsForGroup())
    assert after == before, f"warm plan build launched jobs: {sorted(after - before)}"


def test_scoring_lm_sides_broadcast(spark, qs):
    """q_lm_score's LM side (vocabulary-sized bigram model) must
    broadcast: shuffling the per-doc corpus stream to meet a
    dictionary-sized table is wrong at any scale."""
    df = qs["q_lm_score"].fn(spark, SF_DIR)
    assert has_broadcast_hash_join(df), plan_string(df, "simple")


def test_winnow_neardup_joinless(spark, qs):
    """q_winnow_neardup carries the containment denominator (per-doc
    fingerprint count, emitted by the Arrow kernel on every row)
    through the pair expansion: the plan must contain NO join of any
    kind and at most two Exchanges (fp grouping + pair aggregation) —
    a sizes re-attach join or a third shuffle means the free-rider
    n_fp column regressed."""
    df = qs["q_winnow_neardup"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "Join" not in plan, plan
    # Only the plan above the cached fp table executes (the cached
    # node's stored lineage prints below but never re-runs).
    live = plan[: plan.index("InMemoryTableScan")] if "InMemoryTableScan" in plan else plan
    assert live.count("Exchange") <= 2, plan


def test_token_diversity_single_shuffle(spark, qs):
    """q_token_diversity is a pure rollup of the session-cached tf
    table: once the cache is materialized, exactly ONE hash-agg
    shuffle remains — more means the rollup re-derived the corpus
    explode instead of reading cached partials."""
    # Materialize the shared tf cache (lazy persist: first action).
    qs["q_token_diversity"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    df = qs["q_token_diversity"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "InMemoryTableScan" in plan, plan
    # Only the plan ABOVE the cached relation executes (the cached
    # node's stored lineage prints below it but never re-runs): one
    # hash-agg Exchange there, no more.
    live = plan[: plan.index("InMemoryTableScan")]
    assert live.count("Exchange") <= 1, plan


def test_kmeans_update_single_aggregation_shuffle(spark, qs):
    """q_kmeans_update: assignment kernel -> posexplode -> ONE
    (centroid, dim)-keyed hash-agg. The posexplode multiplies rows d
    times, so a second corpus-sized shuffle would be d x the data in
    motion for nothing. Two Exchanges appear in the plan: the
    member-embedding equi-join's and the final aggregation's; the
    join side must stay broadcast-or-colocated (no third)."""
    df = qs["q_kmeans_update"].fn(spark, SF_DIR)
    assert count_exchanges(df) <= 2, plan_string(df, "simple")


def test_codec_queries_zero_data_shuffle(spark, qs):
    """The codec roundtrip queries are pure narrow maps: encode +
    decode + feature extraction all happen inside one Arrow pass. The
    only permissible Exchange is py_stage_input's round-robin
    repartition of a scan with fewer splits than its rows need (none at
    testdata scale) — and it must carry only the doc_id column, never
    decoded payloads: a post-kernel shuffle would move binary/feature
    rows between executors for per-row work."""
    for name in ("q_image_decode", "q_audio_decode"):
        df = qs[name].fn(spark, SF_DIR)
        plan = plan_string(df, "simple")
        assert count_exchanges(df) <= 1, f"{name}: {plan}"
        # The kernel (InPandas) must sit ABOVE any exchange:
        # everything after the Arrow pass stays task-local.
        if "Exchange" in plan:
            in_pandas = plan.index("InPandas")
            exchange = plan.index("Exchange")
            assert in_pandas < exchange, f"{name}: shuffle after kernel\n{plan}"


@pytest.mark.parametrize("cores", [4, 8, 32])
def test_py_task_count_is_rows_capped_by_cores(cores):
    """The Python-stage rule: one task per ROWS_PER_PY_TASK rows, cores
    only as the cap. Pure, so 32 slots are checked without a 32-slot
    session: the testdata corpora (500 and 5,000 docs) get 1 and 4
    tasks on any machine with 4 or more slots."""
    from open_rust_timeseries_db_spark.operators.sizing import (
        ROWS_PER_PY_TASK as R,
        py_task_count,
    )

    assert py_task_count(-1, cores) == 0  # unknown rows: natural splits
    assert py_task_count(0, cores) == 0
    assert py_task_count(1, cores) == 1
    assert py_task_count(500, cores) == 1
    assert py_task_count(5_000, cores) == 4
    assert py_task_count(R + 1, cores) == 2
    assert py_task_count(3 * R, cores) == min(3, cores)
    assert py_task_count(cores * R * 10, cores) == cores


def test_py_stage_input_repartitions_only_below_the_rule(
    spark, tmp_path, monkeypatch
):
    """A one-split scan of more rows than one task takes is spread to
    the rule's count, from its footers; a scan already split that far
    and a local frame (no file, rows unknown) are returned as is."""
    from open_rust_timeseries_db_spark.operators import sizing

    monkeypatch.setattr(sizing, "ROWS_PER_PY_TASK", 100)
    path = str(tmp_path / "t.parquet")
    spark.range(450).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() == 1
    assert sizing.py_stage_input(one).rdd.getNumPartitions() == 5
    split = spark.read.parquet(path).repartition(6)
    assert split.inputFiles()  # still a file scan, 450 footer rows
    assert sizing.py_stage_input(split) is split
    local = spark.createDataFrame([(i,) for i in range(450)], "id long")
    assert sizing.py_stage_input(local) is local


@pytest.mark.parametrize(
    "sf_dir", [SF_DIR, SF_DIR.replace("sf0.001", "sf0.01")],
    ids=["sf0.001", "sf0.01"],
)
def test_python_stage_inputs_follow_the_rule(spark, qs, sf_dir):
    """Every Python-stage input (the four text kernels, the two JVM
    text passes that share their sizing, the two codec queries) runs
    at most the rule's task count: no round-robin spread to a
    core-derived target, whatever the slot count."""
    from open_rust_timeseries_db_spark.functions import text_kernels as tk
    from open_rust_timeseries_db_spark.operators.sizing import py_task_count
    from open_rust_timeseries_db_spark.sources.catalog import table_rows

    docs = load_table(spark, sf_dir, "documents")
    bound = max(1, py_task_count(
        table_rows(sf_dir, "documents"),
        spark.sparkContext.defaultParallelism,
    ))
    inputs = {
        "shingle_profile_pd": tk.shingle_profile_pd(docs, n_perms=16),
        "simhash_signatures_pd": tk.simhash_signatures_pd(docs),
        "winnow_fp_pd": tk.winnow_fp_pd(docs),
        "doc_gram_counts_pd": tk.doc_gram_counts_pd(docs),
    }
    for name in ("q_lang_id", "q_quality_score",
                 "q_image_decode", "q_audio_decode"):
        inputs[name] = qs[name].fn(spark, sf_dir)
    for name, df in inputs.items():
        n = df.rdd.getNumPartitions()
        assert n <= bound, f"{name}: {n} partitions > {bound}"


def test_semantic_dedup_blocks_on_centroid(spark, qs):
    """q_semantic_dedup's pair work must be blocked by the IVF cell:
    the applyInPandas group shuffle hashes on centroid_id, bounding the
    quadratic pair matrix per task exactly like an LSH bucket. A plan
    without that partitioning would drift toward all-pairs."""
    df = qs["q_semantic_dedup"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "hashpartitioning(centroid_id" in plan, plan


def test_single_task_sorts_confined_to_allowlist(spark, qs):
    """No registered batch query may funnel data-scale rows through a
    single task (Exchange SinglePartition feeding a Sort/Window)
    unless it is on this allowlist — every entry is either bounded by
    construction or a documented exact-math twin of a scale path.
    A new query sliding into single-task territory fails here instead
    of at 1000 executors."""
    import re

    # query -> why a single-task sort/window is acceptable there
    allow = {
        # Nearest-rank global percentiles: size-gated strategy — at
        # bench scale the on-disk gate picks the minimal-stage
        # single-task window (the right plan when one task can sort
        # the rows); past PARQUET_SORT_MAX_BYTES both queries switch
        # to binned two-pass selection, whose only serial window runs
        # over the bounded bin histogram (test_percentile_guard pins
        # the binned plan shape and the strategies' equality).
        "q_latency_percentiles": "size-gated in-memory strategy",
        "q_approx_percentile": "size-gated in-memory strategy",
        # Global NTILE(10): docstring routes scale users to
        # approx_percentile bounds + bucketed aggregation.
        "q_length_deciles": "exact-decile parity twin",
        # The share window runs over the post-aggregation BIN table
        # (bounded by the value range / bin width), not raw rows.
        "q_value_histogram": "window over tiny bin table",
        # Date-spine recursion: rows bounded by the calendar span.
        "q_recursive_calendar": "bounded date spine",
        # Ratio-to-report / period-over-period: the window runs over
        # the POST-AGGREGATION key table (5 priorities / the month
        # spine), bounded by group-key cardinality at any scale.
        "q_percent_of_total": "window over 5-row priority table",
        "q_mom_growth": "lag over bounded month spine",
        # Share/cum-share windows run over the POST-AGGREGATION decile
        # table (<= 10 rows by construction); the raw-row work — the
        # percentile cutoffs — rides the size-gated percentile
        # operator, never a global row sort.
        "q_revenue_concentration": "window over <=10-row decile table",
        # Normalizing windows over POST-AGGREGATION cell tables bounded
        # by construction: <=168 (dow, hour) calendar cells / <=9 first
        # digits — never raw rows at any data scale.
        "q_hourofweek_profile": "window over <=168-row calendar cells",
        "q_benford_digits": "window over <=9-row digit table",
    }

    def single_task_data_ops(plan: str) -> bool:
        sp = {
            int(m.group(1))
            for m in re.finditer(r"\((\d+)\) Exchange\b", plan)
            if re.search(
                r"\(%s\) Exchange[^\n]*\nInput[^\n]*\nArguments: SinglePartition"
                % m.group(1),
                plan,
            )
        }
        if not sp:
            return False
        tree = []
        for line in plan.splitlines():
            m = re.match(r"^([ +:-]*)([A-Za-z][A-Za-z0-9]*)[^(]*\((\d+)\)", line)
            if m:
                tree.append((len(m.group(1)), m.group(2), int(m.group(3))))
            elif tree:
                break
        for i, (ind, _name, nid) in enumerate(tree):
            if nid in sp:
                cur, anc = ind, []
                for j in range(i - 1, -1, -1):
                    if tree[j][0] < cur:
                        anc.append(tree[j][1])
                        cur = tree[j][0]
                    if len(anc) >= 2:
                        break
                if any(a in ("Sort", "Window", "WindowGroupLimit") for a in anc):
                    return True
        return False

    offenders = []
    for name, spec in sorted(qs.items()):
        if {"streaming", "iterative"} & set(spec.tags) or name in allow:
            continue
        if single_task_data_ops(plan_string(spec.fn(spark, SF_DIR))):
            offenders.append(name)
    assert not offenders, (
        f"single-task Sort/Window outside the allowlist: {offenders} — "
        "partition the window, pre-aggregate first, or add an "
        "allowlist entry with a scale rationale"
    )
    # The allowlist itself must stay honest: entries that lose their
    # single-task shape should be removed.
    stale = [
        n
        for n in allow
        if not single_task_data_ops(plan_string(qs[n].fn(spark, SF_DIR)))
    ]
    assert not stale, f"allowlisted but no longer single-task: {stale}"


def test_no_cartesian_products_and_bnlj_allowlisted(spark, qs):
    """CartesianProduct must never appear in any registered plan (a
    data x data cartesian is quadratic at any scale), and
    BroadcastNestedLoopJoin is confined to sites that broadcast a
    bounded side: one-row scalar/bounds attaches and the documented
    range join (theta predicate, broadcast build side)."""
    allow_bnlj = {
        "q_gapfill_locf": "one-row spine-bounds attach",
        "q_gapfill_interp": "one-row spine-bounds attach (locf's twin)",
        "q_heavy_hitters": "one-row sketch-total attach",
        "q_range_join": "theta join, broadcast build side by design",
        "q_set_ops": "one-row count attach",
        "q_revenue_concentration": "one-row decile-cutoffs attach",
    }
    cart, rogue = [], []
    for name, spec in sorted(qs.items()):
        if {"streaming", "iterative"} & set(spec.tags):
            continue
        p = plan_string(spec.fn(spark, SF_DIR))
        if "CartesianProduct" in p:
            cart.append(name)
        if "BroadcastNestedLoopJoin" in p and name not in allow_bnlj:
            rogue.append(name)
    assert not cart, f"CartesianProduct in: {cart}"
    assert not rogue, (
        f"BroadcastNestedLoopJoin outside the allowlist: {rogue} — "
        "give the join an equi-key, broadcast a bounded side, or add "
        "an allowlist entry with the bounded-side rationale"
    )


def test_plan_audit_artifact_covers_registry(spark, qs):
    """PLAN_AUDIT.json must cover exactly the registered queries, and
    each committed entry must be what scripts/plan_audit.py's census
    reads from the code today (all but the Exchange count) — a registry
    or plan change without `python scripts/plan_audit.py` fails here
    (the invariants themselves are asserted live by the gates above;
    this keeps the committed census from rotting)."""
    import importlib.util
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "plan_audit", root / "scripts" / "plan_audit.py"
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    audit = json.loads((root / "PLAN_AUDIT.json").read_text())["queries"]
    assert set(audit) == set(qs), (
        "registry and PLAN_AUDIT.json diverge - rerun scripts/plan_audit.py"
    )

    def stable(entry):
        # The Exchange count is left out: once an earlier test has run
        # a session-cached input, its in-memory relation renders the
        # executed adaptive plan with extra Exchange nodes, so the count
        # depends on test order (q_simhash read 6 in a full test run
        # against the 3 a fresh session records).
        return {k: v for k, v in entry.items() if k != "exchanges"}

    stale = {
        name: (stable(entry), got)
        for name, entry in sorted(audit.items())
        if stable(entry)
        != (got := stable(pa.audit_entry(spark, SF_DIR, qs[name])))
    }
    assert not stale, (
        "PLAN_AUDIT.json entries differ from the code's plans (committed, "
        f"live) - rerun scripts/plan_audit.py: {stale}"
    )


def test_marker_hits_expr_escapes_quotes(spark):
    # Stopword lists routinely contain contractions; the SQL-string
    # marker counter must escape them (the Column form accepts any
    # string via F.lit).
    from open_rust_timeseries_db_spark.functions.text import (
        marker_hits,
        marker_hits_expr,
        tokens,
        tokens_expr,
    )
    from pyspark.sql import functions as F

    markers = ("don't", "it's", "plain")
    df = spark.createDataFrame(
        [(1, "don't stop it's plain x")], "doc_id long, text string"
    )
    got = df.selectExpr(
        f"{tokens_expr('text')} AS _toks"
    ).selectExpr(f"{marker_hits_expr('_toks', markers)} AS n").collect()[0]["n"]
    want = (
        df.select(tokens("text").alias("_toks"))
        .select(marker_hits(F.col("_toks"), markers).alias("n"))
        .collect()[0]["n"]
    )
    assert got == want == 3
