"""The query-sweep workload: registered queries, one closed-loop client.

Set-up starts the session and runs the session cache builds the swept
queries read. Then one cold pass invokes every query once in registry
order, and ``warm_passes(seconds)`` warm passes follow, each in an
order shuffled by the seed. Each invocation is timed in two parts from
outside: the ``QuerySpec.fn`` call (plan build; for streaming queries
it also runs the drain) and the ``toPandas`` collect that executes the
plan. Every result is checked, untimed, against the expected hash of
the query's DuckDB oracle.

The sweep has two families. ``tick`` queries run in the JVM only and
read the event layouts, the hourly aggregate and a streaming drain;
``corpus`` queries run the Python/Arrow kernels, the dedup graph and
the checkpoint cache. Each family is reported on its own next to the
totals, so a change to one shows the other as its bypass case.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from pathlib import Path

from checks import load_expected, mismatch

DATA_DIR = Path(__file__).resolve().parent / "data"

# Modules whose queries have committed expected results.
QUERY_MODULES = (
    "parity", "timeseries", "indicators", "stats", "streaming_q",
    "text", "pipeline", "dedup", "similarity",
)

# A run must fit the benchmark's time budget, so the sweep is a fixed
# sample of those modules' queries: every module is represented, and
# every cache build the sweep runs is read by a sampled query.
BUILDS = {
    # events_user_cms and conversion_proj feed only the analytic module;
    # the append-built layout's lifecycle (append + compaction) is what
    # tick-ingest runs.
    "tick": ("events_time_layout", "ohlc_hourly"),
    "corpus": (
        "doc_gram", "doc_term_tf", "term_df", "doc_lengths",
        "simhash_sigs", "simhash_grouped", "ann_matrices", "ivf_assign",
    ),
}
QUERIES = {
    "tick": (
        # parity: the reference's consumer analytics
        "q_vwap_by_symbol", "q_latency_percentiles", "q_throughput_window",
        # timeseries: layout reads and the hourly continuous aggregate
        "q_time_window_scan", "q_ohlc_bars", "q_ohlc_daily_rollup",
        # indicators, stats and a streaming drain
        "q_rsi", "q_acf", "q_stream_vwap",
    ),
    "corpus": (
        # text and pipeline: tokenizer kernels and the tf family
        "q_lang_id", "q_tfidf_topterms", "q_token_diversity",
        # dedup: simhash signatures, connected components
        "q_simhash", "q_dedup_clusters",
        # similarity: the ANN index
        "q_ann_search",
    ),
}


def warm_passes(seconds: float) -> int:
    """A fixed number of warm passes per run length, so every run of one
    length does the same work (a warm pass takes about 3 s)."""
    return max(2, round(seconds / 3))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def run_sweep(run) -> None:
    from open_rust_timeseries_db_spark.queries import all_queries
    from open_rust_timeseries_db_spark.queries.cache_builds import cache_builders
    from open_rust_timeseries_db_spark.streaming import run as stream_run

    spark, tr, sf = run.spark, run.tracer, str(DATA_DIR)
    specs = all_queries()
    expected = load_expected()
    names = [q for fam in QUERIES.values() for q in fam]

    build_s: dict[str, float] = {}
    with tr.span("cache_builds.cache_builders"):
        builders = cache_builders(spark, sf)
        for name in (b for fam in BUILDS.values() for b in fam):
            t0 = time.perf_counter()
            with tr.span(f"cache_builds.{name}"):
                builders[name]()
            build_s[name] = time.perf_counter() - t0
    run.setup_done()

    plan: dict[str, list[float]] = {q: [] for q in names}
    execs: dict[str, list[float]] = {q: [] for q in names}
    last_df: dict[str, object] = {}
    memo_hits = warm_calls = 0
    pass_counts: list[list[int]] = []
    drains: list[dict[str, float]] = []

    def invoke(name: str, n_pass: int) -> None:
        nonlocal memo_hits, warm_calls
        spec = specs[name]
        run.sample_host(jvm=run.attempted % 4 == 3)
        run.attempted += 1
        with tr.span("query", trace=f"{name}#{n_pass}"):
            if tr.enabled:
                spark.sparkContext.setJobGroup(name, f"{name} pass {n_pass}")
            try:
                t0 = time.perf_counter()
                with tr.span("registry.build_plan"):
                    df = spec.fn(spark, sf)
                t1 = time.perf_counter()
                with tr.span("exec.collect"):
                    got = df.toPandas()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failing query is counted
                run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:160]}")
                return
            plan[name].append(t1 - t0)
            execs[name].append(t2 - t1)
            if n_pass > 0:
                warm_calls += 1
                memo_hits += df is last_df.get(name)
            last_df[name] = df
            with tr.span("bench.check"):
                why = mismatch(expected[name], got)
            if why:
                run.fail(f"{name}: {why}")
            if "streaming" in spec.tags:
                progress = stream_run.LAST_DRAIN_PROGRESS
                drains[-1]["trigger"] += sum(
                    p["durationMs"].get("triggerExecution", 0) for p in progress
                )
                drains[-1]["add_batch"] += sum(
                    p["durationMs"].get("addBatch", 0) for p in progress
                )
                drains[-1]["rows"] += sum(p["numInputRows"] or 0 for p in progress)
        for i, v in enumerate(run.count_spark()):
            pass_counts[-1][i] += v

    rng = random.Random(run.seed)
    order = list(names)
    for n_pass in range(1 + warm_passes(run.seconds)):
        drains.append({"trigger": 0.0, "add_batch": 0.0, "rows": 0.0})
        pass_counts.append([0, 0, 0])
        with tr.span("bench.pass", trace=f"pass{n_pass}"):
            for name in order:
                invoke(name, n_pass)
        run.sample_host(jvm=True)
        rng.shuffle(order)

    def lat(q: str) -> list[float]:
        return [p + e for p, e in zip(plan[q], execs[q])]

    n_runs = len(pass_counts)
    ok = [q for q in names if len(plan[q]) == n_runs]
    fam_ok = {f: [q for q in qs if q in ok] for f, qs in QUERIES.items()}
    run.e2e_raw.update(
        cold_s=sum(lat(q)[0] for q in ok),
        warm_s=sum(_median(lat(q)[1:]) for q in ok),
        latency_ms=_geomean([_median(lat(q)[1:]) for q in ok]) * 1e3,
    )
    run.extra["queries"] = {
        q: {"plan_s": plan[q], "exec_s": execs[q]} for q in names
    }
    warm_counts = pass_counts[1:]
    warm_drains = drains[1:]
    trig = _median([d["trigger"] for d in warm_drains])
    add = _median([d["add_batch"] for d in warm_drains])
    run.layers.update(
        {
            "cache_builds.total_s": sum(build_s.values()),
            **{f"cache_builds.{k}_s": v for k, v in build_s.items()},
            **{
                f"queries.{f}_cold_ms": sum(lat(q)[0] for q in qs) * 1e3
                for f, qs in fam_ok.items()
            },
            **{
                f"queries.{f}_warm_ms": sum(_median(lat(q)[1:]) for q in qs) * 1e3
                for f, qs in fam_ok.items()
            },
            "registry.plan_cold_ms": sum(plan[q][0] for q in ok) * 1e3,
            "registry.plan_warm_ms": sum(_median(plan[q][1:]) for q in ok) * 1e3,
            "registry.memo_hit_ratio": memo_hits / warm_calls if warm_calls else 0.0,
            "exec.cold_ms": sum(execs[q][0] for q in ok) * 1e3,
            "exec.warm_ms": sum(_median(execs[q][1:]) for q in ok) * 1e3,
            "exec.jobs": _median([c[0] for c in warm_counts]),
            "exec.stages": _median([c[1] for c in warm_counts]),
            "exec.tasks": _median([c[2] for c in warm_counts]),
            "streaming.drain_ms": trig,
            "streaming.add_batch_ms": add,
            "streaming.machinery_ms": trig - add,
            "streaming.input_rows": _median([d["rows"] for d in warm_drains]),
        }
    )
