"""Text-analysis queries over ``documents`` — the LLM-data-pipeline
surface mandated beyond the reference (SURVEY.md §2.4): token analytics,
language ID, quality scoring, fingerprinting.

All implementations are pure column expressions from functions/text.py
(whole-stage codegen; the only shuffles are the final small aggregations)
— at 100 TB these run as narrow per-document passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    marker_hits_expr,
    tokens,
    tokens_expr,
)
from open_rust_timeseries_db_spark.operators.sizing import py_stage_input
from open_rust_timeseries_db_spark.queries.registry import query
from open_rust_timeseries_db_spark.sources.catalog import load_table

# DuckDB fragment: non-empty whitespace tokens of ``text``.
_SQL_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"


def _sql_in_list(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in items)


@query(
    "q_token_counts",
    f"""
    SELECT tok AS word, COUNT(*) AS n
    FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, word
    LIMIT 50
    """,
    doc="Corpus token frequency, top-50 with total tie-break order. "
    "Scale: explode -> hash-agg is one shuffle keyed by word; at 100 TB "
    "add a map-side partial topK or count-min sketch before the shuffle "
    "for heavy hitters.",
    tags=("text", "tokens"),
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


@query(
    "q_regex_tokens",
    r"""
    SELECT piece, COUNT(*) AS n
    FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS piece
      FROM documents
    )
    GROUP BY piece
    ORDER BY n DESC, piece
    LIMIT 100
    """,
    doc="BPE-style pre-tokenization: alphanumeric runs OR single "
    "non-space symbols on lowercased text (the split a byte-pair "
    "tokenizer starts from), top-100 pieces with total tie-break. "
    "Complements whitespace tokens (q_token_counts); the character-"
    "class-only regex behaves identically in Java regex and RE2.",
    tags=("text", "tokens", "regex"),
)
def q_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0)
    return (
        docs.select(F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "piece")
        .limit(100)
    )


_LANG_CASE_SQL = """
    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
         WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
         WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         WHEN fr_hits > 0 THEN 'fr'
         ELSE 'unknown' END
"""


@query(
    "q_lang_id",
    f"""
    WITH scored AS (
      SELECT doc_id,
             {", ".join(
                 f"CAST(len(list_filter({_SQL_TOKS}, t -> t IN ({_sql_in_list(m)}))) AS BIGINT) AS {lang}_hits"
                 for lang, m in LANG_MARKERS.items()
             )}
      FROM documents
    )
    SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
           {_LANG_CASE_SQL} AS guess
    FROM scored
    """,
    doc="Marker-stopword language ID: per-language hit counts + argmax "
    "guess with deterministic tie precedence. Narrow pass, no shuffle — "
    "the shape a 100 TB lang-filter step needs.",
    tags=("text", "langid"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = py_stage_input(load_table(spark, sf_dir, "documents"))
    # Tokenize ONCE through an intermediate projection: inlining the
    # tokenizer into the four marker counts re-evaluates the split per
    # language (lambda HOFs defeat common-subexpression elimination —
    # the sf1 plan showed 4x split(text) per row). selectExpr strings,
    # not Column algebra: the marker-count family was ~200 ms of py4j
    # plan-build per invocation (round-6: 0.24 ms/call).
    scored = docs.selectExpr(
        "doc_id", f"{tokens_expr('text')} AS _toks"
    ).selectExpr(
        "doc_id",
        *[
            f"{marker_hits_expr('_toks', markers)} AS {lang}_hits"
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    # _LANG_CASE_SQL is ANSI CASE shared verbatim with the oracle.
    return scored.selectExpr(
        "doc_id",
        "en_hits",
        "de_hits",
        "es_hits",
        "fr_hits",
        f"{_LANG_CASE_SQL} AS guess",
    )


@query(
    "q_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({_SQL_TOKS})) AS BIGINT) AS n_distinct,
             CAST(len(list_filter({_SQL_TOKS}, t -> t IN ({_sql_in_list(STOPWORDS)}))) AS BIGINT) AS stop_hits,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters
      FROM documents
    )
    SELECT doc_id, n_tokens, n_distinct, stop_hits,
           CAST(n_letters AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
           0.3 * least(1.0, n_tokens / 100.0)
             + 0.4 * (1.0 - CAST(stop_hits AS DOUBLE) / n_tokens)
             + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens) AS quality
    FROM t
    """,
    doc="Document quality scoring: token count, type-token ratio, "
    "stopword ratio, avg token length, and a weighted quality index — "
    "the pre-training corpus filter signals. All per-row arithmetic; "
    "ratios left unrounded (identical IEEE ops both engines).",
    tags=("text", "quality"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = py_stage_input(load_table(spark, sf_dir, "documents"))
    # Tokenize once via an intermediate projection (same rationale as
    # q_lang_id: lambda HOFs defeat CSE, so inlining re-splits per
    # use); selectExpr strings for the same plan-build reason.
    t = docs.selectExpr(
        "doc_id", "text", f"{tokens_expr('text')} AS _toks"
    ).selectExpr(
        "doc_id",
        "CAST(size(_toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(_toks)) AS BIGINT) AS n_distinct",
        f"{marker_hits_expr('_toks', STOPWORDS)} AS stop_hits",
        "CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters",
    )
    return t.selectExpr(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "stop_hits",
        "CAST(n_letters AS DOUBLE) / n_tokens AS avg_token_len",
        "CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio",
        "CAST(n_distinct AS DOUBLE) / n_tokens AS ttr",
        # D-suffixed literals: bare 0.3/1.0 parse as DECIMAL in Spark
        # SQL and would flip the whole expression into decimal
        # arithmetic (the Column form used double literals; the oracle
        # equality is defined on IEEE double math).
        "0.3D * least(1.0D, n_tokens / 100.0D)"
        " + 0.4D * (1.0D - CAST(stop_hits AS DOUBLE) / n_tokens)"
        " + 0.3D * (CAST(n_distinct AS DOUBLE) / n_tokens) AS quality",
    )


@query(
    "q_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(COUNT(*) OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
           ) AS BIGINT) AS n_same
    FROM documents
    """,
    doc="Canonical-form document fingerprint (md5 of normalized text) + "
    "per-fingerprint multiplicity — the O(n) exact-dup detector that "
    "precedes any near-dup pass at scale.",
    tags=("text", "fingerprint"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        doc_fp_census_ckpt,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Read fp from the session-cached census table (one regexp+md5
    # corpus pass per session, fp-partitioned) — the multiplicity
    # window then runs exchange-free over the cached blocks.
    with_fp = doc_fp_census_ckpt(docs).select("doc_id", "fp")
    w = Window.partitionBy("fp")
    return with_fp.select(
        "doc_id",
        "fp",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_same"),
    )


_WINNOW_W = 4  # fingerprint window: W consecutive 3-gram hashes

# Common-fp drop for the MOSS match stage: fingerprints present in more
# than this many documents are boilerplate ("stopword" fps in the MOSS
# paper) and would quadratically expand the pair candidate set at
# scale; dropping them is part of the algorithm, applied identically in
# both engines. No-op on the testdata (max observed doc-frequency: 24).
_WINNOW_MAX_DF = 256

# Shared winnowing-selection CTE chain: yields fps(doc_id, fp) — the
# distinct selected fingerprints per document. Used by q_winnowing_fp
# and q_winnow_neardup's oracles.
_WINNOW_FPS_CTE = f"""
    toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok,
             generate_subscripts({_SQL_TOKS}, 1) AS i
      FROM documents
    ), shingles AS (
      SELECT t1.doc_id, t1.i,
             t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
      FROM toks t1
      JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
      JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
    ), hashed AS (
      SELECT doc_id, i,
             CAST(('0x' || substring(md5(sh), 1, 15)) AS BIGINT) AS h
      FROM shingles
    ), windows AS (
      SELECT doc_id,
             MIN(h) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
             ) AS fp,
             COUNT(*) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
             ) AS wn
      FROM hashed
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM windows WHERE wn = {_WINNOW_W}
    )
"""


@query(
    "q_winnowing_fp",
    f"""
    WITH {_WINNOW_FPS_CTE}
    SELECT doc_id, fp FROM fps
    """,
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "
    "the MOSS algorithm): hash every 3-gram (60-bit md5 prefix — "
    f"cross-engine exact), slide a {_WINNOW_W}-hash window, keep each "
    "window's minimum, emit the distinct selected hashes per doc. The "
    "guarantee dedup pipelines rely on: any shared run of >= "
    f"3+{_WINNOW_W}-1 tokens between two docs yields at least one "
    "IDENTICAL fingerprint, at ~1/W the density of full shingle sets. "
    "Shape: the whole selection is per-document, so it runs as ONE "
    "narrow Arrow kernel pass (functions/text_kernels.winnow_fp_pd — "
    "md5 per unique shingle, stride-tricks rolling min, np.unique), "
    "ZERO shuffle: output rows (doc_id, fp) come straight off the "
    "scan. The JVM explode + per-doc window formulation it replaced "
    "paid a full shuffle + partition sort for what is map-local work. "
    "Docs too short for a full window emit nothing on either engine.",
    tags=("text", "fingerprint", "winnowing"),
)
def q_winnowing_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        winnow_fp_ckpt,
    )

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fp_ckpt(docs, n=3, w=_WINNOW_W).select(
        F.col("id").alias("doc_id"), "fp"
    )


@query(
    "q_winnow_neardup",
    f"""
    WITH {_WINNOW_FPS_CTE}, usable AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {_WINNOW_MAX_DF}
    ), pairs AS (
      SELECT f1.doc_id AS a, f2.doc_id AS b, COUNT(*) AS n_common
      FROM fps f1
      JOIN fps f2 ON f2.fp = f1.fp AND f1.doc_id < f2.doc_id
      SEMI JOIN usable u ON u.fp = f1.fp
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
    )
    SELECT p.a, p.b, p.n_common,
           CAST(p.n_common AS DOUBLE)
             / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.a
    JOIN sizes sb ON sb.doc_id = p.b
    """,
    doc="MOSS match stage over the winnowing fingerprints: document "
    "pairs sharing >= 3 selected fingerprints, scored by containment "
    "(shared / smaller fingerprint set) — the plagiarism/near-dup "
    "report the winnowing index exists to serve. Shape: the "
    "session-cached fingerprint table (shared with q_winnowing_fp) "
    "grouped by fp with boilerplate fps dropped at df > "
    f"{_WINNOW_MAX_DF} (the MOSS 'stopword' rule — the quadratic-"
    "expansion guard at scale, applied identically in the oracle), "
    "inline pair expansion inside each fp group (never a fp-table "
    "self-join at scale: candidate volume is sum of group-size^2, "
    "bounded by the df cap), one pair hash-agg, then a broadcast-"
    "sized join against per-doc fingerprint counts.",
    tags=("text", "dedup", "winnowing"),
)
def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        winnow_fp_ckpt,
    )

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fp_ckpt(docs, n=3, w=_WINNOW_W)
    # The kernel emits each doc's fingerprint count on every row
    # (constant per doc, free in-batch), so the containment
    # denominator rides through the pair expansion — no per-doc sizes
    # groupBy and no re-attach joins: two shuffles total (fp grouping,
    # pair aggregation) instead of three plus two joins.
    groups = (
        fps.groupBy("fp")
        .agg(F.collect_list(F.struct("id", "n_fp")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= _WINNOW_MAX_DF))
    )
    pairs = (
        groups.select(F.explode("ms").alias("x"), "ms")
        .select(
            F.col("x.id").alias("a"),
            F.col("x.n_fp").alias("n_fp_a"),
            F.explode("ms").alias("y"),
        )
        .filter(F.col("a") < F.col("y.id"))
        .groupBy(
            "a",
            F.col("y.id").alias("b"),
            "n_fp_a",
            F.col("y.n_fp").alias("n_fp_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )
    return pairs.select(
        "a",
        "b",
        "n_common",
        (
            F.col("n_common").cast("double")
            / F.least("n_fp_a", "n_fp_b").cast("double")
        ).alias("containment"),
    )


@query(
    "q_repetition_ratio",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok,
             generate_subscripts({_SQL_TOKS}, 1) AS i
      FROM documents
    ), big AS (
      SELECT t1.doc_id, t1.tok || ' ' || t2.tok AS bigram
      FROM toks t1
      JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
    ), per AS (
      SELECT doc_id,
             COUNT(*) AS n_bigrams,
             COUNT(DISTINCT bigram) AS n_distinct
      FROM big GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_distinct,
           1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams AS rep_ratio
    FROM per
    """,
    doc="Intra-document repetition ratio: 1 - distinct/total bigram "
    "occurrences per doc — the degenerate-text filter (boilerplate, "
    "keyword stuffing, looping generations) every LLM curation "
    "pipeline runs before training. Shape: a rollup of the "
    "session-cached per-doc Arrow bigram table (shared with "
    "q_lm_score) — n_bigrams = sum(n), n_distinct = row count per doc, "
    "one skinny count-carrying shuffle. (The earlier zero-shuffle "
    "word_shingles/array_distinct formulation was pure narrow map but "
    "paid the interpreted JVM HOF chain per element — measured 2.5x "
    "the oracle; the kernel rollup halves that AND shares its "
    "materialization with every bigram consumer.) Integer counts -> "
    "one exact IEEE divide; docs with < 2 tokens produce no row on "
    "either engine.",
    tags=("text", "quality", "repetition"),
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        doc_bigram_counts_ckpt,
    )

    docs = load_table(spark, sf_dir, "documents")
    db = doc_bigram_counts_ckpt(docs)
    per = db.groupBy("id").agg(
        F.sum("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    return per.select(
        F.col("id").alias("doc_id"),
        "n_bigrams",
        "n_distinct",
        (
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_bigrams")
        ).alias("rep_ratio"),
    )


@query(
    "q_contamination",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok,
             generate_subscripts({_SQL_TOKS}, 1) AS i
      FROM documents
    ), shingles AS (
      SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
      FROM toks t1
      JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
      JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
    ), test_sh AS (
      SELECT doc_id, sh FROM shingles WHERE doc_id % 10 = 0
    ), train_sh AS (
      SELECT DISTINCT sh FROM shingles WHERE doc_id % 10 <> 0
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM test_sh GROUP BY doc_id
    ), hits AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM test_sh t SEMI JOIN train_sh tr ON tr.sh = t.sh
      GROUP BY t.doc_id
    )
    SELECT s.doc_id,
           s.n_shingles,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / s.n_shingles
             AS contamination
    FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
    """,
    doc="Train/test contamination check — the eval-hygiene pass every "
    "LLM data pipeline needs: for each held-out doc (doc_id % 10 = 0), "
    "the fraction of its distinct 3-gram shingles that appear anywhere "
    "in the training split. Shape: Arrow shingle kernel (one narrow "
    "pass emitting 8-byte shingle ids — the 'group on the hash, not "
    "the string' trick, ~4x less shuffle weight) -> one groupBy per "
    "shingle computing (test members, train-presence bit) -> explode + "
    "per-doc count. Never materializes a pair list (unlike a Jaccard "
    "join) and never builds a distinct train-set side. Integer counts "
    "-> one exact IEEE divide.",
    tags=("text", "contamination", "dedup"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        shingle_hashes_ckpt,
    )

    from open_rust_timeseries_db_spark.functions.text_kernels import (
        cached_count,
    )
    from open_rust_timeseries_db_spark.operators import dedupe as _dd

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes_ckpt(docs)
    # Two physical strategies, gated like the dedupe pair generators:
    #
    # SMALL corpus (train shingle set fits a broadcast): distinct the
    # train-side shingle ids (map-side partial distinct), broadcast
    # that dictionary, and left-join the test rows against it — the
    # whole pipeline stays in whole-stage codegen (~2x faster COLD
    # than the grouped shape below, whose collect_list forces the
    # interpreted ObjectHashAggregate; steady-state is a wash).
    #
    # LARGE corpus: the single-shuffle grouped shape — per shingle,
    # collect the test docs carrying it and a train-presence flag, then
    # explode + re-group per doc. No broadcast (the train dictionary
    # cannot ship at 100 TB), one full-data shuffle; measured ~1.6x
    # faster than the semi-join formulation it replaced.
    # Exploded row count (memoized) upper-bounds the distinct train
    # set; ~16 B per dictionary row.
    if _dd._broadcast_fits(cached_count(sh), 16.0):
        train_hs = (
            sh.filter(F.col("id") % 10 != 0)
            .select("hs")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        test = sh.filter(F.col("id") % 10 == 0)
        per_doc = (
            test.join(F.broadcast(train_hs), "hs", "left")
            .groupBy("id")
            .agg(
                F.first("n_sh").alias("n_shingles"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("bigint")
                .alias("n_overlap"),
            )
        )
    else:
        per_hs = sh.groupBy("hs").agg(
            F.collect_list(
                F.when(F.col("id") % 10 == 0, F.struct("id", "n_sh"))
            ).alias("tests"),
            F.max(
                F.when(F.col("id") % 10 != 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("in_train"),
        )
        exploded = per_hs.filter(F.size("tests") > 0).select(
            F.explode("tests").alias("t"), "in_train"
        )
        per_doc = exploded.groupBy("t.id").agg(
            F.first("t.n_sh").alias("n_shingles"),
            F.sum("in_train").cast("bigint").alias("n_overlap"),
        )
    return per_doc.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias(
            "contamination"
        ),
    )
