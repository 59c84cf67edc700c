"""Deduplication queries over ``documents`` / ``embeddings`` —
driver-mandated LLM-pipeline operators (SURVEY.md §2.4): exact dedup,
MinHash-LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Oracle strategy: every query here is fully oracle-checked. The hash
functions both engines share (md5, and the affine universal-hash
permutations built on md5 base hashes) cover the MinHash pipelines —
including the production q_dedup_near, whose 16-perm md5-affine family
is reproduced exactly by its DuckDB oracle — and the rest is pure
integer/set arithmetic. (Round 1's xxhash64 signatures, which forced a
rows-only check on q_dedup_near, were replaced by the md5-affine Arrow
kernel in round 2.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.functions.vectors import (
    blocked_neardup,
    sql_fx_sum,
)
from open_rust_timeseries_db_spark.operators.dedupe import (
    exact_jaccard,
    minhash_neardup,
    simhash_connectivity_pairs,
    simhash_pairs,
    simhash_signatures,
)
from open_rust_timeseries_db_spark.operators.graph import connected_components
from open_rust_timeseries_db_spark.queries.registry import query
from open_rust_timeseries_db_spark.sources.catalog import load_table

from open_rust_timeseries_db_spark.functions.text_kernels import (
    MH_AB,
    MH_P as _MH_P,
    simhash_grouped_ckpt,
)

_SQL_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"

_MH_PERMS = 8
_MH_BANDS = 4  # bands of 2 rows: candidate iff 2 consecutive perms agree
# Universal-hash permutation family over ONE md5 base hash per shingle:
# h = first 8 md5 hex chars (32 bits), perm_i = (A_i*h + B_i) mod P with
# P = 2^61-1 (Mersenne prime). A_i < 2^30 keeps A_i*h < 2^62 — exact
# BIGINT arithmetic, identical in the Arrow kernel
# (functions/text_kernels.py) and DuckDB, and 8x fewer md5 evaluations
# than hashing "<perm> <shingle>" per permutation (the textbook MinHash
# construction: one strong hash, cheap permutations).
_MH_AB = MH_AB[:_MH_PERMS]
_MH_BASE = "CAST(('0x' || substring(md5(sh), 1, 8)) AS BIGINT)"
_MH_VALUES = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_AB))

# The production pipeline (q_dedup_near) uses all 16 permutations in 4
# bands of 4 — steeper LSH curve, tuned for the 0.5 Jaccard threshold.
_MH16_VALUES = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MH_AB))


@query(
    "q_dedup_exact",
    """
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    doc="Exact text dedup: one survivor (min doc_id) per distinct text + "
    "multiplicity. One hash-agg shuffle keyed by the full text; at "
    "100 TB group by md5(text) instead so the shuffle key is 16 bytes, "
    "not the document (see q_fingerprint).",
    tags=("dedup", "exact"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies")


@query(
    "q_dedup_near",
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
    ), based AS (
      SELECT doc_id, {_MH_BASE} AS h FROM shingles
    ), perms(i, a, b) AS (
      SELECT * FROM (VALUES {_MH16_VALUES}) v(i, a, b)
    ), sigs AS (
      SELECT doc_id, p.i, MIN((p.a * bd.h + p.b) % {_MH_P}) AS sig
      FROM based bd CROSS JOIN perms p
      GROUP BY 1, 2
    ), bands AS (
      SELECT doc_id, i // 4 AS band,
             STRING_AGG(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bkey
      FROM sigs GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
      FROM bands ba JOIN bands bb
        ON ba.band = bb.band AND ba.bkey = bb.bkey AND ba.doc_id < bb.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT c.a, c.b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.a
      JOIN shingles sb ON sb.doc_id = c.b AND sb.sh = sa.sh
      GROUP BY 1, 2
    )
    SELECT i.a, i.b, i.n_inter,
           CAST(i.n_inter AS DOUBLE)
             / (na.n_sh + nb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.a
    JOIN sizes nb ON nb.doc_id = i.b
    WHERE CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter) >= 0.5
    """,
    doc="MinHash-LSH near-dup pipeline: 3-word shingles -> 16 md5-based "
    "universal-hash min-hash permutations (one narrow Arrow-kernel "
    "pass, zero shuffle) -> 4-band bucket grouping -> inline candidate "
    "pairs -> exact-Jaccard verification (>= 0.5) via array_intersect "
    "on shingle-id arrays carried through the shuffle. ONE corpus pass, "
    "no self-joins. Linear-ish in corpus size: only docs sharing a band "
    "bucket are paired. Round 1 used JVM xxhash64 signatures (rows-only "
    "check); the kernel's md5 family is reproducible in DuckDB, so the "
    "full pipeline — signatures, banding, candidates, verification — "
    "is now oracle-checked.",
    tags=("dedup", "minhash"),
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_neardup(docs, threshold=0.5).select(
        "a", "b", "n_inter", "jaccard"
    )


@query(
    "q_ngram_jaccard",
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
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
      FROM shingles sa JOIN shingles sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b, n_inter,
           na.n_sh AS n_a, nb.n_sh AS n_b,
           CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = a
    JOIN sizes nb ON nb.doc_id = b
    WHERE n_inter >= 2
    """,
    doc="Exact 3-shingle Jaccard for every pair sharing >= 2 shingles — "
    "the shingle join IS the candidate generator (no N^2): docs with no "
    "common shingle never meet. Integer set arithmetic -> deterministic "
    "double ratio.",
    tags=("dedup", "jaccard"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    all_pairs = exact_jaccard(docs)  # pair source = shingle join
    return all_pairs.filter(F.col("n_inter") >= 2).select(
        "a", "b", "n_inter", "n_a", "n_b", "jaccard"
    )


# SimHash pipeline as DuckDB CTEs, shared by q_simhash and the
# cluster query built on its pairs.
_SIMHASH_CTES = """toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ), hashes AS (
      SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
    ), votes AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashes, (SELECT unnest(generate_series(0, 31)) AS j)
      GROUP BY doc_id, j
    ), sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sig, k, (sig >> (8 * k)) & 255 AS byte
      FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS k)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.byte = b.byte AND a.doc_id < b.doc_id
    ), spairs AS (
      SELECT a, b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
    )"""


@query(
    "q_simhash",
    f"""
    WITH {_SIMHASH_CTES}
    SELECT a, b, hamming FROM spairs
    """,
    doc="SimHash near-dup: 32-bit bitwise-majority signature over "
    "md5-derived token hashes, byte-band blocking (4 bands -> perfect "
    "recall at Hamming <= 3). md5 is shared by both engines, so the "
    "whole pipeline — signatures, blocking, Hamming — is oracle-checked "
    "bit-for-bit.",
    tags=("dedup", "simhash"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)
    # The signature-grouped index is session-cached (cache_builds):
    # with it, the banded pair pipeline's broadcast path plans with
    # ZERO shuffles of its own (first-agreeing-band dedup instead of a
    # dropDuplicates exchange, grouping amortized into the index).
    return simhash_pairs(
        sigs, max_hamming=3, grouped=simhash_grouped_ckpt(docs)
    )


@query(
    "q_dedup_clusters",
    f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    edges AS (
      SELECT a AS src, b AS dst FROM spairs
      UNION ALL
      SELECT b AS src, a AS dst FROM spairs
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
    sized AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           CAST(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_canonical
    FROM comp c JOIN sized s ON s.cluster_id = c.cluster_id
    """,
    doc="Duplicate CLUSTERS, not just pairs — the step that actually "
    "dedups a corpus: connected components over the SimHash near-dup "
    "graph (min-label propagation to fixpoint, operators/graph.py), "
    "cluster id = min doc_id = the canonical survivor; singletons keep "
    "themselves. The oracle re-derives components with a recursive CTE "
    "(transitive closure + MIN), so the whole iterative pipeline is "
    "value-checked bit-for-bit. Iteration count = component diameter; "
    "see graph.py for the O(log^2 n) large-star/small-star scale path.",
    # "iterative": the CC fixpoint iterates INSIDE the build, so the
    # plan is never memoized (see registry.query).
    tags=("dedup", "clusters", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        _cached_ckpt,
    )

    docs = load_table(spark, sf_dir, "documents")
    # CONNECTIVITY pairs, not the full pair enumeration: components are
    # identical (same-sig stars + one representative edge per surviving
    # signature pair — equivalence proven in simhash_connectivity_pairs'
    # docstring, pinned by test_connectivity_pairs_same_components, and
    # oracle-hash-checked end to end), while the edge count drops from
    # O(sum group^2) to O(docs + sig pairs). At sf1 that is 13.1M ->
    # 112k pairs: the whole distributed label-propagation fixpoint
    # (32-41 s/pass, interleaved A/B) collapses into the driver
    # union-find fast path (2.0-3.6 s/pass), outputs bit-identical.
    # Plan-object memo ONLY (persist=False): this query is exempt from
    # the registry's prepared-statement memo because the CC fixpoint
    # runs inside the build — but the banded PAIR PIPELINE PLAN is a
    # pure expression tree over the session-cached index, and
    # re-constructing it cost ~0.3 s of py4j per invocation. Execution
    # stays fresh every call: connected_components re-checkpoints and
    # re-drains the edges from this plan per invocation.
    pairs = _cached_ckpt(
        docs,
        lambda: simhash_connectivity_pairs(
            simhash_signatures(docs),
            max_hamming=3,
            grouped=simhash_grouped_ckpt(docs),
        ),
        ("simhash_conn_pairs_plan", 3),
        persist=False,
    )
    # with_sizes: the union-find already holds every component's member
    # count on the driver, so the size column ships inside the same
    # broadcast map — the old groupBy(label) + label-keyed re-join
    # (an exchange + SMJ over the full node set) disappears from the
    # plan; the output is ONE broadcast join over the corpus scan.
    comp = connected_components(
        docs.select(F.col("doc_id").alias("node")),
        pairs.select("a", "b"),
        with_sizes=True,
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
        F.when(F.col("node") == F.col("label"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_canonical"),
    )


@query(
    "q_embedding_neardup",
    f"""
    WITH elems AS (
      SELECT vec_id, label, unnest(embedding) AS e,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ), norms AS (
      SELECT vec_id, {sql_fx_sum("CAST(e AS DOUBLE) * CAST(e AS DOUBLE)")} AS n2
      FROM elems GROUP BY vec_id
    ), dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label,
             {sql_fx_sum("CAST(a.e AS DOUBLE) * CAST(b.e AS DOUBLE)")} AS dot
      FROM elems a
      JOIN elems b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
      GROUP BY 1, 2, 3
    )
    SELECT va AS vec_a, vb AS vec_b, label,
           (d.dot / 1e12) / (SQRT(na.n2 / 1e12) * SQRT(nb.n2 / 1e12)) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.va
    JOIN norms nb ON nb.vec_id = d.vb
    WHERE (d.dot / 1e12) / (SQRT(na.n2 / 1e12) * SQRT(nb.n2 / 1e12)) >= 0.4
    """,
    doc="Embedding-cosine near-dup with label blocking (the stand-in for "
    "an LSH/IVF bucket at scale): same-label pairs with fixed-point "
    "cosine >= 0.4. The block join bounds pair count; never materializes "
    "N^2.",
    tags=("dedup", "embedding"),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # applyInPandas per label block: each vector crosses the Arrow
    # boundary once (O(B*d) transfer), the B^2 pair matrix is formed in
    # numpy with the same fixed-point ops as the oracle — vs a pair
    # join, which ships every vector once per pair.
    pairs = blocked_neardup(
        emb, block_col="label", id_col="vec_id", vec_col="embedding", threshold=0.4
    )
    return pairs.select("vec_a", "vec_b", "label", "cosine")




@query(
    "q_minhash_jaccard",
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
    ), based AS (
      SELECT doc_id, {_MH_BASE} AS h FROM shingles
    ), perms(i, a, b) AS (
      SELECT * FROM (VALUES {_MH_VALUES}) v(i, a, b)
    ), sigs AS (
      SELECT doc_id, p.i, MIN((p.a * bd.h + p.b) % {_MH_P}) AS sig
      FROM based bd CROSS JOIN perms p
      GROUP BY 1, 2
    ), bands AS (
      SELECT doc_id, i // 2 AS band,
             STRING_AGG(CAST(sig AS VARCHAR), ',' ORDER BY i) AS bkey
      FROM sigs GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
      FROM bands ba JOIN bands bb
        ON ba.band = bb.band AND ba.bkey = bb.bkey AND ba.doc_id < bb.doc_id
    )
    SELECT c.a, c.b,
           COUNT(*) FILTER (WHERE sa.sig = sb.sig) AS n_match,
           CAST(COUNT(*) FILTER (WHERE sa.sig = sb.sig) AS DOUBLE)
             / {_MH_PERMS} AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.a
    JOIN sigs sb ON sb.doc_id = c.b AND sb.i = sa.i
    GROUP BY 1, 2
    """,
    doc="MinHash + LSH with a fully ORACLE-CHECKED hash family: "
    f"{_MH_PERMS} universal-hash permutations (A_i*h + B_i mod 2^61-1 "
    "over one 32-bit md5 base hash; min over the doc's distinct "
    "3-shingles), banded 4x2 — a pair is a "
    "candidate iff one band (2 consecutive perms) matches exactly; "
    "est_jaccard = matching perms / 8. The production-tuned twin "
    "(q_dedup_near) runs the same md5-affine family at 16 perms with "
    "exact-Jaccard verification and is equally oracle-checked; THIS "
    "query pins the estimation arithmetic — signatures, banding, "
    "candidate generation, matching-perm counts — "
    "bit-for-bit against DuckDB. Shape matches the scale path: "
    "signatures are computed per-row (zero shuffle), banding is one "
    "groupBy, pairs expand inline from bucket lists (never a "
    "signature-table self-join).",
    tags=("dedup", "minhash", "lsh"),
)
def q_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        cached_count,
        shingle_profile_ckpt,
    )
    from open_rust_timeseries_db_spark.operators.dedupe import (
        _broadcast_fits,
        _expand_pairs,
    )

    # Signatures come from the Arrow kernel (one narrow pass; md5 once
    # per unique shingle per batch, affine permutations vectorized in
    # numpy) — bit-identical to the oracle's universal-hash family and
    # ~5x the throughput of the interpreted transform/aggregate HOF
    # chain it replaced (round-1 verdict measured that at 4.4x the
    # oracle's wall time).
    docs = load_table(spark, sf_dir, "documents")
    prof = shingle_profile_ckpt(docs, n_perms=_MH_PERMS)
    sigs = prof.select("id", "sigs")
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col("sigs")[2 * b].alias("k0"),
                F.col("sigs")[2 * b + 1].alias("k1"),
            )
            for b in range(_MH_BANDS)
        ]
    )
    bands = sigs.select("id", "sigs", F.explode(band_arr).alias("bb")).select(
        "id", "sigs", "bb.band", "bb.k0", "bb.k1"
    )
    # Broadcast rows carry the 8-long sigs array (~64B values) plus
    # struct overhead, _MH_BANDS rows per doc. cached_count reads the
    # session cache's memoized stat — no Spark job.
    if _broadcast_fits(cached_count(prof) * _MH_BANDS, 128):
        # Broadcast band self-join with the signature arrays carried
        # through: candidate pairs are few (the whole point of LSH), so
        # hauling both sides' sigs through the pair-dedup shuffle is
        # cheaper than two re-attach joins (fewer jobs, one broadcast).
        # See operators/dedupe.BROADCAST_MAX_BYTES.
        pairs = (
            bands.select(
                F.col("id").alias("a"), F.col("sigs").alias("sa"), "band", "k0", "k1"
            )
            .join(
                F.broadcast(
                    bands.select(
                        F.col("id").alias("b"),
                        F.col("sigs").alias("sb"),
                        "band",
                        "k0",
                        "k1",
                    )
                ),
                ["band", "k0", "k1"],
            )
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "sa", "sb")
            .dropDuplicates(["a", "b"])
        )
    else:
        # Scale path: bands already carries sigs — grouping it directly
        # avoids a redundant (and, with sigs on both sides, ambiguous)
        # re-attach join. One shuffle, inline pair expansion.
        groups = bands.groupBy("band", "k0", "k1").agg(
            F.collect_list(F.struct("id", "sigs")).alias("ms")
        )
        pairs = (
            _expand_pairs(groups, ["sigs"])
            .groupBy("a", "b")
            .agg(F.first("sigs_a").alias("sa"), F.first("sigs_b").alias("sb"))
        )
    n_match = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda t: t)
    ).cast("bigint")
    return pairs.select(
        "a",
        "b",
        n_match.alias("n_match"),
        (n_match.cast("double") / _MH_PERMS).alias("est_jaccard"),
    )


@query(
    "q_dedup_apply",
    f"""
    WITH f AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
             length({_SQL_TOKS}) AS n_toks
      FROM documents
    ), k AS (
      SELECT source, n_toks,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                  THEN 1 ELSE 0 END AS kept
      FROM f
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(1 - kept) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN kept = 0 THEN n_toks ELSE 0 END) AS BIGINT)
             AS tokens_dropped
    FROM k GROUP BY source
    """,
    doc="APPLY the exact-dedup decision (the operator a pipeline runs "
    "after detection): canonical survivor per fingerprint group = "
    "lowest doc_id (deterministic, rendezvous-stable — re-running on a "
    "grown corpus never un-keeps a survivor), others marked dropped; "
    "reports the per-source keep/drop census and the token budget "
    "reclaimed. Shape: reads the session-cached (id, source, fp, "
    "n_toks) census table (doc_fp_census_ckpt — the corpus md5 + "
    "token-count pass, built once per session, fp-partitioned), so the "
    "query itself is one exchange-elided fingerprint window + one "
    "per-source hash-agg. At 100 TB the census table is the "
    "fingerprint column the pipeline materializes next to the corpus; "
    "the window is the standard dedup-materialization pass.",
    tags=("dedup", "exact", "apply"),
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_census_report_ckpt(docs)


def dedup_census_report_ckpt(docs: DataFrame) -> DataFrame:
    """Session-memoized dedup apply/census PLAN (persist=False — the
    window + per-source agg re-execute per invocation over the cached
    fp-partitioned census blocks; plan analysis, AQE first-plan and
    codegen compile are paid once, in the cache-build phase where this
    is a listed line). The round-9 census table took q_dedup_apply's
    sf1 cold from 13.1x to ~3.8x; the remaining gap over warm was
    one-time plan/jit cost, which this moves to the build phase like
    every other session artifact."""
    from pyspark.sql import Window

    from open_rust_timeseries_db_spark.functions.text_kernels import (
        _cached_ckpt,
        doc_fp_census_ckpt,
    )

    def build() -> DataFrame:
        flagged = doc_fp_census_ckpt(docs).withColumn(
            "kept",
            F.when(
                F.col("doc_id")
                == F.min("doc_id").over(Window.partitionBy("fp")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        return flagged.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.lit(1) - F.col("kept")).alias("n_dropped"),
            F.sum(
                F.when(F.col("kept") == 0, F.col("n_toks")).otherwise(
                    F.lit(0)
                )
            ).alias("tokens_dropped"),
        )

    return _cached_ckpt(
        docs,
        build,
        ("dedup_census_report",),
        persist=False,
        parent=lambda: doc_fp_census_ckpt(docs),
    )
