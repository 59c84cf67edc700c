"""Near-duplicate detection operators: MinHash-LSH and SimHash.

Both are built from plain DataFrame ops (array transforms / hash /
group-collect / inline pair expansion) rather than spark.ml, so they stay
deterministic, schema-stable, and fully plannable by Catalyst. Shapes:

- MinHash-LSH: doc -> shingle array -> P permuted min-hashes computed
  PER ROW with array HOFs (zero shuffle) -> B banded bucket keys ->
  bucket group-collect -> inline candidate pairs -> exact-Jaccard via
  ``array_intersect`` on the shingle-hash arrays carried through the
  shuffle. Linear in corpus size; ONE tokenizer run for the whole
  pipeline.
- SimHash: doc -> token hashes -> 32-bit majority signature -> byte-band
  blocking -> Hamming filter. With 4 bands, Hamming <= 3 has perfect
  recall (pigeonhole).

Plan-shape notes (these bit hard at bench time):
- token/shingle arrays are materialized as columns before any
  per-element use, so lambdas see attribute references, never a
  re-evaluated expression subtree;
- NO self-joins anywhere: a self-join re-executes the entire upstream
  signature pipeline once per side (Spark does not materialize shared
  lineage). Pairs are generated by grouping each bucket's members into
  an array and expanding ordered pairs inline — the upstream runs once
  and shuffles once;
- per-document attributes (set size, signature) ride through the
  shuffle inside the collected structs instead of being re-derived and
  re-joined, which would re-run the tokenizer per join.

Per-bucket pair expansion is O(c^2) in bucket membership c — that is the
same candidate set a self-join would produce (it IS the LSH candidate
set); a genuinely hot bucket explodes either way, and banding width is
the knob that bounds c at scale.

The reference stores opaque byte payloads and has no dedup at all
(SURVEY.md §2.4); these operators are the driver-mandated extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.functions.text_kernels import (
    cached_avg,
    cached_count,
    ensure_materialized,
    mark_count,
    shingle_hashes_ckpt,
    shingle_profile_ckpt,
    simhash_signatures_ckpt,
)

# 16 permutations in 4 bands of 4 rows: P(candidate | jaccard j) =
# 1 - (1 - j^4)^4 — steep around j ~ 0.5.
MINHASH_PERMS = 16
MINHASH_BANDS = 4

# Grouped bucket rows are few but their per-row pair expansion is
# O(c^2); AQE sizes the post-shuffle stage by collected-array BYTES and
# coalesces it to ~1 task, serializing the expansion. An explicit
# round-robin repartition (exempt from AQE coalescing) spreads the
# expansion work; the reshuffled payload is just the collected arrays.
_EXPAND_PARTITIONS = 32

# Pair generation has two physical strategies:
#
# - SMALL bucketed input (fits a broadcast): session-cache/persist the
#   kernel output once (it is the expensive upstream; materializing
#   makes the self-join read cached blocks, not recompute), then a
#   broadcast self-equi-join on the bucket key. Measured ~2x faster
#   than the grouped-expansion path at sf0.1 — the join and
#   count-style aggregation stay entirely in whole-stage codegen.
# - LARGE input: group each bucket's members into an array (ONE
#   shuffle) and expand ordered pairs inline (_expand_pairs). No
#   broadcast, no second shuffle of the full data; this is the shape
#   that survives 100 TB, where the bucketed table can never ship to
#   every executor.
#
# The cutover is gated on ESTIMATED BYTES, not a flat row count
# (round-2 advice: a row-count gate sized for skinny 24-byte rows let
# array-carrying broadcasts — 4 band rows per doc each hauling the
# full shingle-id array — grow to tens of GB, past Spark's 8 GB
# broadcast hard limit, so inputs under the cutover would crash
# instead of taking the scale path). Row counts and array widths come
# from the session cache's memoized stats (cached_count/cached_avg):
# zero extra Spark jobs on warm invocations, one tiny agg over cached
# blocks cold.
# Round-5 MEASUREMENT moved this cutover down from 512 MB: at sf1 the
# exploded shingle table estimates 125 MB (2.6M rows), squeaked under
# the old gate, and the broadcast self-join ran ~100 s where the
# grouped expansion runs 21 s warm — a broadcast side this big loses
# long before it threatens executor memory. 64 MB keeps every sf0.1
# side on the (measured-faster there) broadcast path and pushes the
# 10x tier onto the grouped shape.
BROADCAST_MAX_BYTES = 64 << 20
# Corpus size above which the broadcast LSH branch dedups candidate
# pairs BEFORE the array verify (multi-band collision duplicates grow
# with corpus density; below this the dedup exchange's fixed cost
# outweighs the saved intersects — measured both ways at sf0.1/sf1).
PAIR_DEDUP_MIN_DOCS = 16_000
# Estimated serialized widths (values + UnsafeRow overhead):
_W_EXPLODED = 48  # (id, n_sh, hs) longs
_W_BAND_SIG = 64  # (id, sig, band, byte)


def _broadcast_fits(n_rows: int, row_bytes: float) -> bool:
    return n_rows * row_bytes <= BROADCAST_MAX_BYTES


def prune_fraction(threshold: float) -> tuple[int, int]:
    """Exact rational (p, q), small terms, with p/q <= threshold GUARANTEED.

    The sizes-only Jaccard prune keeps a candidate pair iff
    (q+p)*min(|A|,|B|) >= p*(|A|+|B|) — a necessary condition for
    J >= p/q. That is only a safe prune for J >= threshold when
    p/q <= threshold: ``limit_denominator`` alone can round UP (its
    contract is *closest*, not *not-above*), and a p/q above the true
    threshold silently drops boundary pairs whose exact Jaccard lands
    in [threshold, p/q). When the closest approximation lies above,
    step down to floor(threshold * 10^6)/10^6 — still within 1e-6 of
    the threshold (prunes at most a sliver less) and with terms small
    enough that (q+p)*|set| stays far from int64 overflow (which is
    why the EXACT binary expansion of the float, q up to 2^52, is not
    usable directly).
    """
    from fractions import Fraction
    from math import floor

    exact = Fraction(threshold)
    fr = exact.limit_denominator(10**6)
    if fr > exact:
        fr = Fraction(floor(exact * 10**6), 10**6)
    return fr.numerator, fr.denominator


def _spread(groups: DataFrame) -> DataFrame:
    return groups.repartition(_EXPAND_PARTITIONS)


def _expand_pairs(
    groups: DataFrame, fields: list[str], keys: tuple[str, ...] = ()
) -> DataFrame:
    """Ordered-pair expansion of each group's collected ``ms`` array:
    (keys..., a, b, f_a..., f_b...) with a < b by id. ``keys`` are
    group-constant columns carried through the expansion (e.g. the LSH
    band index, which the first-agreeing-band dedup filter needs).

    Shape matters: two chained codegen'd explodes, not array HOFs. The
    array is sorted (structs compare by leading ``id``), ``posexplode``
    emits each member as the pair's a-side, and a positional ``slice``
    explode emits only members AFTER it as b-sides — so exactly the
    c*(c-1)/2 ordered pairs are generated, never built up as one giant
    in-row array (an earlier transform/flatten/filter formulation
    materialized all c^2 structs per row through the interpreted HOF
    evaluator — 3x slower on hot buckets).
    """
    spread = _spread(groups.filter(F.size("ms") > 1)).select(
        *keys,
        F.array_sort("ms").alias("_ms"),  # sort ONCE, reuse both roles
    )
    a_side = spread.select(
        *keys,
        F.posexplode("_ms").alias("i", "x"),
        "_ms",
    )
    pairs = a_side.select(
        *keys,
        "x",
        F.explode(
            F.slice("_ms", F.col("i") + 2, F.size("_ms") - F.col("i") - 1)
        ).alias("y"),
    )
    return pairs.select(
        *keys,
        F.col("x.id").alias("a"),
        F.col("y.id").alias("b"),
        *[F.col(f"x.{f}").alias(f"{f}_a") for f in fields],
        *[F.col(f"y.{f}").alias(f"{f}_b") for f in fields],
    )


# Skew salting for the grouped (scale-path) pair expansions: a group
# larger than SALT_BUCKET_MIN_ROWS members is split into salted
# sub-buckets of ~SALT_TARGET_ROWS so no single task owns a hot
# bucket's O(c^2) expansion (nor one agg buffer its whole member
# array). Defaults are cluster-scale (organic sf-tier buckets are
# 1-50 members and salting them would only add exchanges); the skew
# tier in scripts/scale_bench.py lowers them to force the path and
# asserts pair parity, as does tests/test_dedupe_ops.py.
SALT_BUCKET_MIN_ROWS = 4096
SALT_TARGET_ROWS = 2048
SALT_MAX_SPLITS = 64
# The salted plan costs one extra skinny count shuffle + a broadcast
# probe + a two-branch (union) plan even when NO bucket is hot —
# measured at the sf0.1 skew tier as ~2x the grouped path's already
# stage-bound warm time. Below this many source rows the sizes pass
# cannot pay for itself (a bucket big enough to need salting cannot
# exist in a corpus this small), so callers keep the single-branch
# grouped plan. At cluster scale the pass is noise against the
# corpus shuffle it protects.
SALT_MIN_SOURCE_ROWS = 1_000_000


def salted_group_pairs(
    members: DataFrame,
    keys: tuple[str, ...],
    fields: list[str],
    n_member_rows: int | None = None,
) -> DataFrame:
    """Ordered-pair expansion of ``members`` (keys..., id, fields...)
    within each ``keys`` group, robust to hot groups.

    Groups with <= SALT_BUCKET_MIN_ROWS members take the standard
    collect + inline-expansion path (one shuffle, one array row per
    group). Larger groups are SALTED: member x gets salt
    s(x) = xxhash64(id) mod S with S = ceil(c / SALT_TARGET_ROWS)
    (capped at SALT_MAX_SPLITS), is replicated into the S sub-buckets
    (i, j) = (min(s, t), max(s, t)) for t in 0..S-1, and each
    sub-bucket expands with the keep-filter
    ``(i == j) OR (salt_a != salt_b)``.

    Exactly-once: a pair (x, y) with salts (s, t) co-occurs in
    sub-buckets whose {i, j} contains BOTH salts — for s != t that is
    only (min(s,t), max(s,t)), where the filter passes; for s == t the
    pair co-occurs in every (min(s,u), max(s,u)) but the filter keeps
    only the diagonal (s, s). Per-task work drops from O(c^2) to
    O(SALT_TARGET_ROWS^2); replication multiplies the hot rows by S,
    which is the standard triangle-replication trade (pairs >> rows).

    Bucket sizes c come from one exact groupBy(keys).count() over the
    key columns; only the hot buckets' counts are broadcast back onto
    the members.

    ``n_member_rows`` (a memoized count, never a job) gates the whole
    machinery: below SALT_MIN_SOURCE_ROWS a salting-sized bucket
    cannot exist and the single-branch grouped plan runs unchanged.
    """
    klist = list(keys)
    if n_member_rows is not None and n_member_rows < SALT_MIN_SOURCE_ROWS:
        groups = members.groupBy(*klist).agg(
            F.collect_list(F.struct("id", *fields)).alias("ms")
        )
        return _expand_pairs(groups, fields)
    sizes = (
        members.select(*klist)
        .groupBy(*klist)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > SALT_BUCKET_MIN_ROWS)
    )
    m = members.join(F.broadcast(sizes), klist, "left")
    cold_groups = (
        m.filter(F.col("__c").isNull())
        .drop("__c")
        .groupBy(*klist)
        .agg(F.collect_list(F.struct("id", *fields)).alias("ms"))
    )
    cold_pairs = _expand_pairs(cold_groups, fields)  # _spread()s inside

    n_splits = F.least(
        F.lit(SALT_MAX_SPLITS),
        F.ceil(F.col("__c") / F.lit(SALT_TARGET_ROWS)),
    ).cast("int")
    hot = (
        m.filter(F.col("__c").isNotNull())
        .withColumn("__s", n_splits)
        .withColumn(
            "__salt", F.pmod(F.xxhash64("id", F.lit(7)), F.col("__s")).cast("int")
        )
        .select(
            *klist,
            "id",
            *fields,
            "__salt",
            F.explode(F.sequence(F.lit(0), F.col("__s") - 1)).alias("__t"),
        )
        .select(
            *klist,
            F.least("__salt", "__t").alias("__i"),
            F.greatest("__salt", "__t").alias("__j"),
            "id",
            *fields,
            "__salt",
        )
    )
    hot_groups = hot.groupBy(*klist, "__i", "__j").agg(
        F.collect_list(F.struct("id", *fields, "__salt")).alias("ms")
    )
    hot_pairs = (
        _expand_pairs(hot_groups, fields + ["__salt"], ("__i", "__j"))
        .filter(
            (F.col("__i") == F.col("__j"))
            | (F.col("__salt_a") != F.col("__salt_b"))
        )
        .drop("__i", "__j", "__salt_a", "__salt_b")
    )
    return cold_pairs.unionByName(hot_pairs)


def minhash_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline with exact-Jaccard verification
    in ONE corpus pass: (a, b, n_inter, jaccard) for candidate pairs with
    jaccard >= threshold.

    Verification is ``array_intersect`` on the per-doc shingle-id
    arrays — no re-tokenization. Intersection counts use the 8-byte
    md5 prefix of each shingle, not the string: same counts
    (collisions ~n^2/2^64), 10x less weight in motion.
    """
    prof = shingle_profile_ckpt(docs, id_col, text_col, n_perms=MINHASH_PERMS)
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    # One SQL string -> ONE py4j round trip for the whole band array.
    # The Column-algebra formulation (nested F.struct/F.xxhash64/
    # getItem listcomps) built the identical expression tree in ~600
    # py4j calls — half of this query's 0.3 s plan-build time
    # (round-5 verdict: plan-build is the bulk of q_dedup_near's
    # residual over the 2x gate). Semantically identical: SQL sigs[i]
    # is 0-based getItem, xxhash64 is the same seed-42 function.
    band_arr = F.expr(
        "array("
        + ", ".join(
            f"struct({b} AS band, xxhash64("
            + ", ".join(
                f"sigs[{b * rows_per_band + r}]" for r in range(rows_per_band)
            )
            + ") AS bucket)"
            for b in range(MINHASH_BANDS)
        )
        + ")"
    )
    # Broadcast-branch rows are SKINNY (id, band, bucket): pair
    # generation never hauls the shingle-id arrays. Round 3 carried
    # both sides' hs arrays through the band join and the pair-dedup
    # shuffle "to save two re-attach joins" — but the re-attach is a
    # BROADCAST of the per-doc profile (5k rows, ~2.5 MB at sf0.1)
    # against an LSH-pruned pair table (tens of rows), which is ~2x
    # faster end-to-end than shipping array-fat band rows twice
    # (measured: q_minhash_jaccard, which always used the skinny
    # shape, ran half q_dedup_near's wall). The profile broadcast is
    # byte-gated like every other cutover.
    # EXACT size-ratio prune, applied to candidates BEFORE the array
    # payloads ever attach: J(A,B) = I/(|A|+|B|-I) and I <= min(|A|,|B|)
    # imply J >= t requires (1+t)*min(|A|,|B|) >= t*(|A|+|B|) — a
    # necessary condition computable from the two set SIZES alone.
    # Kept in exact rational arithmetic ((q+p)*min >= p*(na+nb) for
    # t = p/q) so no boundary pair is ever float-pruned. At the sf1
    # tier the 4-band LSH emits 3.27M band-collision candidates; this
    # sizes-only filter kills the bulk of them before the per-pair
    # array_intersect that dominated the drain (measured 26.7 s of
    # executor time, ~all in the verify stage).
    _p, _q = prune_fraction(threshold)

    def _ratio_keep(n_a, n_b):
        return (F.lit(_q + _p) * F.least(n_a, n_b)) >= (
            F.lit(_p) * (n_a + n_b)
        )

    prof_row_bytes = _W_BAND_SIG + 8.0 * cached_avg(prof, "n_sh")
    dedup_after = _broadcast_fits(cached_count(prof), prof_row_bytes)
    # The grouped scale path always dedups pre-verify (its dropDuplicates
    # rides the pair shuffle it pays anyway); the broadcast path gates it
    # on corpus size (see below).
    dedup_before = True
    if dedup_after:
        bands = prof.select(
            "id", "n_sh", F.explode(band_arr).alias("bb")
        ).selectExpr(
            "id", "n_sh", "bb.band AS band", "bb.bucket AS bucket"
        )
        # Band-collision candidates, deduped at SKINNY width before the
        # verify: a pair colliding in several bands would otherwise be
        # re-verified once per collision, and at the sf1 tier that
        # multi-band duplication factor is 3.1x over 3.27M candidates —
        # the dedup shuffle moves 16-byte (a, b) rows, the verify it
        # avoids re-runs an array_intersect over ~50-element arrays.
        # VOLUME-GATED (measured at both tiers, same corpus-size proxy
        # family as every cutover here): at sf0.1's ~30k-candidate
        # scale the dedup exchange is pure fixed cost (+0.5 s on a
        # floor-regime query) and multi-band re-verifies are cheaper;
        # at sf1's 3.27M candidates the dedup decisively flips the
        # ordering (q_dedup_near 12.8 -> 6.5 s cold, 2.6 s warm).
        cand = (
            bands.selectExpr("id AS a", "n_sh AS na", "band", "bucket")
            .join(
                F.broadcast(
                    bands.selectExpr(
                        "id AS b", "n_sh AS nb", "band", "bucket"
                    )
                ),
                ["band", "bucket"],
            )
            .filter("a < b")
            .filter(_ratio_keep(F.col("na"), F.col("nb")))
            .select("a", "b")
        )
        dedup_before = cached_count(prof) >= PAIR_DEDUP_MIN_DOCS
        if dedup_before:
            # Explicit keyed repartition (not AQE-sized): the deduped
            # pair stream is byte-light (~16 B/row) but the verify
            # downstream is CPU-heavy, and AQE's byte-based coalescing
            # would serialize it into one task (measured: 7.3 s
            # single-task verify at sf1). Same-key partitioning makes
            # the dedup agg exchange-free on top of it.
            cand = cand.repartition(
                _EXPAND_PARTITIONS, "a", "b"
            ).dropDuplicates(["a", "b"])
        # ONE payload broadcast, attached to both pair sides through
        # plan aliases: the two broadcast subtrees are canonically
        # identical, so ReuseExchange ships the profile to the
        # executors once instead of building two broadcasts per
        # invocation.
        payload = prof.select("id", "hs", "n_sh")
        pa, pb = payload.alias("pa"), payload.alias("pb")
        pairs = (
            cand.join(F.broadcast(pa), F.expr("a = pa.id"))
            .join(F.broadcast(pb), F.expr("b = pb.id"))
            .selectExpr(
                "a",
                "b",
                "pa.hs AS hs_a",
                "pa.n_sh AS n_sh_a",
                "pb.hs AS hs_b",
                "pb.n_sh AS n_sh_b",
            )
        )
    else:
        # Scale path: band groupBy + inline expansion, arrays riding
        # through the shuffle inside the collected structs. Hot-bucket
        # robust: buckets past SALT_BUCKET_MIN_ROWS are split into
        # salted sub-buckets (see salted_group_pairs) so no task owns
        # a skewed bucket's full O(c^2) expansion.
        bands = prof.select(
            F.explode(band_arr).alias("bb"), "id", "hs", "n_sh"
        ).selectExpr("bb.band AS band", "bb.bucket AS bucket", "id", "hs", "n_sh")
        # Same exact ratio prune, before the array-fat pair rows hit
        # the dedup shuffle.
        pairs = (
            salted_group_pairs(
                bands,
                ("band", "bucket"),
                ["hs", "n_sh"],
                n_member_rows=cached_count(prof) * MINHASH_BANDS,
            )
            .filter(_ratio_keep(F.col("n_sh_a"), F.col("n_sh_b")))
            .dropDuplicates(["a", "b"])
        )
    n_inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    scored = pairs.select(
        "a",
        "b",
        n_inter.alias("n_inter"),
        (
            n_inter.cast("double")
            / (F.col("n_sh_a") + F.col("n_sh_b") - n_inter)
        ).alias("jaccard"),
    )
    out = scored.filter(F.col("jaccard") >= threshold)
    if dedup_after and not dedup_before:
        # Small-corpus broadcast shape kept multi-band collisions
        # through the verify; collapse them here, where only the
        # (identical-valued) threshold survivors are left.
        out = out.dropDuplicates(["a", "b"])
    return out


def exact_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact shingle-set Jaccard for every document pair sharing a
    shingle: (a, b, n_inter, n_a, n_b, jaccard).

    The shingle equi-join itself generates the pairs — only documents
    sharing at least one shingle ever meet, so there is no N^2 blow-up.
    Set sizes ride through the shuffles alongside the shingle ids
    (deriving them separately and joining would re-run the tokenizer
    once per join side). All integer set arithmetic, so the similarity
    is engine-deterministic.
    """
    # Pair generation: the shingle equi-join IS the candidate
    # generator — only documents sharing a shingle ever meet. The
    # exploded (id, n_sh, shingle-id) rows come straight from the Arrow
    # kernel (one narrow pass, 8-byte ids), are session-cached once,
    # and then self-joined; see BROADCAST_MAX_BYTES for the two
    # physical strategies.
    sh = shingle_hashes_ckpt(docs, id_col, text_col)
    if _broadcast_fits(cached_count(sh), _W_EXPLODED):
        a_side = sh.select(
            F.col("id").alias("a"), F.col("n_sh").alias("n_a"), "hs"
        )
        b_side = sh.select(
            F.col("id").alias("b"), F.col("n_sh").alias("n_b"), "hs"
        )
        joined = a_side.join(F.broadcast(b_side), "hs").filter(
            F.col("a") < F.col("b")
        )
        # Explicit keyed repartition: the post-join pair stream is
        # byte-light but the hash-agg reduce is CPU-heavy; AQE's
        # byte-based coalescing would serialize it into ~1 task.
        inter = (
            joined.repartition(_EXPAND_PARTITIONS, "a", "b")
            .groupBy("a", "b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        # Scale path: ONE shuffle of the exploded shingles, pairs
        # expanded inline per bucket. Per-array work is O(c^2) where
        # c = docs sharing the shingle — a genuinely hot shingle is
        # exactly the case where a self-join explodes too, so buckets
        # past SALT_BUCKET_MIN_ROWS split into salted sub-buckets
        # (salted_group_pairs) instead of landing on one task.
        #
        # The set sizes ride the pair stream as extra GROUP KEYS
        # (functionally dependent on a/b, so group count is unchanged)
        # rather than joining back after the count: the bare-(a,b)
        # +post-count-size-join alternative was built and MEASURED
        # WORSE at sf1 (interleaved same-session A/B, medians of 3:
        # 18.3s carried vs 24.0s joined — the two extra join stages
        # over the 11M survivors cost more than halving the 125M-row
        # count shuffle's width saves).
        inter = (
            salted_group_pairs(
                sh,
                ("hs",),
                ["n_sh"],
                n_member_rows=cached_count(sh),
            )
            .groupBy("a", "b", "n_sh_a", "n_sh_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .select(
                "a",
                "b",
                F.col("n_sh_a").alias("n_a"),
                F.col("n_sh_b").alias("n_b"),
                "n_inter",
            )
        )
    return inter.select(
        "a",
        "b",
        "n_inter",
        "n_a",
        "n_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(id, sig): per-token md5-derived hash -> bitwise majority vote.

    md5 (not xxhash64) so a DuckDB oracle can reproduce the signature
    bit-for-bit: h = first 15 hex chars of md5(token) as a 60-bit int;
    duplicate token occurrences each vote, exactly like the exploded
    groupBy formulation this replaced.

    ZERO shuffle now: the whole explode/md5/32-conditional-sum pipeline
    collapsed into one narrow Arrow pass (functions/text_kernels) with
    per-batch token-vote memoization — round 1 measured the JVM
    explode+groupBy version at 4.3x the DuckDB oracle's wall time; the
    kernel does the identical arithmetic ~5x faster and keeps bit
    parity.
    """
    ckpt = simhash_signatures_ckpt(docs, id_col, text_col, bits)
    # Propagate the memoized count through the narrow rename so
    # simhash_pairs' broadcast gate stays job-free.
    return mark_count(ckpt.withColumnRenamed("id", id_col), cached_count(ckpt))


def simhash_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """Byte-band blocked pairs with Hamming(sig_a, sig_b) <= max_hamming.

    4 byte-bands over 32 bits: any pair within Hamming 3 must agree on
    at least one full byte, so the band join loses nothing. The banded
    signature groups are self-joined — broadcast when small, grouped
    inline expansion at scale (BROADCAST_MAX_BYTES) — and multi-band
    duplicates are eliminated by the FIRST-AGREEING-BAND filter (keep a
    pair only in the lowest band whose bytes match, computable from the
    signatures alone), not a pair-dedup exchange: the broadcast path
    therefore runs with ZERO shuffles of its own.

    ``grouped`` optionally supplies the signature-grouped table
    (sig, sorted ids) — e.g. the session-cached
    ``simhash_grouped_ckpt`` index — skipping the exact-collapse
    groupBy, the one corpus-sized shuffle the pipeline otherwise pays
    per invocation.
    """
    if grouped is None:
        sigs = ensure_materialized(sigs)
        base = sigs.withColumnRenamed(id_col, "id")
        # EXACT-COLLAPSE BEFORE NEAR-DUP BLOCKING: group docs by
        # identical signature first and band-join only the DISTINCT
        # signatures. In a duplicate-dense corpus (the regime dedup
        # exists for — the sf1 tier has ~10 exact copies per doc) this
        # shrinks the quadratic band-bucket expansion by the square of
        # the duplication factor: the round-5 doc-level band join was
        # 124 s warm at sf1, the sig-level join does ~1% of the Hamming
        # work and expands the (tiny) surviving signature pairs back to
        # doc pairs at the end. Same output exactly: same-sig pairs are
        # Hamming 0 by definition; cross-sig pairs inherit their
        # signatures' Hamming.
        gs = base.groupBy("sig").agg(
            F.sort_array(F.collect_list("id")).alias("ids")
        )
    else:
        gs = grouped
    # Hamming-0 pairs: all ordered pairs within one signature group.
    same = (
        gs.filter(F.size("ids") > 1)
        .select(F.posexplode("ids").alias("i", "a"), "ids")
        .select(
            "a",
            F.explode(
                F.slice("ids", F.col("i") + 2, F.size("ids") - F.col("i") - 1)
            ).alias("b"),
        )
        .select("a", "b", F.lit(0).cast("bigint").alias("hamming"))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright(F.col("sig"), 8 * k)
                .bitwiseAND(F.lit(255))
                .alias("byte"),
                F.col("sig"),
                F.col("ids"),
            )
            for k in range(4)
        ]
    )
    bands = gs.select(F.explode(band_structs).alias("bb")).select(
        "bb.band", "bb.byte", "bb.sig", "bb.ids"
    )
    # Byte gate on the conservative doc-count bound (distinct-sig count
    # is <= doc count and unknown without a job; the ids arrays weigh
    # 8 B/doc per band on either physical path).
    if _broadcast_fits(cached_count(sigs) * 4, _W_BAND_SIG + 8.0):
        a_side = bands.select(
            F.col("sig").alias("sig_a"), F.col("ids").alias("ids_a"),
            "band", "byte",
        )
        b_side = bands.select(
            F.col("sig").alias("sig_b"), F.col("ids").alias("ids_b"),
            "band", "byte",
        )
        sig_pairs = (
            a_side.join(F.broadcast(b_side), ["band", "byte"])
            .filter(F.col("sig_a") < F.col("sig_b"))
            .select("band", "sig_a", "sig_b", "ids_a", "ids_b")
        )
    else:
        groups = bands.groupBy("band", "byte").agg(
            F.collect_list(
                F.struct(F.col("sig").alias("id"), "ids")
            ).alias("ms")
        )
        sig_pairs = _expand_pairs(groups, ["ids"], keys=("band",)).selectExpr(
            "band", "a AS sig_a", "b AS sig_b", "ids_a", "ids_b"
        )
    # Hamming-filter and multi-band dedup at SIGNATURE granularity,
    # before the doc-pair expansion. A pair surfaces once per AGREEING
    # band; keeping it only in the FIRST such band (all lower bands'
    # bytes differ — a pure function of the two signatures) replaces
    # the dropDuplicates exchange this pipeline used to pay: with <= 3
    # differing bits at most 3 of the 4 bands are dirty, so exactly one
    # row per qualifying pair survives, shuffle-free.
    _x = F.col("sig_a").bitwiseXOR(F.col("sig_b"))

    def _byte_differs(j: int):
        return F.shiftright(_x, 8 * j).bitwiseAND(F.lit(255)) != 0

    first_band = (
        F.when(F.col("band") == 1, _byte_differs(0))
        .when(F.col("band") == 2, _byte_differs(0) & _byte_differs(1))
        .when(
            F.col("band") == 3,
            _byte_differs(0) & _byte_differs(1) & _byte_differs(2),
        )
        .otherwise(F.lit(True))
    )
    surv = (
        sig_pairs.withColumn("hamming", F.bit_count(_x).cast("bigint"))
        .filter((F.col("hamming") <= max_hamming) & first_band)
        .drop("band")
    )
    cross = (
        surv.select(F.explode("ids_a").alias("x"), "ids_b", "hamming")
        .select("x", F.explode("ids_b").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def simhash_connectivity_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """Connectivity-equivalent SimHash edge set: the same connected
    components as :func:`simhash_pairs`, near-linear row count.

    ``simhash_pairs`` enumerates every qualifying DOC pair — all ordered
    pairs within a signature group (quadratic in group size) plus the
    full ``ids_a x ids_b`` bipartite expansion per surviving signature
    pair. A component finder needs only CONNECTIVITY, which survives two
    exact reductions:

    - same-sig groups: a STAR from the group minimum to each other
      member replaces the clique — same vertex set, same connectedness;
    - cross-sig pairs: ONE representative edge (min_a, min_b) replaces
      the bipartite expansion — both groups are internally connected by
      their stars, so one bridge carries the whole adjacency.

    Every reduced edge is in the full pair set (stars are Hamming-0
    pairs; the representative edge is one of the bipartite pairs), and
    every full edge connects vertices the reduced set already joins
    transitively — so the two edge sets have identical connected
    components, while the reduced one is O(docs + signature pairs)
    instead of O(sum of group-size^2). In the duplicate-dense regime
    dedup exists for (~10 exact copies/doc at the sf1 tier) that is the
    difference between the distributed label-propagation fixpoint and
    the driver union-find fast path.
    """
    if grouped is None:
        base = ensure_materialized(sigs).withColumnRenamed(id_col, "id")
        gs = base.groupBy("sig").agg(
            F.sort_array(F.collect_list("id")).alias("ids")
        )
    else:
        gs = grouped
    stars = gs.filter(F.size("ids") > 1).select(
        F.element_at("ids", 1).alias("a"),
        F.explode(
            F.slice("ids", 2, F.size("ids") - 1)
        ).alias("b"),
    )
    # Collapse each group to its (sorted-first = minimum) representative
    # and reuse the banded pipeline verbatim: the Hamming filter and
    # first-agreeing-band dedup are pure functions of the signatures, so
    # the surviving signature pairs are identical — each now expands to
    # exactly one doc pair.
    rep = gs.select("sig", F.slice("ids", 1, 1).alias("ids"))
    cross = simhash_pairs(
        sigs, id_col=id_col, max_hamming=max_hamming, grouped=rep
    ).select("a", "b")
    return stars.unionByName(cross)
