"""Dedup operator internals: the Arrow-kernel MinHash signatures must
match the explode + groupBy JVM ground truth per permutation.

The kernel (functions/text_kernels.shingle_profile_pd) computes
md5-base + affine-permutation signatures in numpy; the ground truth
here recomputes them with pure JVM expressions (split/shingle/md5/conv
+ min over exploded shingles). Any divergence — tokenization, shingle
de-dup, hex-prefix extraction, affine arithmetic, or the historical
HOF (element, index) lambda trap — fails this test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.functions.text import tokens, word_shingles
from open_rust_timeseries_db_spark.functions.text_kernels import (
    MH_AB,
    MH_P,
    shingle_profile_ckpt,
)
from open_rust_timeseries_db_spark.operators.dedupe import MINHASH_PERMS
from open_rust_timeseries_db_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


def test_minhash_signatures_match_grouped_truth(spark):
    docs = load_table(spark, SF_DIR, "documents")
    prof = {
        r["id"]: r["sigs"]
        for r in shingle_profile_ckpt(docs, n_perms=MINHASH_PERMS)
        .select("id", "sigs")
        .collect()
    }

    base = F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("bigint")
    exploded = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(word_shingles(tokens("text")))).alias("sh"),
    ).select("id", base.alias("h"))
    truth_rows = exploded.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MH_P)).alias(f"t{i}")
            for i, (a, b) in enumerate(MH_AB[:MINHASH_PERMS])
        ]
    ).collect()
    assert len(truth_rows) == len(prof)
    n_distinct_total = 0
    for t in truth_rows:
        got = list(prof[t["id"]])
        want = [t[f"t{i}"] for i in range(MINHASH_PERMS)]
        assert got == want, f"doc {t['id']}: sigs diverge from grouped truth"
        n_distinct_total += len(set(got))
    # A degenerate family (or the historical (element, index) HOF lambda
    # trap) makes every doc's P sigs identical; real sigs are
    # (essentially always) distinct per perm.
    assert n_distinct_total > len(truth_rows) * (MINHASH_PERMS // 2)


def test_simhash_kernel_matches_jvm_truth(spark):
    from open_rust_timeseries_db_spark.operators.dedupe import simhash_signatures

    docs = load_table(spark, SF_DIR, "documents").limit(200)
    got = {r["doc_id"]: r["sig"] for r in simhash_signatures(docs).collect()}

    hashes = docs.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    votes = hashes.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"v_{j}")
            for j in range(32)
        ]
    )
    sig = None
    for j in range(32):
        term = F.when(F.col(f"v_{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    want = {r["doc_id"]: r["sig"] for r in votes.select("doc_id", sig.alias("sig")).collect()}
    assert got == want


def test_scale_path_matches_broadcast_path(spark, monkeypatch):
    """Force the grouped-expansion scale path (the one a 100 TB input
    takes) by zeroing the broadcast byte budget, and require identical
    results to the broadcast path on every LSH/banding query. Round-2
    advice found the q_minhash_jaccard scale path threw
    AMBIGUOUS_REFERENCE — it had never been executed."""
    import open_rust_timeseries_db_spark.operators.dedupe as dd
    from open_rust_timeseries_db_spark.queries import all_queries

    # Build through the unmemoized builders: the prepared-plan memo
    # would serve the second call below the BROADCAST-path plan, and the
    # grouped scale path would never execute (the assertion would pass
    # vacuously).
    qs = {
        n: getattr(spec.fn, "__wrapped__", spec.fn)
        for n, spec in all_queries().items()
    }
    # q_contamination shares the same gate: broadcast train-shingle
    # dictionary when small, grouped single-shuffle shape at scale.
    names = ("q_minhash_jaccard", "q_dedup_near", "q_simhash",
             "q_ngram_jaccard", "q_contamination")
    small = {
        n: {tuple(r) for r in qs[n](spark, SF_DIR).collect()} for n in names
    }
    monkeypatch.setattr(dd, "BROADCAST_MAX_BYTES", 0)
    for n in names:
        forced = {tuple(r) for r in qs[n](spark, SF_DIR).collect()}
        assert forced == small[n], f"{n}: scale path diverges from broadcast path"
    assert any(len(v) > 0 for v in small.values())


def test_kernel_cache_evicts_and_isolates(spark, monkeypatch):
    """The bounded LRU session cache must (a) never serve one corpus's
    table for another, (b) unpersist displaced entries, and (c) stay
    correct after eviction (recompute on re-request)."""
    import open_rust_timeseries_db_spark.functions.text_kernels as tk
    from open_rust_timeseries_db_spark import session_cache

    monkeypatch.setattr(session_cache, "CKPT_MAX", 1)
    df1 = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    df2 = spark.createDataFrame([(2, "v w x y z")], "doc_id long, text string")
    a1 = tk.shingle_hashes_ckpt(df1)
    rows1 = {tuple(r) for r in a1.collect()}
    a2 = tk.shingle_hashes_ckpt(df2)
    rows2 = {tuple(r) for r in a2.collect()}
    # Distinct corpora (same schema, same params) must not cross-hit.
    assert {r[0] for r in rows1} == {1} and {r[0] for r in rows2} == {2}
    assert len(rows1) == 3 and len(rows2) == 3  # 5 tokens -> 3 shingles
    # Inserting corpus 2 displaced corpus 1: blocks must be released.
    assert a2.storageLevel.useMemory
    assert not a1.storageLevel.useMemory, "evicted entry still persisted"
    # Re-request after eviction recomputes the same rows.
    b1 = tk.shingle_hashes_ckpt(df1)
    assert {tuple(r) for r in b1.collect()} == rows1


def test_kernel_cache_repeat_invocation_stable(spark):
    """The session-scoped kernel materialization cache must hand back
    the same rows on a cache hit as the original computation (and the
    second invocation must reuse, not recompute — asserted indirectly:
    identical results across invocations)."""
    from open_rust_timeseries_db_spark.queries import all_queries

    qs = all_queries()
    first = {tuple(r) for r in qs["q_minhash_jaccard"].fn(spark, SF_DIR).collect()}
    second = {tuple(r) for r in qs["q_minhash_jaccard"].fn(spark, SF_DIR).collect()}
    assert first == second and len(first) > 0


def test_prune_fraction_never_exceeds_threshold():
    # The sizes-only Jaccard prune is only safe when its rational
    # threshold p/q does NOT exceed the requested one; float(1/3) is a
    # deterministic round-UP case (limit_denominator snaps to exactly
    # 1/3, which is above the float), so it must step down.
    from fractions import Fraction

    from open_rust_timeseries_db_spark.operators.dedupe import prune_fraction

    p, q = prune_fraction(1 / 3)
    assert Fraction(p, q) <= Fraction(1 / 3)
    assert Fraction(1 / 3) - Fraction(p, q) <= Fraction(1, 10**6)


def test_prune_fraction_properties():
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from open_rust_timeseries_db_spark.operators.dedupe import prune_fraction

    @settings(max_examples=300, deadline=None)
    @given(
        st.floats(min_value=1e-6, max_value=1.0, allow_nan=False),
        st.integers(min_value=1, max_value=10**6),
        st.integers(min_value=1, max_value=10**6),
    )
    def check(t, na, nb):
        p, q = prune_fraction(t)
        exact = Fraction(t)
        # Never above the threshold, never more than 1e-6 below it.
        assert Fraction(p, q) <= exact
        assert exact - Fraction(p, q) <= Fraction(1, 10**6)
        # Safety at the boundary: any pair whose sizes admit J >= t
        # (the necessary condition with the EXACT threshold) must also
        # pass the keep condition the operator evaluates with (p, q).
        if (1 + exact) * min(na, nb) >= exact * (na + nb):
            assert (q + p) * min(na, nb) >= p * (na + nb)
        # No int64 overflow headroom concern: terms stay small.
        assert q <= 10**6 and p <= q

    check()


def test_hot_bucket_skew_paths_agree(spark, monkeypatch):
    """Hot-LSH-bucket stress: 10% of a tiny corpus shares one phrase,
    so one bucket holds the whole cohort — the per-bucket O(c^2) regime
    the grouped scale path is feared for. Both physical paths must
    produce identical pairs, and the exact-Jaccard verifier must find
    exactly the full hot clique."""
    import importlib.util
    from pathlib import Path

    import open_rust_timeseries_db_spark.operators.dedupe as dd

    sb_path = Path(__file__).resolve().parent.parent / "scripts" / "scale_bench.py"
    mspec = importlib.util.spec_from_file_location("scale_bench", sb_path)
    sb = importlib.util.module_from_spec(mspec)
    mspec.loader.exec_module(sb)

    sk = sb.skewed_documents(spark, "/root/testdata/sf0.001", hot_every=10)
    hot_ids = {r["doc_id"] for r in sk.filter("doc_id % 10 = 1").select("doc_id").collect()}
    n_hot = len(hot_ids)
    assert n_hot >= 40  # the cohort is actually hot

    def run_all():
        return {
            "near": {tuple(r) for r in dd.minhash_neardup(sk).collect()},
            "ej": {tuple(r) for r in dd.exact_jaccard(sk).collect()},
            "sh": {
                tuple(r)
                for r in dd.simhash_pairs(dd.simhash_signatures(sk)).collect()
            },
        }

    broadcast = run_all()
    monkeypatch.setattr(dd, "BROADCAST_MAX_BYTES", 0)
    forced = run_all()
    for k in broadcast:
        assert broadcast[k] == forced[k], (
            f"{k}: hot-bucket results diverge between physical paths"
        )

    # Third physical shape: the grouped path with SALTING forced on
    # (thresholds lowered so the ~n_hot-member buckets split into
    # salted sub-buckets, including the multi-split regime). The
    # exactly-once guarantee of the (i == j) OR (salt_a != salt_b)
    # keep-filter must reproduce the identical pair sets.
    monkeypatch.setattr(dd, "SALT_MIN_SOURCE_ROWS", 0)
    monkeypatch.setattr(dd, "SALT_BUCKET_MIN_ROWS", 8)
    monkeypatch.setattr(dd, "SALT_TARGET_ROWS", 4)
    salted = run_all()
    for k in broadcast:
        assert broadcast[k] == salted[k], (
            f"{k}: salted hot-bucket expansion diverges from the "
            "unsalted paths"
        )

    # The exact verifier has perfect recall on shared shingles: the
    # full hot clique (38 of 40 shingles shared pairwise -> J = 0.95)
    # must be present, every pair with the same exact Jaccard.
    clique = n_hot * (n_hot - 1) // 2
    hot_ej = [r for r in broadcast["ej"] if r[0] in hot_ids and r[1] in hot_ids]
    assert len(hot_ej) == clique
    assert all(abs(r[5] - 38 / 40) < 1e-12 for r in hot_ej)
    # Banded MinHash-LSH at J=0.95 recalls (deterministically, fixed
    # hash family) essentially the whole clique.
    hot_near = [r for r in broadcast["near"] if r[0] in hot_ids and r[1] in hot_ids]
    assert len(hot_near) >= int(0.9 * clique)


def test_connectivity_pairs_same_components(spark):
    """simhash_connectivity_pairs must induce EXACTLY the connected
    components of the full simhash_pairs enumeration (q_dedup_clusters
    feeds it to connected_components): same-sig stars + one
    representative edge per surviving signature pair replace the
    clique/bipartite expansion, and the component labeling — min doc_id
    per component over all documents — must be identical."""
    from open_rust_timeseries_db_spark.operators import dedupe as dd

    docs = load_table(spark, SF_DIR, "documents")
    sigs = dd.simhash_signatures(docs)
    full = {
        (r["a"], r["b"])
        for r in dd.simhash_pairs(sigs, max_hamming=3).select("a", "b").collect()
    }
    conn = {
        (r["a"], r["b"])
        for r in dd.simhash_connectivity_pairs(sigs, max_hamming=3)
        .select("a", "b")
        .collect()
    }
    # Subset: every reduced edge is a real qualifying pair.
    assert conn <= full
    # The reduction actually reduces on a duplicate-bearing corpus.
    assert len(conn) < len(full)

    def components(edges):
        parent: dict[int, int] = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        for n in all_ids:
            parent[n] = n
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return {n: find(n) for n in all_ids}

    assert components(full) == components(conn)
