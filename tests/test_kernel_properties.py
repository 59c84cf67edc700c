"""Kernel-vs-naive property tests: the vectorized Arrow text kernels
must agree with straightforward per-document Python reference
implementations on adversarial corpora.

The kernels earn their speed from batch-level vectorization with
positional document-boundary masking — exactly the code most likely to
be wrong at edges (empty docs, one-token docs, docs split across
batch boundaries, whole-corpus duplicates). The references here are
deliberately naive: tokenize, loop, count.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from open_rust_timeseries_db_spark.functions.text_kernels import (
    MH_AB,
    MH_P,
    doc_gram_counts_pd,
    shingle_profile_pd,
    winnow_fp_pd,
)

# Adversarial corpus: empty text, spaces only, single token, exactly
# n-1 / n / n+1 tokens for the 3-gram kernels, heavy repetition,
# duplicate documents, and a long irregular tail.
DOCS = [
    (0, ""),
    (1, "   "),
    (2, "one"),
    (3, "one two"),
    (4, "one two three"),
    (5, "one two three four"),
    (6, "a a a a a a a a a a a a"),
    (7, "x y x y x y x y"),
    (8, "the quick brown fox jumps over the lazy dog"),
    (9, "the quick brown fox jumps over the lazy dog"),  # exact dup of 8
    (10, "  leading and   multiple   spaces  "),
    (11, " ".join(f"tok{i % 13}" for i in range(257))),
    (12, " ".join(f"w{i}" for i in range(50))),
]


def _toks(t: str) -> list[str]:
    return [w for w in t.split(" ") if w]


def _naive_bigrams(doc: str) -> list[str]:
    toks = _toks(doc)
    return [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _doc_grams(df, kind: int) -> dict[tuple[int, str], int]:
    """The fused kernel's (id, gram) -> n rows of one ``kind`` (1 =
    token, 2 = bigram)."""
    return {
        (r["id"], r["gram"]): r["n"]
        for r in doc_gram_counts_pd(df).collect()
        if r["kind"] == kind
    }


def _corpus_counts(per_doc: dict[tuple[int, str], int]) -> Counter:
    got = Counter()
    for (_, gram), n in per_doc.items():
        got[gram] += n
    return got


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_corpus_bigram_partials_sum_to_naive_counts(docs_df):
    """Summed over documents, the per-document bigram rows are the
    corpus counts that bigram_counts_ckpt rolls up."""
    expected = Counter()
    for _, text in DOCS:
        expected.update(_naive_bigrams(text))
    assert _corpus_counts(_doc_grams(docs_df, 2)) == expected


def test_per_doc_bigram_counts_match_naive(docs_df):
    expected = {
        (doc_id, bg): n
        for doc_id, text in DOCS
        for bg, n in Counter(_naive_bigrams(text)).items()
    }
    assert _doc_grams(docs_df, 2) == expected


def test_per_doc_token_counts_match_naive(docs_df):
    expected = {
        (doc_id, tok): n
        for doc_id, text in DOCS
        for tok, n in Counter(_toks(text)).items()
    }
    assert _doc_grams(docs_df, 1) == expected


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = _toks(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _naive_minhash(text: str) -> list[int]:
    """The q_minhash_jaccard oracle's signature: per (A, B), the min of
    (A * h + B) mod (2^61 - 1) over the doc's shingles, h = the first 8
    hex chars of the shingle's md5."""
    base = [
        int(hashlib.md5(sh.encode()).hexdigest()[:8], 16)
        for sh in _shingles(text)
    ]
    return [min((a * h + b) % MH_P for h in base) for a, b in MH_AB]


def test_shingle_kernel_cardinalities_and_dup_equality(docs_df):
    """hs values are internal (md5-derived join keys), so the contract
    is: n_sh equals the naive distinct-3-gram count, hs holds that many
    distinct ids, and exact-duplicate documents produce exactly equal hs
    SETS (the property every downstream dedup join relies on). The
    MinHash signatures, which the oracle sees, are exact."""
    naive = {doc_id: len(_shingles(t)) for doc_id, t in DOCS}
    by_doc: dict[int, set] = {}
    for r in shingle_profile_pd(docs_df, n_perms=len(MH_AB)).collect():
        assert r["id"] not in by_doc  # one profile row per document
        by_doc[r["id"]] = set(r["hs"])
        assert r["n_sh"] == naive[r["id"]] == len(r["hs"])
        assert list(r["sigs"]) == _naive_minhash(DOCS[r["id"]][1])
    for doc_id, t in DOCS:
        expected_n = naive[doc_id]
        if expected_n == 0:
            assert doc_id not in by_doc  # sub-3-token docs emit nothing
        else:
            assert len(by_doc[doc_id]) == expected_n
    assert by_doc[8] == by_doc[9]  # exact dups -> identical shingle sets
    assert by_doc[8].isdisjoint(by_doc[11])  # disjoint vocab -> disjoint sets


def _naive_winnow(text: str, n: int = 3, w: int = 4) -> set[int]:
    toks = _toks(text)
    hs = [
        int(hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()[:15], 16)
        for i in range(len(toks) - n + 1)
    ]
    if len(hs) < w:
        return set()
    return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}


def test_winnow_kernel_matches_naive_moss_selection(docs_df):
    expected = {
        doc_id: _naive_winnow(text) for doc_id, text in DOCS
    }
    got: dict[int, set] = {}
    for r in winnow_fp_pd(docs_df).collect():
        got.setdefault(r["id"], set()).add(r["fp"])
    for doc_id, fps in expected.items():
        if fps:
            assert got.get(doc_id) == fps, f"doc {doc_id}"
        else:
            assert doc_id not in got


def test_bigram_boundary_masking_with_many_docs_per_batch(spark):
    """Replicate the corpus 40x so every Arrow batch carries dozens of
    documents — the regime where a boundary-masking bug (a bigram
    spanning two adjacent docs in the flattened token array) would
    produce phantom counts."""
    big = [
        (doc_id + 1000 * rep, text)
        for rep in range(40)
        for doc_id, text in DOCS
    ]
    df = spark.createDataFrame(big, "doc_id long, text string")
    expected = Counter()
    for _, text in big:
        expected.update(_naive_bigrams(text))
    per_doc = _doc_grams(df, 2)
    assert _corpus_counts(per_doc) == expected
    # Per document on the same corpus: row-exact.
    expected_pd = {
        (doc_id, bg): n
        for doc_id, text in big
        for bg, n in Counter(_naive_bigrams(text)).items()
    }
    assert per_doc == expected_pd


def test_null_text_rows_tokenize_to_nothing(spark):
    """documents.text is nullable: a NULL cell must behave exactly like
    the JVM path (F.split on NULL -> NULL -> explode drops the row) in
    EVERY Arrow kernel — no AttributeError, no phantom tokens (round-5
    advice: the fused doc_gram kernel newly crashed on None)."""
    from open_rust_timeseries_db_spark.functions.text_kernels import (
        simhash_signatures_pd,
    )

    mixed = [(0, None), (1, "a b c d"), (2, None), (3, "a b")]
    df = spark.createDataFrame(mixed, "doc_id long, text string")

    grams = doc_gram_counts_pd(df).collect()
    assert {r["id"] for r in grams} == {1, 3}
    uni = {(r["id"], r["gram"]): r["n"] for r in grams if r["kind"] == 1}
    assert uni[(1, "a")] == 1 and uni[(3, "b")] == 1
    bi = {(r["id"], r["gram"]) for r in grams if r["kind"] == 2}
    assert (1, "a b") in bi and (3, "a b") in bi

    # The shingle / winnow / doc-gram kernels share _toks: a
    # NULL-only corpus yields zero rows everywhere, not a crash.
    nulls = spark.createDataFrame(
        [(7, None)], "doc_id long, text string"
    )
    assert shingle_profile_pd(nulls, n_perms=16).count() == 0
    assert winnow_fp_pd(nulls).count() == 0
    assert doc_gram_counts_pd(nulls).count() == 0
    # SimHash emits one signature row per doc with >=1 token: a NULL
    # doc has none, so no row (same as empty text).
    assert simhash_signatures_pd(nulls).count() == 0
