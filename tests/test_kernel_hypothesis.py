"""Hypothesis-driven batch-split fuzz of the Arrow text kernels the
registered queries run: the fused doc-gram and shingle-profile kernels
(every corpus cache build runs both), winnowing and SimHash.

The kernels' risk surface is batch-level vectorization with positional
document-boundary masking; the fixed adversarial corpus in
test_kernel_properties.py pins known edges, and these properties let
hypothesis pick BOTH the corpus and the Arrow batch boundaries — the
generator closures are captured by intercepting mapInPandas, then
driven directly on hand-built pandas chunks, so a split landing in the
middle of any document shape is reachable without Spark in the loop.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from open_rust_timeseries_db_spark.functions.text_kernels import MH_AB, MH_P

TOKENS = ["a", "b", "ab", "tok", "x1", "zz", "é"]
_text = st.lists(st.sampled_from(TOKENS), max_size=12).map(" ".join)
_cell = st.one_of(_text, st.just(""), st.just("   "), st.none())


@st.composite
def corpus_and_splits(draw):
    texts = draw(st.lists(_cell, min_size=0, max_size=16))
    cuts = sorted(
        draw(st.lists(st.integers(0, max(0, len(texts))), max_size=4))
    )
    return texts, cuts


def _toks(t):
    return [w for w in t.split(" ") if w] if isinstance(t, str) else []


def _chunks(texts, cuts):
    bounds = [0] + cuts + [len(texts)]
    return [
        pd.DataFrame(
            {
                "doc_id": pd.Series(range(a, b), dtype="int64"),
                "text": pd.Series(texts[a:b], dtype=object),
            }
        )
        for a, b in zip(bounds, bounds[1:])
    ]


def _run(gen, texts, cuts):
    frames = [f for f in gen(iter(_chunks(texts, cuts))) if len(f)]
    return pd.concat(frames) if frames else None


@pytest.fixture(scope="module")
def gens(spark):
    """Capture each kernel's mapInPandas generator closure."""
    # Spark 4: pyspark.sql.DataFrame is a dispatch facade; the
    # concrete class (where mapInPandas actually lives) is the classic
    # one. Fall back to the facade for older layouts.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover
        from pyspark.sql import DataFrame

    import open_rust_timeseries_db_spark.functions.text_kernels as tk

    cap = {}
    orig = DataFrame.mapInPandas

    def fake(self, func, schema, **kw):
        cap["g"] = func
        return self

    DataFrame.mapInPandas = fake
    try:
        dummy = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        out = {}
        for name, fn in [
            # As shingle_profile_ckpt builds it: every MinHash permutation.
            (
                "profile",
                lambda df: tk.shingle_profile_pd(df, n_perms=len(MH_AB)),
            ),
            ("doc_gram", tk.doc_gram_counts_pd),
            ("winnow", tk.winnow_fp_pd),
            ("simhash", tk.simhash_signatures_pd),
        ]:
            fn(dummy)
            out[name] = cap["g"]
    finally:
        DataFrame.mapInPandas = orig
    return out


def _shingles(t, n=3):
    toks = _toks(t)
    return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}


def _naive_minhash(t):
    base = [
        int(hashlib.md5(sh.encode()).hexdigest()[:8], 16) for sh in _shingles(t)
    ]
    return [min((a * h + b) % MH_P for h in base) for a, b in MH_AB]


@settings(max_examples=50, deadline=None)
@given(corpus_and_splits())
def test_shingle_cardinality_and_dup_sets(gens, case):
    texts, cuts = case
    naive = {i: _shingles(t) for i, t in enumerate(texts)}
    out = _run(gens["profile"], texts, cuts)
    by_doc: dict[int, set] = {}
    if out is not None:
        for r in out.itertuples():
            i = int(r.id)
            assert i not in by_doc  # one profile row per document
            by_doc[i] = {int(h) for h in r.hs}
            assert int(r.n_sh) == len(naive[i]) == len(r.hs)
            assert [int(x) for x in r.sigs] == _naive_minhash(texts[i])
    for i, sh in naive.items():
        assert len(by_doc.get(i, set())) == len(sh)
    # Equal token sequences must produce identical shingle-id sets
    # regardless of which batch each doc landed in.
    for i, t in enumerate(texts):
        for j, u in enumerate(texts):
            if _toks(t) == _toks(u):
                assert by_doc.get(i, set()) == by_doc.get(j, set())


def _doc_grams(gens, texts, cuts, kind):
    """The doc-gram kernel's (id, gram) -> n rows of one ``kind`` (1 =
    token, 2 = bigram)."""
    out = _run(gens["doc_gram"], texts, cuts)
    if out is None:
        return {}
    return {
        (int(r.id), r.gram): int(r.n)
        for r in out.itertuples()
        if r.kind == kind
    }


@settings(max_examples=50, deadline=None)
@given(corpus_and_splits())
def test_doc_token_counts_match_naive(gens, case):
    texts, cuts = case
    expected = {
        (i, tok): n
        for i, t in enumerate(texts)
        for tok, n in Counter(_toks(t)).items()
    }
    assert _doc_grams(gens, texts, cuts, 1) == expected


@settings(max_examples=50, deadline=None)
@given(corpus_and_splits())
def test_doc_bigram_counts_match_naive(gens, case):
    texts, cuts = case
    expected = {
        (i, f"{a} {b}"): n
        for i, t in enumerate(texts)
        for (a, b), n in Counter(zip(_toks(t), _toks(t)[1:])).items()
    }
    assert _doc_grams(gens, texts, cuts, 2) == expected


@settings(max_examples=50, deadline=None)
@given(corpus_and_splits())
def test_corpus_bigram_partials_sum_to_naive(gens, case):
    """Summed over documents, the bigram rows are the corpus counts
    that bigram_counts_ckpt rolls up."""
    texts, cuts = case
    expected = Counter()
    for t in texts:
        toks = _toks(t)
        expected.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    got = Counter()
    for (_, gram), n in _doc_grams(gens, texts, cuts, 2).items():
        got[gram] += n
    assert got == expected


def _naive_winnow(t, n=3, w=4):
    toks = _toks(t)
    hs = [
        int(hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()[:15], 16)
        for i in range(len(toks) - n + 1)
    ]
    if len(hs) < w:
        return set()
    return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}


@settings(max_examples=40, deadline=None)
@given(corpus_and_splits())
def test_winnow_fingerprints_match_naive(gens, case):
    texts, cuts = case
    out = _run(gens["winnow"], texts, cuts)
    got: dict[int, set] = {}
    if out is not None:
        for r in out.itertuples():
            got.setdefault(int(r.id), set()).add(int(r.fp))
            assert int(r.n_fp) == len(_naive_winnow(texts[int(r.id)]))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _naive_winnow(t), f"doc {i}"


def _naive_simhash(t, bits=32):
    votes = [0] * bits
    for tok in _toks(t):
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        for j in range(bits):
            votes[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(bits) if votes[j] > 0)


@settings(max_examples=40, deadline=None)
@given(corpus_and_splits())
def test_simhash_signatures_match_naive(gens, case):
    texts, cuts = case
    expected = {
        i: _naive_simhash(t) for i, t in enumerate(texts) if _toks(t)
    }
    out = _run(gens["simhash"], texts, cuts)
    got = (
        {int(r.id): int(r.sig) for r in out.itertuples()}
        if out is not None
        else {}
    )
    assert got == expected
