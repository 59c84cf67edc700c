"""Vector kernels over ArrayType(Float) columns, run as Arrow batches
(mapInPandas / applyInPandas) with numpy inside.

All folds are fixed-point: each elementwise product is floored at scale
1e12 into a BIGINT and summed exactly. Rationale (learned the hard way,
see queries/relational.q_array_ops): float32 values are dyadic rationals
that can land exactly on decimal .5 ties, where Spark's HALF_UP and
DuckDB's HALF_EVEN casts disagree; floor() has no tie semantics, so
identical IEEE doubles floor identically in every engine, and BIGINT
sums are order-insensitive.

The multimodal payload ingested by the reference is opaque bytes
(reference src/storage/table.rs:27); embeddings here are its typed
evolution: ArrayType(FloatType()) columns.
"""

from __future__ import annotations

FX_SCALE = 1e12


def _driver_rows(df_or_rows, *cols):
    """Collect ``(…cols)`` rows, or pass a pre-collected list through.

    Callers that invoke repeatedly on an immutable corpus pass the
    memoized list (functions/text_kernels.cached_collect) so the
    driver-side matrix costs one Spark job per session, not one per
    invocation."""
    if isinstance(df_or_rows, list):
        return df_or_rows
    return df_or_rows.select(*cols).collect()


def ivf_assign(
    emb,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "c_emb",
    carry_vec: bool = False,
):
    """Assign every vector to its nearest centroid (max cosine, ties to
    the smallest centroid id) in ONE mapInPandas pass.

    The IVF index build: the centroid set is tiny by construction
    (sqrt(N)-ish), so it rides to every task as a numpy matrix inside
    the closure — no crossJoin row explosion, no window. Per batch:
    (B,d) x (d,C) products with the same per-element fixed-point floor
    as the SQL oracle, then a lexicographic argmax. Narrow (no
    shuffle): output is one row per input vector.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    cent_rows = _driver_rows(centroids, centroid_id_col, centroid_vec_col)
    c_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    c_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    c_n2 = np.floor(c_mat * c_mat * FX_SCALE).astype(np.int64).sum(axis=1)
    c_den = np.sqrt(c_n2 / FX_SCALE)
    # Deterministic tie order: sort centroids by id ascending so the
    # first argmax hit is the smallest centroid_id.
    order = np.argsort(c_ids, kind="stable")
    c_ids, c_mat, c_den = c_ids[order], c_mat[order], c_den[order]

    fields = [
        T.StructField("vec_id", T.LongType()),
        T.StructField("centroid_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
    if carry_vec:
        # Carry the vector through the index build so consumers that
        # need coordinates (probe search, Lloyd update, semantic dedup)
        # read them straight off the cached assignment instead of
        # re-joining the corpus table per invocation.
        fields.append(T.StructField(vec_col, emb.schema[vec_col].dataType))
    out_schema = T.StructType(fields)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            v_n2 = np.floor(mat * mat * FX_SCALE).astype(np.int64).sum(axis=1)
            v_den = np.sqrt(v_n2 / FX_SCALE)
            # (B, C, d) per-element fixed-point products, chunked over B.
            best_id = np.empty(len(ids), dtype=np.int64)
            best_cos = np.empty(len(ids), dtype=np.float64)
            chunk = max(1, (1 << 22) // max(1, c_mat.shape[0] * c_mat.shape[1]))
            for lo in range(0, len(ids), chunk):
                hi = min(len(ids), lo + chunk)
                prods = mat[lo:hi, None, :] * c_mat[None, :, :]
                dots = np.floor(prods * FX_SCALE).astype(np.int64).sum(axis=2)
                cos = (dots / FX_SCALE) / (v_den[lo:hi, None] * c_den[None, :])
                # argmax takes the FIRST max; centroids are id-ascending,
                # matching ORDER BY cosine DESC, centroid_id ASC.
                k = np.argmax(cos, axis=1)
                best_id[lo:hi] = c_ids[k]
                best_cos[lo:hi] = cos[np.arange(hi - lo), k]
            out = {
                "vec_id": pd.Series(ids, dtype="int64"),
                "centroid_id": pd.Series(best_id, dtype="int64"),
                "cosine": pd.Series(best_cos, dtype="float64"),
            }
            if carry_vec:
                out[vec_col] = pdf[vec_col].reset_index(drop=True)
            yield pd.DataFrame(out)

    return emb.select(id_col, vec_col).mapInPandas(assign, out_schema)


def local_topk_cosine(
    cand,
    queries,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_emb",
    exclude_self: bool = True,
):
    """Per-partition top-k cosine candidates for each query vector.

    The distributed top-k shape: every task scores its candidate batch
    against the (small, closure-shipped) query matrix and emits only
    its LOCAL top-k per query — O(tasks * Q * k) rows reach the final
    global top-k selection instead of O(N * Q). Selection order matches
    ORDER BY cosine DESC, neighbor_id ASC, so the global top-k is a
    subset of the union of local top-ks (callers finish with a window
    over the tiny survivor set).

    Same fixed-point arithmetic as the SQL oracle throughout.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    q_rows = _driver_rows(queries, query_id_col, query_vec_col)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_n2 = np.floor(q_mat * q_mat * FX_SCALE).astype(np.int64).sum(axis=1)
    q_den = np.sqrt(q_n2 / FX_SCALE)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n2 = np.floor(mat * mat * FX_SCALE).astype(np.int64).sum(axis=1)
            den = np.sqrt(n2 / FX_SCALE)
            prods = mat[:, None, :] * q_mat[None, :, :]  # (B, Q, d)
            dots = np.floor(prods * FX_SCALE).astype(np.int64).sum(axis=2)
            cos = (dots / FX_SCALE) / (den[:, None] * q_den[None, :])
            qs_out, ns_out, cs_out = [], [], []
            for qi in range(len(q_ids)):
                if exclude_self:
                    mask = ids != q_ids[qi]  # exclude self-match
                    c_ids, c_cos = ids[mask], cos[mask, qi]
                else:  # cell probing: a query's own cell is a valid hit
                    c_ids, c_cos = ids, cos[:, qi]
                # top-k by (cosine desc, neighbor_id asc)
                order = np.lexsort((c_ids, -c_cos))[:k]
                qs_out.append(np.full(len(order), q_ids[qi], dtype=np.int64))
                ns_out.append(c_ids[order])
                cs_out.append(c_cos[order])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(np.concatenate(qs_out), dtype="int64"),
                    "neighbor_id": pd.Series(np.concatenate(ns_out), dtype="int64"),
                    "cosine": pd.Series(np.concatenate(cs_out), dtype="float64"),
                }
            )

    return cand.select(id_col, vec_col).mapInPandas(score, out_schema)


def ivf_probe_search_cached(
    assigned,
    centroids,
    queries,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "centroid_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "c_emb",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_emb",
):
    """IVF probe search over the CACHED assignment index.

    Driver side (tiny, exact): collect the centroid and query matrices
    once; rank all centroids per query with the fixed-point cosine and
    keep the top ``nprobe`` probe cells (ties by centroid id ascending,
    matching the SQL oracle's ROW_NUMBER order).

    The per-vector nearest-centroid assignment is read from the
    session-cached index (``assigned``: id, cell, vector, built by
    :func:`ivf_assign`) instead of recomputed per invocation. The cell
    filter is a JVM ``isin`` over the cached blocks, so only probed
    cells' members cross the Arrow boundary at all: per query invocation
    the scored row count is nprobe * N / n_cells, the true IVF work
    shape at any corpus size. Each task emits its local top-k per query;
    the caller finishes with a global window over the survivors.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    cent_rows = _driver_rows(centroids, centroid_id_col, centroid_vec_col)
    c_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    c_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    order = np.argsort(c_ids, kind="stable")
    c_ids, c_mat = c_ids[order], c_mat[order]
    c_n2 = np.floor(c_mat * c_mat * FX_SCALE).astype(np.int64).sum(axis=1)
    c_den = np.sqrt(c_n2 / FX_SCALE)

    q_rows = _driver_rows(queries, query_id_col, query_vec_col)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_n2 = np.floor(q_mat * q_mat * FX_SCALE).astype(np.int64).sum(axis=1)
    q_den = np.sqrt(q_n2 / FX_SCALE)

    prods = q_mat[:, None, :] * c_mat[None, :, :]
    dots = np.floor(prods * FX_SCALE).astype(np.int64).sum(axis=2)
    qc_cos = (dots / FX_SCALE) / (q_den[:, None] * c_den[None, :])
    probed_by: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        top = np.lexsort((np.arange(len(c_ids)), -qc_cos[qi]))[:nprobe]
        for ci in top:
            probed_by.setdefault(int(c_ids[ci]), []).append(qi)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cell = pdf[cell_col].to_numpy()
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n2 = np.floor(mat * mat * FX_SCALE).astype(np.int64).sum(axis=1)
            den = np.sqrt(n2 / FX_SCALE)
            qs_out, ns_out, cs_out = [], [], []
            for qi in range(len(q_ids)):
                probe_cells = [c for c, qs in probed_by.items() if qi in qs]
                mask = np.isin(cell, probe_cells) & (ids != q_ids[qi])
                if not mask.any():
                    continue
                c_ids_m, c_vecs = ids[mask], mat[mask]
                c_dens = den[mask]
                d = np.floor(c_vecs * q_mat[qi] * FX_SCALE).astype(np.int64).sum(axis=1)
                cos = (d / FX_SCALE) / (c_dens * q_den[qi])
                top = np.lexsort((c_ids_m, -cos))[:k]
                qs_out.append(np.full(len(top), q_ids[qi], dtype=np.int64))
                ns_out.append(c_ids_m[top])
                cs_out.append(cos[top])
            if not qs_out:
                continue
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(np.concatenate(qs_out), dtype="int64"),
                    "neighbor_id": pd.Series(np.concatenate(ns_out), dtype="int64"),
                    "cosine": pd.Series(np.concatenate(cs_out), dtype="float64"),
                }
            )

    from pyspark.sql import functions as F

    cand = assigned.filter(
        F.col(cell_col).isin(*[int(c) for c in probed_by])
    ).select(id_col, cell_col, vec_col)
    return cand.mapInPandas(score, out_schema)


def blocked_neardup(
    emb,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
):
    """All same-block pairs with fixed-point cosine >= threshold, via
    ``applyInPandas`` over the blocking column.

    Why this shape: a pair-join ships every vector across the Arrow
    boundary once PER PAIR (O(B^2 * d) bytes per block); grouping by
    block ships each vector ONCE (O(B * d)) and forms the pair matrix
    in numpy. Same fixed-point arithmetic as the SQL oracle:
    dot = sum_k floor(a_k * b_k * 1e12), cos = (dot/1e12) /
    (sqrt(n2a/1e12) * sqrt(n2b/1e12)) — identical IEEE ops, so results
    are bit-equal to the pair-join formulation.

    Scale: one shuffle on the block key; block size bounds the O(B^2)
    pair work per task (AQE skew-split handles oversized blocks).
    Chunked over rows so peak memory is O(chunk * B * d).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    block_field = emb.schema[block_col]
    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField(block_col, block_field.dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def pairs_in_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        n2 = np.floor(mat * mat * FX_SCALE).astype(np.int64).sum(axis=1)
        denom = np.sqrt(n2 / FX_SCALE)  # sqrt(n2/1e12), per vector
        block_val = pdf[block_col].iloc[0]
        out_a, out_b, out_cos = [], [], []
        n = len(ids)
        chunk = max(1, (1 << 22) // max(1, n * mat.shape[1]))  # ~32MB f64
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            prods = mat[lo:hi, None, :] * mat[None, :, :]
            dots = np.floor(prods * FX_SCALE).astype(np.int64).sum(axis=2)
            cos = (dots / FX_SCALE) / (denom[lo:hi, None] * denom[None, :])
            keep = (ids[lo:hi, None] < ids[None, :]) & (cos >= threshold)
            ii, jj = np.nonzero(keep)
            out_a.append(ids[lo:hi][ii])
            out_b.append(ids[jj])
            out_cos.append(cos[ii, jj])
        a = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
        b = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
        c = np.concatenate(out_cos) if out_cos else np.array([], dtype=np.float64)
        return pd.DataFrame(
            {
                "vec_a": pd.Series(a, dtype="int64"),
                "vec_b": pd.Series(b, dtype="int64"),
                block_col: pd.Series([block_val] * len(a)),
                "cosine": pd.Series(c, dtype="float64"),
            }
        )

    return emb.select(id_col, block_col, vec_col).groupBy(block_col).applyInPandas(
        pairs_in_block, out_schema
    )


# DuckDB oracle fragment (kept adjacent to the Spark implementations).
def sql_fx_sum(expr: str) -> str:
    """DuckDB sum of floor(expr * 1e12) BIGINTs over a per-row product
    expression: the fixed-point fold the kernels above compute."""
    return f"CAST(SUM(CAST(FLOOR(({expr}) * 1e12) AS BIGINT)) AS BIGINT)"
