"""Time-chunked table layout: partition pruning, ordered files, compaction.

The reference is a tick-ingest engine; at 100 TB the storage layout is
what makes its query half viable. Three facts drive this module:

1. **Almost every tick query carries a time predicate.** A layout that
   maps time ranges to directories (chunk partitioning) lets the scan
   skip whole directories at PLANNING time (partition pruning), and
   sorting rows by timestamp WITHIN each file gives tight per-row-group
   min/max stats so the parquet reader skips row groups at RUNTIME —
   the hypertable-chunk pattern re-expressed as vanilla Spark
   partitioned parquet (no table format required).

2. **Chunk layout is metadata, not convention.** The chunk width,
   timestamp column and data schema are recorded in a sidecar manifest
   at write time; readers derive the pruning predicate from the manifest
   instead of callers re-supplying (and mis-supplying) them, and scan
   with the declared schema instead of running Spark's schema-inference
   job on every read. Appends must match that schema.

3. **Streaming ingest produces small files forever.** Each micro-batch
   commit (a ``foreachBatch`` call of :func:`append_time_layout` with
   its batch id) lands new files in every chunk it reaches; a month of
   that is millions of tiny files and a scheduler-bound scan.
   Compaction is therefore a first-class maintenance operator, not an
   afterthought: it appends each chunk's rows into a scratch directory
   through the same writer as an append, ~target-size and sorted, and
   swaps the result in atomically per chunk, so readers never see a
   half-compacted chunk.
   Every write has one Spark path (:func:`_chunked_writer`, the only
   place the chunk column and the sort order are built) and, for small
   time-layout inputs that :func:`_driver_rows` admits, one driver path
   (:func:`_write_chunk_files`, pyarrow, no Spark job).

At cluster scale the same code runs with two changes the docstrings
note inline: the atomic directory swap becomes the table format's
commit (Iceberg/Delta snapshot), and chunks compact as independent
parallel jobs instead of a driver loop.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_rust_timeseries_db_spark import session_cache
from open_rust_timeseries_db_spark.session import scratch_path

_MANIFEST = "_time_layout.json"
_CHUNK_COL = "chunk_us"
_COMMITTED = "committed_ingest_id"  # highest ingest_id compacted or dropped

DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000

# A set of parquet files (an appended plain file scan, or a compacted
# time-layout chunk) below this many bytes is rewritten on the driver
# (pyarrow sort + write, no Spark job). Decoded and sorted, 64 MB of
# snappy parquet stays a few hundred MB of driver memory, well inside a
# 2 GB driver; larger inputs keep the Spark job.
_DRIVER_MAX_BYTES = 64 << 20


def _nullable_schema(df: DataFrame) -> T.StructType:
    """``df``'s schema as Spark reads it back from parquet files: every
    field nullable, recursively (the JVM's ``StructType.asNullable``)."""
    return T.StructType.fromJson(
        json.loads(df._jdf.schema().asNullable().json())
    )


def _write_manifest(path: str, manifest: dict) -> None:
    """Write the sidecar manifest atomically: a hidden temp file renamed
    over the old one, so a reader never sees a partial manifest."""
    tmp = os.path.join(path, f".{_MANIFEST}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _chunked_writer(
    df: DataFrame, man: dict, n_range_partitions: int | None
) -> DataFrameWriter:
    """The Spark writer of ``df`` laid out as the manifest ``man`` says;
    the caller picks the mode and the directory.

    Adds the ``chunk_us`` column (the timestamp floored to the chunk
    width), range-partitions into ``n_range_partitions`` (default: the
    session's shuffle partitioning) and sorts within each partition by
    (chunk, ts) — or, for a Z-ordered layout, by (chunk, Morton key) on
    the manifest's recorded grid — then partitions the output by chunk.
    """
    ts_col, order = man["ts_col"], man.get("order")
    chunk = F.col(ts_col) - F.pmod(F.col(ts_col), F.lit(man["chunk_us"]))
    out = df.withColumn(_CHUNK_COL, chunk.cast("long"))
    keys = [_CHUNK_COL, ts_col]
    if order:
        cols = [F.col(c) for c in order["cols"]]
        bounds = [tuple(b) for b in order["bounds"]]
        out = out.withColumn("__z", zorder_key(cols, bounds, order["bits"]))
        keys = [_CHUNK_COL, "__z"]
    n = n_range_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    out = out.repartitionByRange(n, *keys).sortWithinPartitions(*keys)
    if order:
        out = out.drop("__z")
    return out.write.partitionBy(_CHUNK_COL)


def write_time_layout(
    df: DataFrame,
    path: str,
    ts_col: str,
    chunk_us: int = DAY_US,
    n_range_partitions: int | None = None,
) -> None:
    """Write ``df`` as a time-chunked, timestamp-sorted parquet table.

    Rows land under ``path/chunk_us=<floor(ts/chunk)*chunk>/`` and are
    range-repartitioned + sorted by (chunk, ts) first, so each output
    file covers a tight, non-overlapping timestamp span — the property
    that makes parquet min/max row-group skipping effective. ``ts_col``
    must be an epoch-microsecond long (the engine's canonical encoding,
    queries/helpers.events_us).

    ``n_range_partitions`` bounds output parallelism (and, with
    chunking, the files-per-chunk); defaults to the session's shuffle
    partitioning. At 100 TB you size it as bytes / target-file-size
    exactly like shuffle partitions, and the range exchange samples
    keys, so skewed days spread across many partitions instead of one.
    """
    schema = _nullable_schema(df).jsonValue()
    manifest = {"ts_col": ts_col, "chunk_us": chunk_us, "version": 1, "schema": schema}
    writer = _chunked_writer(df, manifest, n_range_partitions)
    writer.mode("overwrite").parquet(path)
    _write_manifest(path, manifest)


def _events_copy(
    spark: SparkSession, sf_dir: str, variant: str, chunk_us: int, write
) -> str:
    """Path of the session's ``variant`` copy of ``events``, written once
    per (application, sf_dir, variant, chunk_us) by
    ``write(ev, path, ts_col="ts_us", chunk_us=chunk_us)``.

    Carries the canonical tick projection (event_id, user_id, ts_us,
    value). In a deployment this is the table's PRIMARY layout written
    at ingest, not a per-session copy; the builder exists so the bench's
    cache-build phase charges the one-time write to its own line
    (queries/cache_builds.py). Written under the session's scratch root
    (``session.scratch_path``), so it is removed when the session stops.
    """
    from open_rust_timeseries_db_spark.queries.helpers import events_us

    def build() -> str:
        path = scratch_path(spark, f"{variant}-{uuid.uuid4().hex[:10]}")
        ev = events_us(spark, sf_dir).select(
            "event_id", "user_id", "ts_us", "value"
        )
        write(ev, path, ts_col="ts_us", chunk_us=chunk_us)
        return path

    return session_cache.memo(
        spark, os.path.abspath(sf_dir), session_cache.LAYOUT, variant,
        chunk_us, build=build,
    )


def events_layout_ckpt(
    spark: SparkSession, sf_dir: str, chunk_us: int = DAY_US
) -> str:
    """Path of the session's time-chunked copy of ``events``."""
    return _events_copy(spark, sf_dir, "layout", chunk_us, write_time_layout)


def zorder_key(
    cols: list, bounds: list[tuple[float, float]], bits: int = 16
):
    """Morton (Z-order) key over normalized columns — bit-interleaved.

    Each column is scaled to a ``bits``-bit integer over its [lo, hi]
    bounds (monotone double arithmetic, same contract as
    operators/percentiles.selection_bin: consistency and monotonicity
    are all ordering needs, exact values never flow through the key),
    then the quantized coordinates interleave bit-by-bit: sorting by
    the result clusters rows that are close in EVERY dimension, so
    per-file min/max stats become selective for predicates on any of
    the columns — Delta/Iceberg's OPTIMIZE ZORDER, as plain Spark
    expressions. 2 dims x 16 bits = a 32-bit key; whole-stage codegen
    folds the ~64 shift/mask terms into straight-line JVM code.
    """
    quantized = []
    top = (1 << bits) - 1
    for c, (lo, hi) in zip(cols, bounds):
        span = float(hi) - float(lo)
        if span <= 0:
            quantized.append(F.lit(0).cast("long"))
            continue
        q = F.floor(
            (c.cast("double") - F.lit(float(lo)))
            / F.lit(span)
            * F.lit(float(top))
        ).cast("long")
        quantized.append(
            F.least(F.greatest(q, F.lit(0)), F.lit(top))
        )
    ndim = len(quantized)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, q in enumerate(quantized):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * ndim + d))
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    ts_col: str,
    key_col: str,
    chunk_us: int = DAY_US,
    bits: int = 16,
    n_range_partitions: int | None = None,
) -> None:
    """Write ``df`` time-chunked with Z-ORDERED files inside each chunk.

    Same directory scheme as :func:`write_time_layout` (``chunk_us=``
    partitions, manifest sidecar, interval reads via
    :func:`read_time_range` unchanged), but files within a chunk are
    range-split and sorted by the Morton key over (ts_col, key_col)
    instead of by timestamp alone. Trade: a pure time window prunes
    slightly less tightly inside a chunk (directory pruning is
    untouched), while 2-D predicates — the symbol + time-window shape
    that dominates tick workloads — prune files on BOTH columns
    (tests/test_layout.py measures the file-stat overlap both ways).

    The column bounds feed the key's quantization; they are computed
    in one aggregation at write time (this is an ingest-time job) and
    recorded in the manifest so appends/compaction can reuse the same
    quantization grid.
    """
    lo_ts, hi_ts, lo_k, hi_k = df.agg(
        F.min(ts_col), F.max(ts_col), F.min(key_col), F.max(key_col)
    ).first()
    if lo_ts is None:
        # Empty input (or all-null ts): no bounds to quantize against.
        # Fail loudly — an empty layout write is almost always a bug in
        # the caller's filter, and zorder_key would otherwise crash on
        # float(None) with a baffling TypeError.
        raise ValueError(
            f"write_zorder_layout: input has no non-null {ts_col!r} rows; "
            "refusing to write an empty layout"
        )
    manifest = {
        "ts_col": ts_col,
        "chunk_us": chunk_us,
        "order": {
            "type": "zorder",
            "cols": [ts_col, key_col],
            "bits": bits,
            "bounds": [[lo_ts, hi_ts], [lo_k, hi_k]],
        },
        "version": 2,
        "schema": _nullable_schema(df).jsonValue(),
    }
    writer = _chunked_writer(df, manifest, n_range_partitions)
    writer.mode("overwrite").parquet(path)
    _write_manifest(path, manifest)


def events_zorder_ckpt(
    spark: SparkSession, sf_dir: str, chunk_us: int = DAY_US
) -> str:
    """Path of the session's Z-ORDERED chunked copy of ``events``
    (interleaved ts_us x user_id) — the layout the symbol+time 2-D
    scan (q_zorder_scan) reads."""
    write = functools.partial(write_zorder_layout, key_col="user_id")
    return _events_copy(spark, sf_dir, "zorder", chunk_us, write)


def events_append_layout_ckpt(
    spark: SparkSession, sf_dir: str, chunk_us: int = DAY_US
) -> str:
    """Path of a chunked events copy built by APPENDS + COMPACTION —
    the ingest lifecycle, not a one-shot write.

    Three interleaved slices (event_id mod 3, so every append lands
    files into EXISTING chunk directories — the stressing case) go in
    as write + two appends, then :func:`compact_chunks` folds each
    chunk's accumulated files back into sorted target-size files. The
    oracle-checked q_append_window_scan reads this layout, proving the
    whole cycle lossless.
    """

    def write(ev: DataFrame, path: str, **layout) -> None:
        write_time_layout(ev.filter(F.col("event_id") % 3 == 0), path, **layout)
        for r in (1, 2):
            append_time_layout(ev.filter(F.col("event_id") % 3 == r), path)
        compact_chunks(path=path, spark=spark, target_file_bytes=8 << 20)

    return _events_copy(spark, sf_dir, "append", chunk_us, write)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, _MANIFEST)) as f:
        return json.load(f)


def _declared_schema(man: dict) -> T.StructType:
    """The data schema the manifest declares (no chunk column)."""
    return T.StructType.fromJson(man["schema"])


def _chunk_dirs(path: str):
    """``(name, chunk)`` for each chunk directory under ``path``, sorted
    by name. ``chunk`` is the directory's first timestamp, or None for
    the null-ts chunk (``chunk_us=__HIVE_DEFAULT_PARTITION__``, written
    by a Spark-path append of rows with a null timestamp), which no time
    bound prunes or expires."""
    prefix = f"{_CHUNK_COL}="
    for entry in sorted(os.listdir(path)):
        if entry.startswith(prefix):
            value = entry[len(prefix):]
            yield entry, int(value) if value.lstrip("-").isdigit() else None


def _data_files(directory: str):
    """The data files of one chunk directory, as ``os.DirEntry``s: the
    ``.parquet`` files Spark lists (no ``.``/``_``-prefixed names)."""
    with os.scandir(directory) as it:
        for e in it:
            if e.name.endswith(".parquet") and not e.name.startswith((".", "_")):
                yield e


def _scan_files(df: DataFrame) -> list[str] | None:
    """The local parquet files of ``df`` when it is a plain file scan
    (its optimized plan is a single leaf), else None."""
    if df._jdf.queryExecution().optimizedPlan().children().size():
        return None
    urls = [urlparse(f) for f in df.inputFiles()]
    if any(u.scheme != "file" or not u.path.endswith(".parquet") for u in urls):
        return None
    return [unquote(u.path) for u in urls]


def _driver_rows(paths: list[str] | None, man: dict, schema: T.StructType):
    """The rows of the parquet files at ``paths`` as one Arrow table with
    the Arrow types ``schema`` maps to, or None when a Spark job must
    rewrite them: the one driver/Spark gate of appends and compaction.

    The driver takes them only into a time layout (no ``order`` in the
    manifest), when they total under ``_DRIVER_MAX_BYTES`` and decode
    exactly: every file holds every column of ``schema`` at its types
    (a partition column lives in directory names instead), and the
    manifest's ``ts_col`` is a null-free integer column.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if (
        not paths
        or man.get("order")
        or sum(os.path.getsize(p) for p in paths) >= _DRIVER_MAX_BYTES
    ):
        return None
    want = to_arrow_schema(schema)
    parts = []
    for p in paths:
        part = pq.read_table(p)
        if not set(want.names) <= set(part.column_names):
            return None
        part = part.select(want.names)
        if part.schema.types != want.types:
            return None
        parts.append(part.cast(want))
    rows = pa.concat_tables(parts)
    ts = rows.column(man["ts_col"])
    if not pa.types.is_integer(ts.type) or ts.null_count:
        return None
    return rows


def _write_chunk_files(
    rows, man: dict, schema: T.StructType, directory: str, n_slices: int = 1
) -> None:
    """Write the Arrow ``rows`` into ``directory`` as :func:`_chunked_writer`
    would: stably sorted by ts, cut at chunk boundaries into
    ``chunk_us=<chunk>/`` directories, each chunk as ``n_slices``
    contiguous slices (fewer when it has fewer rows), one file per
    slice committed by rename (``sources/io.write_arrow_parquet``, with
    ``schema`` in its footer)."""
    import numpy as np

    from open_rust_timeseries_db_spark.sources.io import write_arrow_parquet

    os.makedirs(directory, exist_ok=True)
    ts = rows.column(man["ts_col"]).to_numpy().astype(np.int64, copy=False)
    order = np.argsort(ts, kind="stable")
    rows, ts = rows.take(order), ts[order]
    # np.mod is a floor modulo: the same chunk as Spark's pmod. The chunk
    # is nondecreasing in ts, so each chunk is one run of the sorted rows.
    chunks, starts = np.unique(ts - np.mod(ts, man["chunk_us"]), return_index=True)
    ends = [*starts[1:].tolist(), len(ts)]
    for chunk, lo, hi in zip(chunks.tolist(), starts.tolist(), ends):
        n = min(n_slices, hi - lo)
        cuts = [lo + (hi - lo) * i // n for i in range(n + 1)]
        for a, b in zip(cuts, cuts[1:]):
            write_arrow_parquet(
                rows.slice(a, b - a),
                os.path.join(directory, f"{_CHUNK_COL}={chunk}"),
                schema,
            )


def append_time_layout(
    df: DataFrame,
    path: str,
    n_range_partitions: int | None = None,
    ingest_id: int | None = None,
) -> None:
    """Append rows into an EXISTING layout, reusing its manifest.

    The write derives everything from the manifest the original write
    recorded: the chunk width and timestamp column always, and — for
    Z-ordered layouts — the quantization bounds, so appended files sort
    on the SAME Morton grid as the originals (rows outside the original
    bounds clamp to the grid edge: still monotone, still prunable,
    exactly the contract zorder_key documents). New chunk directories
    appear as needed; existing chunks gain files, which is what
    :func:`compact_chunks` exists to fold back in.

    ``ingest_id`` (streaming) is the stream's monotonic batch id: call
    ``append_time_layout(batch_df, path, ingest_id=batch_id)`` from
    ``foreachBatch``. A replayed id must carry the same rows. The batch
    stages to a scratch directory; only after the whole write succeeds
    does each chunk lose its files of that id and gain the staged ones,
    renamed ``ingest-<id>-<seq>.parquet``. A micro-batch REPLAYED after
    a crash thus replaces its own (possibly partial) output instead of
    adding a copy, and a crash mid-replay keeps the committed one: the
    engine's one exactly-once-per-batch-id sink. The id lives in file
    names because partition discovery needs every data file at one
    depth; the rename is the local-FS stand-in for a table format's
    snapshot commit. :func:`compact_chunks` renames those files away and
    :func:`drop_chunks_before` deletes them, so both record the highest
    id they remove in the manifest (``committed_ingest_id``), and an
    append of an id at or below it is a no-op. A batch a crash left
    partial must be replayed before the next compaction or retention,
    as a restarted stream does. Batch appends (``None``) write plain
    files straight into the chunk directories.

    **Driver path.** When ``df`` is a plain scan of local parquet files
    (``spark.read.parquet(...)``, nothing on top), its files go through
    the one driver gate, :func:`_driver_rows`, which compaction uses
    too: a time layout, under ``_DRIVER_MAX_BYTES`` in total, an exact
    decode with no null timestamps. Admitted rows are written by the
    one driver writer, :func:`_write_chunk_files`, as one ts-sorted file
    per chunk: no Spark job. Every other input (filtered or derived
    frames, Z-order layouts, null timestamps, large inputs) is written
    by :func:`_chunked_writer` as a Spark job. Only the "write
    partitioned files into a directory" step differs; the ``ingest_id``
    staging and swap below are the same for both paths.

    Raises ``ValueError`` when ``df``'s column names or types differ from
    the schema the manifest declares (nullability aside): readers scan
    with that schema, so a mismatched file would read wrong or fail.
    """
    man = read_manifest(path)
    if ingest_id is not None and ingest_id <= man.get(_COMMITTED, -1):
        return  # a replay of a batch that maintenance already removed
    declared = _declared_schema(man)
    want = {f.name: f.dataType for f in declared}
    got = {f.name: f.dataType for f in _nullable_schema(df)}
    if got != want:
        raise ValueError(
            f"append_time_layout: frame schema {df.schema.simpleString()}"
            f" differs from the layout's {declared.simpleString()}"
        )
    rows = _driver_rows(_scan_files(df), man, df.schema)
    if rows is not None:
        write = functools.partial(_write_chunk_files, rows, man, df.schema)
    else:
        write = _chunked_writer(df, man, n_range_partitions).mode("append").parquet
    if ingest_id is None:
        write(path)
        return
    prefix = f"ingest-{int(ingest_id)}-"
    # Stage first, swap after: a crash mid-staging leaves the committed
    # batch intact (the same discipline as compact_chunks).
    scratch = os.path.join(path, f".ingest-{uuid.uuid4().hex[:8]}")
    try:
        write(scratch)  # a fresh directory: append writes it whole
        staged = {
            entry: sorted(f.name for f in _data_files(os.path.join(scratch, entry)))
            for entry, _ in _chunk_dirs(scratch)
        }
        # Per chunk: delete its files of this batch id, then move the
        # staged ones in. A chunk the batch does not reach holds such
        # files only if an id was reused with other rows, which the
        # contract forbids; deleting them converges to replace
        # semantics. The unprotected window is one chunk wide (a reader
        # can see one chunk's slice of the batch missing mid-swap): the
        # local-FS seam a table format's snapshot commit closes.
        for entry in sorted(staged.keys() | {e for e, _ in _chunk_dirs(path)}):
            dst_dir = os.path.join(path, entry)
            os.makedirs(dst_dir, exist_ok=True)
            for fname in os.listdir(dst_dir):
                if fname.startswith(prefix):
                    os.remove(os.path.join(dst_dir, fname))
            for seq, fname in enumerate(staged.get(entry, [])):
                os.rename(
                    os.path.join(scratch, entry, fname),
                    os.path.join(dst_dir, f"{prefix}{seq}.parquet"),
                )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def read_layout(spark: SparkSession, path: str) -> DataFrame:
    """The whole layout at ``path`` as a Spark scan, ``chunk_us``
    partition column included, read with the manifest's declared schema
    so no schema-inference job runs."""
    schema = _declared_schema(read_manifest(path))
    chunk = T.StructField(_CHUNK_COL, T.LongType())
    return spark.read.schema(T.StructType([*schema.fields, chunk])).parquet(path)


def _scan_is_small(
    spark: SparkSession, path: str, lo_chunk: int | None, hi_chunk: int | None
) -> bool:
    """Whether the data files of the chunks in [lo_chunk, hi_chunk]
    (and of the null-ts chunk) total at most
    ``spark.sql.files.openCostInBytes``: Spark's own cost of opening
    one file. Stops listing once the total passes it."""
    budget = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    total = 0
    for entry, chunk in _chunk_dirs(path):
        if chunk is not None and (
            (lo_chunk is not None and chunk < lo_chunk)
            or (hi_chunk is not None and chunk > hi_chunk)
        ):
            continue
        for f in _data_files(os.path.join(path, entry)):
            total += f.stat().st_size
            if total > budget:
                return False
    return True


def read_time_range(
    spark: SparkSession,
    path: str,
    lo_us: int | None = None,
    hi_us: int | None = None,
) -> DataFrame:
    """Scan a time-chunked table for ``lo_us <= ts < hi_us``.

    Two pruning tiers, both derived from the manifest so callers state
    only the interval:

    - a predicate on the CHUNK partition column — Catalyst prunes
      non-overlapping ``chunk_us=`` directories at planning time
      (PartitionFilters in the scan node), so the file listing itself
      shrinks: the property that keeps a 10-year tick archive queryable
      for a one-day window;
    - the row-level ``ts`` predicate — pushed to the parquet reader
      (PushedFilters), skipping row groups via min/max, which the
      sorted write above made tight.

    The scan uses the manifest's declared schema (:func:`read_layout`),
    so it runs no schema-inference job, and a layout whose chunks were
    all dropped reads as zero rows with the layout's columns. When the
    data files of the chunks the window keeps total at most
    ``spark.sql.files.openCostInBytes`` — by Spark's cost model, about
    the cost of opening one file — the scan is coalesced to one
    partition: an aggregate, window or join above it then plans no
    Exchange, and the whole query is one job with one task, where a
    shuffle across cores could not pay for itself.

    Returns the full row set of the interval with the chunk column
    dropped (layout detail, not data).
    """
    man = read_manifest(path)
    ts_col, chunk_us = man["ts_col"], man["chunk_us"]
    df = read_layout(spark, path)
    lo_chunk = hi_chunk = None
    if lo_us is not None:
        lo_chunk = (lo_us // chunk_us) * chunk_us
        df = df.filter(
            (F.col(_CHUNK_COL) >= lo_chunk) & (F.col(ts_col) >= lo_us)
        )
    if hi_us is not None:
        hi_chunk = ((hi_us - 1) // chunk_us) * chunk_us
        df = df.filter(
            (F.col(_CHUNK_COL) <= hi_chunk) & (F.col(ts_col) < hi_us)
        )
    if _scan_is_small(spark, path, lo_chunk, hi_chunk):
        df = df.coalesce(1)
    return df.drop(_CHUNK_COL)


def chunk_file_stats(path: str) -> dict[str, dict]:
    """Per-chunk file census: {chunk_dir: {n_files, bytes}}.

    Driver-side directory listing — at cluster scale this is a
    metastore/manifest query, but the quantity measured (files per
    chunk, bytes per file) is the same one compaction triggers on.
    """
    stats: dict[str, dict] = {}
    for entry, _ in _chunk_dirs(path):
        files = list(_data_files(os.path.join(path, entry)))
        stats[entry] = {
            "n_files": len(files),
            "bytes": sum(f.stat().st_size for f in files),
        }
    return stats


def _commit_ingest_ids(path: str, man: dict, entries: list[str]) -> None:
    """Raise the manifest's ``committed_ingest_id`` to the highest
    ``ingest-<id>-`` file in the chunk directories ``entries``, before
    maintenance removes or renames those files (see
    :func:`append_time_layout`)."""
    ids = [
        int(f.name.split("-")[1])
        for entry in entries
        for f in _data_files(os.path.join(path, entry))
        if f.name.startswith("ingest-")
    ]
    if max(ids, default=-1) > man.get(_COMMITTED, -1):
        _write_manifest(path, {**man, _COMMITTED: max(ids)})


def drop_chunks_before(path: str, cutoff_us: int) -> list[str]:
    """Retention: delete every chunk strictly OLDER than ``cutoff_us``.

    A chunk directory covers [chunk, chunk + chunk_us); it is dropped
    only when that whole interval precedes the cutoff — rows at or
    past the cutoff are never touched, so retention is always
    conservative (a partially-expired chunk survives until its last
    row ages out). The null-ts chunk has no interval and is never
    dropped. This is the hypertable `drop_chunks` pattern: data
    expiry as O(#chunks) directory deletes, never a rewrite — the only
    affordable way to expire data from a 100 TB archive. The layout
    geometry in the manifest survives an empty table; only its
    ``committed_ingest_id`` rises to the highest batch id among the
    dropped files, so a replay of such a batch is a no-op instead of
    bringing its expired rows back. Returns the chunk dirs removed.
    """
    man = read_manifest(path)
    chunk_us = man["chunk_us"]
    dropped = [
        entry
        for entry, chunk in _chunk_dirs(path)
        if chunk is not None and chunk + chunk_us <= cutoff_us
    ]
    _commit_ingest_ids(path, man, dropped)
    for entry in dropped:
        shutil.rmtree(os.path.join(path, entry))
    return dropped


def compact_chunks(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    min_files_to_compact: int = 2,
) -> dict[str, tuple[int, int]]:
    """Rewrite each chunk's small files into ~target-size sorted files.

    For every chunk directory holding ``min_files_to_compact`` or more
    files AND averaging under the target size, the chunk's rows are
    appended into a fresh scratch directory by the same writer an
    append uses, range-split into ``ceil(bytes / target)`` files and
    re-sorted in the manifest's order (restoring the ordered-file
    property that interleaved streaming commits destroyed). The
    scratch's ``chunk_us=<chunk>`` directory then replaces the chunk
    with two ``os.rename`` calls — readers race against an atomic swap,
    never a partial directory. The swap refuses (raising, the chunk
    untouched) when the scratch holds any other directory: rows whose
    timestamps place them in another chunk. At cluster scale this
    per-chunk commit is exactly what a table format's snapshot swap
    provides; chunks are independent, so a real deployment fans the
    loop out as one job per chunk.

    Returns {chunk_dir: (files_before, files_after)} for the chunks
    rewritten, counting data files as :func:`chunk_file_stats` does.
    The manifest's ``committed_ingest_id`` rises to the highest
    ``ingest-<id>-`` file rewritten (see :func:`append_time_layout`).

    **Driver path.** The chunk's files go through the one driver gate,
    :func:`_driver_rows`, with the manifest's declared schema: a time
    layout, under ``_DRIVER_MAX_BYTES``, an exact decode with no null
    timestamps. Admitted rows are written by the one driver writer,
    :func:`_write_chunk_files`, as ``ceil(bytes / target)`` contiguous
    ts-sorted slices with Spark's schema in each footer: no Spark job.
    Z-order layouts, the null-ts chunk, large chunks and files of other
    types are written by :func:`_chunked_writer` as a Spark job. Only
    the write into scratch differs; the swap is the same.

    Chunks are independent, so their rewrite jobs run CONCURRENTLY from
    a small driver thread pool (guide-standard overlap of independent
    jobs): each chunk is still its own read → range-sort → write →
    atomic swap, but the next chunk's tasks back-fill executors freed
    by the current chunk's tail instead of waiting out a full
    job-per-chunk serial loop (measured on the 30-chunk sf0.1 append
    layout: 19-21 s serial → ~4 s at 8 in flight; per-chunk results and
    the swap protocol are unchanged). At cluster scale this is exactly
    the "one job per chunk, fanned out" deployment the serial loop was
    documented as standing in for.
    """
    man = read_manifest(path)
    schema = _declared_schema(man)

    def compact_one(entry: str, st: dict) -> tuple[str, tuple[int, int]]:
        full = os.path.join(path, entry)
        n_out = max(1, math.ceil(st["bytes"] / target_file_bytes))
        scratch = os.path.join(path, f".compact-{uuid.uuid4().hex[:8]}")
        try:
            rows = _driver_rows([f.path for f in _data_files(full)], man, schema)
            if rows is not None:
                _write_chunk_files(rows, man, schema, scratch, n_out)
            else:
                scan = spark.read.schema(schema).parquet(full)
                writer = _chunked_writer(scan, man, n_out)
                writer.mode("append").parquet(scratch)
            others = [e for e, _ in _chunk_dirs(scratch) if e != entry]
            if others:
                raise RuntimeError(
                    f"compact_chunks: rows of {entry} belong to {others}; "
                    "the chunk is left as it was"
                )
            staged = os.path.join(scratch, entry)
            os.makedirs(staged, exist_ok=True)  # a chunk of no rows: no file
            trash = os.path.join(path, f".trash-{uuid.uuid4().hex[:8]}")
            os.rename(full, trash)
            os.rename(staged, full)
            shutil.rmtree(trash, ignore_errors=True)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        return entry, (st["n_files"], sum(1 for _ in _data_files(full)))

    todo = [
        (entry, st)
        for entry, st in chunk_file_stats(path).items()
        if st["n_files"] >= min_files_to_compact
        and st["bytes"] / st["n_files"] < target_file_bytes
    ]
    if not todo:
        return {}
    # Record the batches about to be renamed away before renaming them:
    # their output is in the layout either way.
    _commit_ingest_ids(path, man, [entry for entry, _ in todo])
    done: dict[str, tuple[int, int]] = {}
    # FIFO scheduling back-fills naturally; 8 in flight is enough to
    # hide each job's scheduling floor without thrashing the scheduler.
    # Futures are drained individually (not pool.map) so one failed
    # chunk doesn't discard the results of chunks whose atomic swaps
    # already completed: the caller learns exactly which chunks were
    # rewritten via the exception's .partial attribute.
    from concurrent.futures import ThreadPoolExecutor, as_completed

    failures: list[BaseException] = []
    with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
        futures = [pool.submit(compact_one, *args) for args in todo]
        for fut in as_completed(futures):
            try:
                entry, result = fut.result()
            except BaseException as exc:  # noqa: BLE001 - re-raised below
                failures.append(exc)
            else:
                done[entry] = result
    if failures:
        err = failures[0]
        err.partial = dict(done)  # type: ignore[attr-defined]
        raise err
    return done
