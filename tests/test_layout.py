"""Time-chunked layout: pruning is PROVEN, compaction is atomic + lossless.

Every assertion here is about physical behavior, not intent: partition
pruning is checked by counting the files a filtered scan actually
touches (input_file_name at execution time) AND by the scan node's
PartitionFilters; compaction is checked for file-count reduction,
orderless content parity, and restored within-file timestamp order.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from open_rust_timeseries_db_spark.queries.helpers import events_us
from open_rust_timeseries_db_spark.sources.layout import (
    DAY_US,
    append_time_layout,
    chunk_file_stats,
    compact_chunks,
    drop_chunks_before,
    read_manifest,
    read_time_range,
    write_time_layout,
    write_zorder_layout,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def layout_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "events_chunked")
    ev = events_us(spark, SF_DIR).select("event_id", "user_id", "ts_us", "value")
    write_time_layout(ev, path, ts_col="ts_us", chunk_us=DAY_US)
    return path


def _touched_files(df) -> set[str]:
    return {
        r[0]
        for r in df.select(F.input_file_name()).distinct().collect()
    }


def test_manifest_records_layout(layout_path):
    man = read_manifest(layout_path)
    assert man["ts_col"] == "ts_us"
    assert man["chunk_us"] == DAY_US


def test_time_range_prunes_files_and_matches_full_scan(spark, layout_path):
    ev = events_us(spark, SF_DIR)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    assert hi - lo > 4 * DAY_US, "testdata must span several chunks"
    q_lo = lo + DAY_US
    q_hi = q_lo + DAY_US  # a one-chunk window inside the span

    pruned = read_time_range(spark, layout_path, q_lo, q_hi)
    full = spark.read.parquet(layout_path)

    # Execution-time proof: the filtered scan touches a strict subset
    # of the table's files (directory pruning really happened).
    touched = _touched_files(pruned)
    all_files = _touched_files(full)
    assert touched and touched < all_files

    # Planning-time proof: the chunk predicate landed in the scan's
    # PartitionFilters (pruned at listing, not post-scan).
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "chunk_us" in plan

    # And the pruned read is lossless for the interval.
    expect = sorted(
        full.filter((F.col("ts_us") >= q_lo) & (F.col("ts_us") < q_hi))
        .select("event_id")
        .toPandas()["event_id"]
        .tolist()
    )
    got = sorted(pruned.select("event_id").toPandas()["event_id"].tolist())
    assert got == expect and len(got) > 0


def test_open_interval_reads_everything(spark, layout_path):
    ev = events_us(spark, SF_DIR)
    assert read_time_range(spark, layout_path).count() == ev.count()


def test_files_are_timestamp_sorted(spark, layout_path):
    # Within every file the ts column is non-decreasing — the property
    # that makes parquet min/max row-group skipping tight.
    df = spark.read.parquet(layout_path).withColumn(
        "f", F.input_file_name()
    )
    inversions = (
        df.withColumn(
            "prev",
            F.lag("ts_us").over(
                Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
            ),
        )
        .filter(F.col("ts_us") < F.col("prev"))
        .count()
    )
    assert inversions == 0


class TestCompaction:
    @pytest.fixture(scope="class")
    def fragmented(self, spark, tmp_path_factory):
        """A chunked table whose chunks hold many tiny files — the
        shape streaming ingest produces (one file per state partition
        per micro-batch commit)."""
        path = str(tmp_path_factory.mktemp("compact") / "events_small_files")
        ev = events_us(spark, SF_DIR).select("event_id", "user_id", "ts_us", "value")
        # Round-robin repartition BEFORE the layout write is defeated
        # by write_time_layout's own range exchange, so fragment the
        # chunks directly: write the layout, then explode each chunk
        # into shuffled small files (interleaved commits).
        write_time_layout(ev, path, ts_col="ts_us", chunk_us=DAY_US)
        for entry in os.listdir(path):
            if not entry.startswith("chunk_us="):
                continue
            full = os.path.join(path, entry)
            part = spark.read.parquet(full).repartition(4)
            part.write.mode("overwrite").parquet(full + ".tmp")
            import shutil

            shutil.rmtree(full)
            os.rename(full + ".tmp", full)
        return path

    def test_compaction_reduces_files_atomically_and_losslessly(
        self, spark, fragmented
    ):
        before_rows = sorted(
            spark.read.parquet(fragmented).select("event_id").toPandas()["event_id"]
        )
        before = chunk_file_stats(fragmented)
        assert sum(st["n_files"] for st in before.values()) > len(before), (
            "fragmentation fixture produced no multi-file chunks"
        )

        done = compact_chunks(spark, fragmented, target_file_bytes=1 << 30)
        expect_compacted = {e for e, st in before.items() if st["n_files"] >= 2}
        assert set(done) == expect_compacted

        after = chunk_file_stats(fragmented)
        assert all(st["n_files"] == 1 for st in after.values())
        # No scratch/trash residue: the swap completed for every chunk.
        residue = [
            e
            for e in os.listdir(fragmented)
            if e.startswith((".compact-", ".trash-"))
        ]
        assert residue == []

        after_rows = sorted(
            spark.read.parquet(fragmented).select("event_id").toPandas()["event_id"]
        )
        assert after_rows == before_rows

    def test_compaction_restores_sorted_files(self, spark, fragmented):
        # After compaction each chunk file is ts-sorted again (the
        # fragmentation above shuffled rows round-robin).
        df = spark.read.parquet(fragmented).withColumn("f", F.input_file_name())
        inv = (
            df.withColumn(
                "prev",
                F.lag("ts_us").over(
                    Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
                ),
            )
            .filter(F.col("ts_us") < F.col("prev"))
            .count()
        )
        assert inv == 0

    def test_already_compact_chunks_are_left_alone(self, spark, fragmented):
        # Second pass: every chunk is now a single file, below
        # min_files_to_compact — nothing rewritten.
        assert compact_chunks(spark, fragmented, target_file_bytes=1 << 30) == {}


def test_dpp_join_prunes_at_runtime(spark):
    """q_chunk_dpp_join's scan carries a dynamicpruningexpression on
    the chunk column: the filtered calendar dim prunes chunk
    directories at RUNTIME via the reused broadcast, not post-scan."""
    from open_rust_timeseries_db_spark.queries import all_queries

    df = all_queries()["q_chunk_dpp_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert "PartitionFilters" in plan


class TestZorder:
    """Z-ordered chunks: lossless, and 2-D predicates prune files the
    ts-sorted layout must read — measured from the parquet footers
    themselves (file-level min/max overlap with the predicate box),
    not inferred from plan text."""

    @pytest.fixture(scope="class")
    def band(self, spark):
        # ~27%-wide symbol band placed mid-space, derived from the
        # tier's actual id range (sf0.001 has ~15 users, sf0.01 150).
        n = events_us(spark, SF_DIR).agg(F.max("user_id")).first()[0]
        return int(n * 0.27), int(n * 0.53)

    @pytest.fixture(scope="class")
    def both_layouts(self, spark, tmp_path_factory):
        from open_rust_timeseries_db_spark.sources.layout import (
            write_zorder_layout,
        )

        root = tmp_path_factory.mktemp("zorder")
        ev = events_us(spark, SF_DIR).select(
            "event_id", "user_id", "ts_us", "value"
        )
        sorted_path = str(root / "ts_sorted")
        z_path = str(root / "zordered")
        # Same file budget for both, several files per day chunk so
        # within-chunk clustering is measurable.
        write_time_layout(
            ev, sorted_path, ts_col="ts_us", n_range_partitions=96
        )
        write_zorder_layout(
            ev,
            z_path,
            ts_col="ts_us",
            key_col="user_id",
            n_range_partitions=96,
        )
        return sorted_path, z_path

    def _user_overlap_fraction(self, path: str, band) -> float:
        import pyarrow.parquet as pq

        lo, hi = band
        total = hits = 0
        for chunk_dir in sorted(os.listdir(path)):
            full = os.path.join(path, chunk_dir)
            if not chunk_dir.startswith("chunk_us=") or not os.path.isdir(full):
                continue
            for fname in os.listdir(full):
                if not fname.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(full, fname))
                idx = md.schema_arrow.get_field_index("user_id")
                fmin = min(
                    md.metadata.row_group(g).column(idx).statistics.min
                    for g in range(md.metadata.num_row_groups)
                )
                fmax = max(
                    md.metadata.row_group(g).column(idx).statistics.max
                    for g in range(md.metadata.num_row_groups)
                )
                total += 1
                if not (fmax < lo or fmin > hi):
                    hits += 1
        assert total > 30, f"too few files ({total}) to measure pruning"
        return hits / total

    def test_zorder_is_lossless(self, spark, both_layouts):
        _, z_path = both_layouts
        src = events_us(spark, SF_DIR).select(
            "event_id", "user_id", "ts_us", "value"
        )
        got = read_time_range(spark, z_path)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, src.collect())
        )

    def test_zorder_manifest_records_clustering(self, both_layouts):
        _, z_path = both_layouts
        man = read_manifest(z_path)
        assert man["order"]["type"] == "zorder"
        assert man["order"]["cols"] == ["ts_us", "user_id"]
        assert len(man["order"]["bounds"]) == 2

    def test_zorder_files_prune_the_symbol_band(self, both_layouts, band):
        sorted_path, z_path = both_layouts
        f_sorted = self._user_overlap_fraction(sorted_path, band)
        f_z = self._user_overlap_fraction(z_path, band)
        # ts-sorted files each span ~the whole symbol space: no file
        # can be skipped for a symbol predicate. Z-ordered files carry
        # tight symbol ranges: most files fall outside the band.
        assert f_sorted > 0.9, f_sorted
        assert f_z < 0.7, f_z
        assert f_z < f_sorted

    def test_zorder_scan_touches_fewer_files_at_runtime(
        self, spark, both_layouts, band
    ):
        lo, hi = band
        sorted_path, z_path = both_layouts

        def touched(path):
            df = read_time_range(spark, path).filter(
                F.col("user_id").between(lo, hi)
            )
            return len(_touched_files(df))

        assert touched(z_path) < touched(sorted_path)


def test_zorder_key_matches_python_morton(spark):
    """The Spark Morton expression must equal a bit-for-bit python
    reference over the full quantization corner set: bounds endpoints,
    mid-range values, and values that straddle quantization cells."""
    from open_rust_timeseries_db_spark.sources.layout import zorder_key

    bits = 8
    lo_x, hi_x = 100, 1_000_000
    lo_y, hi_y = -50, 49
    import itertools

    xs = [100, 101, 499_999, 999_999, 1_000_000]
    ys = [-50, -1, 0, 7, 49]
    rows = list(itertools.product(xs, ys))
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x",
            "y",
            zorder_key(
                [F.col("x"), F.col("y")],
                [(lo_x, hi_x), (lo_y, hi_y)],
                bits,
            ).alias("z"),
        ).collect()
    }

    top = (1 << bits) - 1

    def quant(v, lo, hi):
        q = int((float(v) - lo) / (hi - lo) * top)
        return max(0, min(top, q))

    def morton(qx, qy):
        z = 0
        for b in range(bits):
            z |= ((qx >> b) & 1) << (2 * b)
            z |= ((qy >> b) & 1) << (2 * b + 1)
        return z

    for x, y in rows:
        want = morton(quant(x, lo_x, hi_x), quant(y, lo_y, hi_y))
        assert got[(x, y)] == want, (x, y, got[(x, y)], want)


def test_zorder_write_rejects_empty_input(spark, tmp_path):
    """An empty (or all-null-ts) input has no bounds to quantize
    against: the write must fail with a clear ValueError, not a
    TypeError from float(None) deep in the key builder."""
    from open_rust_timeseries_db_spark.sources.layout import (
        write_zorder_layout,
    )

    empty = spark.createDataFrame([], "ts_us long, user_id long")
    with pytest.raises(ValueError, match="no non-null"):
        write_zorder_layout(
            empty, str(tmp_path / "z"), ts_col="ts_us", key_col="user_id"
        )


class TestAppendAndStreamingIngest:
    """The ingest lifecycle: appends reuse the manifest (and Z-grid),
    streamed micro-batches are replay-idempotent, and compaction folds
    the accumulated files without losing a row or the clustering."""

    def test_batch_appends_then_compaction_lossless(self, spark, tmp_path):
        from open_rust_timeseries_db_spark.sources.layout import (
            append_time_layout,
            chunk_file_stats,
            compact_chunks,
            read_manifest,
            read_time_range,
            write_time_layout,
        )

        ev = events_us(spark, SF_DIR).select(
            "event_id", "user_id", "ts_us", "value"
        )
        path = str(tmp_path / "appended")
        write_time_layout(
            ev.filter(F.col("event_id") % 3 == 0), path, ts_col="ts_us"
        )
        man_before = read_manifest(path)
        for r in (1, 2):
            append_time_layout(ev.filter(F.col("event_id") % 3 == r), path)
        assert read_manifest(path) == man_before, "append mutated manifest"

        def full_read():
            return {
                tuple(r)
                for r in read_time_range(spark, path).select(
                    "event_id", "user_id", "ts_us", "value"
                ).collect()
            }

        want = {tuple(r) for r in ev.collect()}
        assert full_read() == want
        pre = chunk_file_stats(path)
        done = compact_chunks(spark, path, target_file_bytes=8 << 20)
        assert done, f"nothing compacted over {pre}"
        assert full_read() == want, "compaction lost or duplicated rows"

    def test_zorder_append_reuses_grid_and_compaction_preserves_it(
        self, spark, tmp_path
    ):
        from open_rust_timeseries_db_spark.sources.layout import (
            append_time_layout,
            compact_chunks,
            read_manifest,
            read_time_range,
            write_zorder_layout,
        )

        ev = events_us(spark, SF_DIR).select(
            "event_id", "user_id", "ts_us", "value"
        )
        path = str(tmp_path / "zappend")
        write_zorder_layout(
            ev.filter(F.col("event_id") % 2 == 0),
            path,
            ts_col="ts_us",
            key_col="user_id",
        )
        man = read_manifest(path)
        # The append slice includes rows OUTSIDE the original bounds
        # only if the halves' extremes differ — either way the write
        # must succeed by clamping to the recorded grid, not recompute
        # bounds.
        append_time_layout(ev.filter(F.col("event_id") % 2 == 1), path)
        assert read_manifest(path) == man, "append mutated z-order manifest"
        compact_chunks(spark, path, target_file_bytes=8 << 20)
        assert read_manifest(path) == man
        got = {
            tuple(r)
            for r in read_time_range(spark, path).select(
                "event_id", "user_id", "ts_us", "value"
            ).collect()
        }
        assert got == {tuple(r) for r in ev.collect()}

    def test_streaming_ingest_replay_idempotent_and_compactable(
        self, spark, tmp_path
    ):
        """A stream appends each micro-batch from ``foreachBatch`` keyed
        by its batch id. Replaying a committed batch id with its rows,
        before and after a compaction, leaves the layout's rows as they
        were."""
        ev = events_us(spark, SF_DIR).select(
            "event_id", "user_id", "ts_us", "value"
        )
        # Seed the layout (manifest) with a first slice; stream the rest
        # from a 3-file directory, one file per micro-batch.
        path = str(tmp_path / "streamed")
        seed = ev.filter(F.col("event_id") % 4 == 0)
        rest = ev.filter(F.col("event_id") % 4 != 0)
        write_time_layout(seed, path, ts_col="ts_us")
        src_dir = str(tmp_path / "src")
        rest.repartition(3).write.parquet(src_dir)
        batches: dict[int, list] = {}

        def sink(batch_df, batch_id):
            batches[batch_id] = batch_df.collect()
            append_time_layout(
                batch_df, path, n_range_partitions=2, ingest_id=batch_id
            )

        q = (
            spark.readStream.schema(rest.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        assert sorted(batches) == [0, 1, 2]

        def full_read():
            return sorted(
                tuple(r)
                for r in read_time_range(spark, path).select(
                    "event_id", "user_id", "ts_us", "value"
                ).collect()
            )

        want = sorted(tuple(r) for r in ev.collect())
        assert full_read() == want

        # A crash replays batch 0 with the same rows: its ingest-0-
        # files are replaced, not added to.
        replay = spark.createDataFrame(batches[0], rest.schema)
        append_time_layout(replay, path, ingest_id=0)
        assert full_read() == want

        # Compaction renames the ingest files away; the replay after it
        # is a no-op, and every chunk is down to one file.
        compact_chunks(spark, path, target_file_bytes=8 << 20)
        append_time_layout(replay, path, ingest_id=0)
        assert full_read() == want
        assert {st["n_files"] for st in chunk_file_stats(path).values()} == {1}


def test_replay_staging_failure_keeps_committed_batch(spark, tmp_path):
    """A replayed ingest batch stages to scratch BEFORE touching the
    previously committed copy: if the staging write fails (executor
    crash, bad input), the prior batch must remain fully readable.
    The pre-round-11 order deleted the batch id's files first, so a
    staging failure lost the committed batch entirely."""
    import os

    from open_rust_timeseries_db_spark.sources.layout import (
        append_time_layout,
        read_time_range,
        write_time_layout,
    )

    ev = events_us(spark, SF_DIR).select(
        "event_id", "user_id", "ts_us", "value"
    )
    path = str(tmp_path / "crash")
    write_time_layout(
        ev.filter(F.col("event_id") % 4 == 0), path, ts_col="ts_us"
    )
    batch = ev.filter(F.col("event_id") % 4 == 1)
    append_time_layout(batch, path, ingest_id=3)

    def full_read():
        return {
            tuple(r)
            for r in read_time_range(spark, path)
            .select("event_id", "user_id", "ts_us", "value")
            .collect()
        }

    want = full_read()
    # Same schema, same batch id, but the write itself fails at
    # execution time (assert_true raises inside the scan).
    bad = batch.filter(F.assert_true(F.lit(False)).isNull())
    with pytest.raises(Exception):
        append_time_layout(bad, path, ingest_id=3)
    assert full_read() == want
    # The committed batch's files survive under their ingest names and
    # no scratch staging directory is left behind.
    files = [
        f
        for entry in os.listdir(path)
        if entry.startswith("chunk_us=")
        for f in os.listdir(os.path.join(path, entry))
    ]
    assert any(f.startswith("ingest-3-") for f in files)
    assert not [e for e in os.listdir(path) if e.startswith(".ingest-")]


def test_replay_after_compaction_is_a_no_op(spark, tmp_path):
    """Compaction renames a batch's ``ingest-<id>-`` files away, so a
    replay that came after it found no files to replace and appended
    the batch a second time (20 rows here). The manifest's
    ``committed_ingest_id`` makes that replay a no-op."""
    rows = [(i, i % 3, 1_000 + i, float(i)) for i in range(15)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long, value double")
    path = str(tmp_path / "replayed")
    write_time_layout(ev.filter("event_id < 10"), path, ts_col="ts_us", n_range_partitions=1)
    src = str(tmp_path / "batch")
    ev.filter("event_id >= 10").coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)

    append_time_layout(batch, path, ingest_id=7)
    assert read_time_range(spark, path).count() == 15
    append_time_layout(batch, path, ingest_id=7)
    assert read_time_range(spark, path).count() == 15
    assert compact_chunks(spark, path) == {"chunk_us=0": (2, 1)}
    append_time_layout(batch, path, ingest_id=7)
    got = read_time_range(spark, path).orderBy("event_id").collect()
    assert [tuple(r) for r in got] == rows
    # A later batch id still appends.
    append_time_layout(batch, path, ingest_id=8)
    assert read_time_range(spark, path).count() == 20


def test_replay_after_retention_is_a_no_op(spark, tmp_path):
    """A replay re-sends the whole batch, so one that came after
    retention dropped a chunk of it wrote the chunk back with the
    batch's expired rows. Retention raises ``committed_ingest_id``
    over the batches it drops, which makes that replay a no-op."""
    rows = [(i, 0, 100 * i, float(i)) for i in range(4)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long, value double")
    path = str(tmp_path / "retained")
    write_time_layout(ev.limit(0), path, ts_col="ts_us", chunk_us=200)
    append_time_layout(ev, path, ingest_id=3)
    assert drop_chunks_before(path, 200) == ["chunk_us=0"]
    append_time_layout(ev, path, ingest_id=3)
    got = read_time_range(spark, path).orderBy("event_id").collect()
    assert [tuple(r) for r in got] == rows[2:]


def test_retention_drops_only_fully_expired_chunks(spark, tmp_path):
    """drop_chunks_before is conservative: a chunk is deleted only when
    its WHOLE interval precedes the cutoff; reads after retention see
    exactly the surviving rows and the manifest stays intact."""
    from open_rust_timeseries_db_spark.sources.layout import (
        drop_chunks_before,
        read_manifest,
        read_time_range,
        write_time_layout,
    )

    ev = events_us(spark, SF_DIR).select("event_id", "ts_us")
    path = str(tmp_path / "ret")
    write_time_layout(ev, path, ts_col="ts_us")
    man = read_manifest(path)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    # Cutoff mid-span, deliberately NOT on a chunk boundary.
    cutoff = (lo + hi) // 2 + man["chunk_us"] // 3
    dropped = drop_chunks_before(path, cutoff)
    assert dropped, "expected at least one fully-expired chunk"
    got = {tuple(r) for r in read_time_range(spark, path).collect()}
    # Conservative: every row >= cutoff MUST survive; rows below the
    # cutoff survive iff their chunk straddles it.
    chunk_us = man["chunk_us"]
    boundary = (cutoff // chunk_us) * chunk_us
    want = {
        tuple(r)
        for r in ev.filter(F.col("ts_us") >= boundary).collect()
    }
    assert got == want
    assert read_manifest(path) == man


def test_streaming_ingest_feeds_incremental_aggregate(spark, tmp_path):
    """The full ingest composition: micro-batches append into the
    chunked layout AND incrementally refresh the OHLC continuous
    aggregate in the same foreachBatch commit; the final bars must
    equal a full rebuild over everything the layout now holds."""
    from open_rust_timeseries_db_spark.queries.timeseries import (
        ohlc_increment,
    )
    from open_rust_timeseries_db_spark.sources.layout import (
        append_time_layout,
        read_time_range,
        write_time_layout,
    )
    from tests.test_continuous_aggregate import _full_build, _rows

    ev = events_us(spark, SF_DIR).select(
        "user_id", "ts_us", "value", "event_id"
    )
    path = str(tmp_path / "ca")
    seed = ev.filter(F.col("event_id") % 4 == 0)
    rest = ev.filter(F.col("event_id") % 4 != 0)
    write_time_layout(seed, path, ts_col="ts_us")
    bars = [_full_build(seed).persist()]
    bars[0].count()

    src_dir = str(tmp_path / "src")
    rest.repartition(3).write.parquet(src_dir)

    def ingest(batch_df, batch_id):
        append_time_layout(batch_df, path, ingest_id=batch_id)
        nxt = ohlc_increment(bars[0], batch_df).persist()
        nxt.count()  # materialize within the batch scope
        bars[0] = nxt

    q = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    rebuilt = _full_build(
        read_time_range(spark, path).select(
            "user_id", "ts_us", "value", "event_id"
        )
    )
    assert _rows(bars[0]) == _rows(rebuilt)


def _spy_driver_appends(monkeypatch) -> list[str]:
    """Record the directory of every driver-path append (the pyarrow
    chunk writer); an append absent from the list ran as a Spark job."""
    from open_rust_timeseries_db_spark.sources import layout

    calls: list[str] = []
    real = layout._write_chunk_files

    def spy(rows, man, schema, directory):
        calls.append(directory)
        return real(rows, man, schema, directory)

    monkeypatch.setattr(layout, "_write_chunk_files", spy)
    return calls


def _layout_files(path: str) -> set[str]:
    return {
        os.path.join(entry, f)
        for entry in os.listdir(path)
        if entry.startswith("chunk_us=")
        for f in os.listdir(os.path.join(path, entry))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }


class TestDriverAppend:
    """A small plain file scan appends on the driver through pyarrow; the
    files it writes must be the ones the Spark path writes, to a reader."""

    COLS = ["event_id", "user_id", "ts_us", "value"]

    def _events(self, spark):
        return events_us(spark, SF_DIR).select(*self.COLS)

    def test_driver_append_matches_spark_append(
        self, spark, tmp_path, monkeypatch
    ):
        import pyarrow.parquet as pq

        from open_rust_timeseries_db_spark.sources.layout import (
            HOUR_US,
            append_time_layout,
        )

        ev = self._events(spark)
        stage = str(tmp_path / "stage")
        ev.filter(F.col("event_id") % 3 == 1).coalesce(2).write.parquet(stage)
        driver, by_spark = str(tmp_path / "driver"), str(tmp_path / "spark")
        for p in (driver, by_spark):
            write_time_layout(
                ev.filter(F.col("event_id") % 3 == 0), p, ts_col="ts_us",
                chunk_us=HOUR_US,
            )
        seeded = _layout_files(driver)
        calls = _spy_driver_appends(monkeypatch)
        append_time_layout(spark.read.parquet(stage), driver)
        # The same rows as a filtered frame: not a plain scan, Spark path.
        append_time_layout(
            spark.read.parquet(stage).filter(F.col("event_id") % 3 == 1),
            by_spark,
        )
        assert calls == [driver]

        def rows(p):
            return sorted(
                map(tuple, read_time_range(spark, p).select(*self.COLS).collect())
            )

        assert rows(driver) == rows(by_spark)
        assert len(rows(driver)) == ev.filter(F.col("event_id") % 3 < 2).count()

        def chunks(p):
            return {e for e in os.listdir(p) if e.startswith("chunk_us=")}

        assert chunks(driver) == chunks(by_spark)
        assert (
            read_time_range(spark, driver).schema
            == read_time_range(spark, by_spark).schema
        )
        written = _layout_files(driver) - seeded
        assert len(written) > 1, "the batch should span several chunks"
        for rel in written:
            lo = int(rel.split("/")[0].split("=")[1])
            ts = pq.read_table(os.path.join(driver, rel)).column("ts_us").to_pylist()
            assert ts == sorted(ts), f"{rel} is not ts-sorted"
            assert lo <= ts[0] and ts[-1] < lo + HOUR_US, f"{rel} leaks its chunk"

    @pytest.mark.parametrize("case", ["null_ts", "zorder", "over_bytes"])
    def test_other_inputs_take_the_spark_path(
        self, spark, tmp_path, monkeypatch, case
    ):
        from open_rust_timeseries_db_spark.sources import layout

        ev = self._events(spark)
        seed = ev.filter(F.col("event_id") % 2 == 0)
        batch = ev.filter(F.col("event_id") % 2 == 1)
        path, stage = str(tmp_path / "layout"), str(tmp_path / "stage")
        if case == "null_ts":
            batch = batch.withColumn(
                "ts_us", F.when(F.col("event_id") % 4 == 1, F.col("ts_us"))
            )
        batch.write.parquet(stage)
        if case == "zorder":
            layout.write_zorder_layout(
                seed, path, ts_col="ts_us", key_col="user_id"
            )
        else:
            layout.write_time_layout(seed, path, ts_col="ts_us")
        if case == "over_bytes":
            monkeypatch.setattr(layout, "_DRIVER_MAX_BYTES", 1)
        calls = _spy_driver_appends(monkeypatch)
        layout.append_time_layout(spark.read.parquet(stage), path)
        assert calls == []
        assert spark.read.parquet(path).count() == ev.count()

    def test_empty_scan_appends_no_file(self, spark, tmp_path, monkeypatch):
        ev = self._events(spark)
        path, stage = str(tmp_path / "layout"), str(tmp_path / "stage")
        write_time_layout(ev, path, ts_col="ts_us")
        ev.limit(0).write.parquet(stage)
        files = _layout_files(path)
        calls = _spy_driver_appends(monkeypatch)
        append_time_layout(spark.read.parquet(stage), path)
        assert calls == [path]
        assert _layout_files(path) == files


def _job_ids(spark) -> set[int]:
    """Ids of the session's jobs outside any job group, once the listener
    bus has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_flush_and_small_append_run_no_spark_job(spark, tmp_path):
    """The tick-ingest cycle's write path runs no Spark job: a flush
    writes through Arrow on the driver, and appending its staged file
    scan into a time layout takes the driver path. Only the read that
    makes the rows visible is a job."""
    from pyspark.sql import types as T

    from open_rust_timeseries_db_spark.api import Table
    from open_rust_timeseries_db_spark.sources.layout import (
        append_time_layout,
    )

    schema = T.StructType(
        [
            T.StructField("sym", T.IntegerType(), False),
            T.StructField("ts", T.LongType(), False),
            T.StructField("px", T.DoubleType(), False),
        ]
    )
    path, stage = str(tmp_path / "layout"), str(tmp_path / "stage")
    write_time_layout(
        spark.createDataFrame([(9, i * 1_000, 1.0) for i in range(100)], schema),
        path, ts_col="ts", chunk_us=50_000,
    )
    table = Table(spark, "no_jobs", schema, capacity=1_024)
    for i in range(300):
        assert table.write_record({"sym": 1, "ts": 100_000 + i * 500, "px": 2.0})

    before = _job_ids(spark)
    assert table.flush_to_parquet(stage) == 300
    assert _job_ids(spark) == before, "flush_to_parquet ran a Spark job"

    staged = spark.read.parquet(stage)
    before = _job_ids(spark)
    append_time_layout(staged, path)
    assert _job_ids(spark) == before, "append_time_layout ran a Spark job"
    assert read_time_range(spark, path).count() == 400


COLS = ["event_id", "user_id", "ts_us", "value"]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select(*COLS).collect()))


@pytest.mark.parametrize("kind", ["time", "zorder", "arrow_appended"])
def test_read_uses_the_declared_schema(spark, tmp_path, kind):
    """read_time_range reads with the schema the manifest declares: no
    inference job runs, and the frame is the one Spark's own inference
    reads, for every way a layout's files are written."""
    ev = events_us(spark, SF_DIR).select(*COLS)
    path = str(tmp_path / "layout")
    if kind == "time":
        write_time_layout(ev, path, ts_col="ts_us")
    elif kind == "zorder":
        write_zorder_layout(ev, path, ts_col="ts_us", key_col="user_id")
    else:  # the odd events appended through the Arrow driver path
        stage = str(tmp_path / "stage")
        write_time_layout(
            ev.filter(F.col("event_id") % 2 == 0), path, ts_col="ts_us"
        )
        ev.filter(F.col("event_id") % 2 == 1).write.parquet(stage)
        append_time_layout(spark.read.parquet(stage), path)
    man = read_manifest(path)
    assert "chunk_us" not in [f["name"] for f in man["schema"]["fields"]]
    assert all(f["nullable"] for f in man["schema"]["fields"])

    before = _job_ids(spark)
    got = read_time_range(spark, path)
    assert _job_ids(spark) == before, "read_time_range ran an inference job"
    inferred = spark.read.parquet(path).drop("chunk_us")
    assert got.schema == inferred.schema
    assert _rows(got) == _rows(inferred) == _rows(ev)


def test_small_read_is_one_job_without_exchange(spark, layout_path):
    """A read of a layout under spark.sql.files.openCostInBytes is one
    partition, so an aggregate above it plans no Exchange and the query
    is one Spark job; past the gate the shuffle comes back."""

    def query():
        return (
            read_time_range(spark, layout_path)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)), F.sum("event_id"))
        )

    df = query()
    before = _job_ids(spark)
    rows = df.collect()
    assert len(_job_ids(spark) - before) == 1
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        wide = query()
        plan = wide._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
        assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, rows))
    finally:
        spark.conf.set(key, old)


def test_emptied_layout_reads_empty(spark, tmp_path):
    """After retention drops every chunk, the layout reads as zero rows
    with its columns (Spark's inference has no file to infer from)."""
    ev = events_us(spark, SF_DIR).select(*COLS)
    path = str(tmp_path / "emptied")
    write_time_layout(ev, path, ts_col="ts_us")
    assert drop_chunks_before(path, 1 << 62)
    df = read_time_range(spark, path)
    assert df.count() == 0
    assert df.columns == COLS


@pytest.mark.parametrize("change", ["renamed", "retyped"])
def test_append_rejects_a_frame_of_another_schema(spark, tmp_path, change):
    ev = events_us(spark, SF_DIR).select(*COLS)
    path = str(tmp_path / "layout")
    write_time_layout(ev, path, ts_col="ts_us")
    if change == "renamed":
        bad = ev.withColumnRenamed("value", "price")
    else:
        bad = ev.withColumn("user_id", F.col("user_id").cast("int"))
    with pytest.raises(ValueError, match="schema"):
        append_time_layout(bad, path)
    assert read_time_range(spark, path).count() == ev.count()


class TestDriverCompaction:
    """A small time-layout chunk compacts on the driver through pyarrow,
    with no Spark job, into the files the Spark path writes."""

    def _fragmented(self, spark, path: str, zorder: bool = False) -> None:
        # The write plus a Spark-path append of a filtered frame leaves
        # every chunk with several files.
        ev = events_us(spark, SF_DIR).select(*COLS)
        seed = ev.filter(F.col("event_id") % 2 == 0)
        if zorder:
            write_zorder_layout(seed, path, ts_col="ts_us", key_col="user_id")
        else:
            write_time_layout(seed, path, ts_col="ts_us")
        append_time_layout(ev.filter(F.col("event_id") % 2 == 1), path)
        assert any(st["n_files"] > 1 for st in chunk_file_stats(path).values())

    def test_small_chunks_compact_with_no_spark_job(
        self, spark, tmp_path, monkeypatch
    ):
        import json

        import pyarrow.parquet as pq

        from open_rust_timeseries_db_spark.sources import layout

        driver, by_spark = str(tmp_path / "driver"), str(tmp_path / "spark")
        for p in (driver, by_spark):
            self._fragmented(spark, p)
        want = _rows(read_time_range(spark, driver))

        before = _job_ids(spark)
        done = compact_chunks(spark, driver, target_file_bytes=8 << 20)
        assert done
        assert _job_ids(spark) == before, "compaction ran a Spark job"

        monkeypatch.setattr(layout, "_DRIVER_MAX_BYTES", 1)
        before = _job_ids(spark)
        slow = compact_chunks(spark, by_spark, target_file_bytes=8 << 20)
        assert set(slow) == set(done)
        assert _job_ids(spark) - before, "over-gate chunks ran no Spark job"

        assert _rows(read_time_range(spark, driver)) == want
        assert _rows(read_time_range(spark, by_spark)) == want

        def chunk_file(root: str, chunk: str) -> str:
            (f,) = [
                f for f in _layout_files(root) if f.startswith(chunk + "/")
            ]
            return os.path.join(root, f)

        def footer_schema(f: str):
            meta = pq.read_schema(f).metadata
            key = b"org.apache.spark.sql.parquet.row.metadata"
            return json.loads(meta[key])

        for chunk in done:
            d_file = chunk_file(driver, chunk)
            s_file = chunk_file(by_spark, chunk)
            assert footer_schema(d_file) == footer_schema(s_file)
            ts = pq.read_table(d_file).column("ts_us").to_pylist()
            assert ts == sorted(ts), f"{d_file} is not ts-sorted"

    def test_zorder_chunks_keep_the_spark_path(self, spark, tmp_path):
        path = str(tmp_path / "z")
        self._fragmented(spark, path, zorder=True)
        want = _rows(read_time_range(spark, path))
        before = _job_ids(spark)
        assert compact_chunks(spark, path, target_file_bytes=8 << 20)
        assert _job_ids(spark) - before, "Z-order compaction ran no Spark job"
        assert _rows(read_time_range(spark, path)) == want

    @pytest.mark.parametrize("path_taken", ["driver", "spark"])
    def test_files_after_counts_data_files(
        self, spark, tmp_path, monkeypatch, path_taken
    ):
        from open_rust_timeseries_db_spark.sources import layout

        path = str(tmp_path / "layout")
        self._fragmented(spark, path)
        if path_taken == "spark":
            monkeypatch.setattr(layout, "_DRIVER_MAX_BYTES", 1)
        done = compact_chunks(spark, path, target_file_bytes=8 << 20)
        assert done
        stats = chunk_file_stats(path)
        assert {c: after for c, (_, after) in done.items()} == {
            c: stats[c]["n_files"] for c in done
        }
        for chunk in done:
            assert "._SUCCESS.crc" not in os.listdir(os.path.join(path, chunk))


class TestNullTsChunk:
    """Rows with a null timestamp land, through a Spark-path append, in
    the ``__HIVE_DEFAULT_PARTITION__`` chunk: retention never expires it
    and compaction rewrites it through the Spark path."""

    NULL = "chunk_us=__HIVE_DEFAULT_PARTITION__"

    def _layout(self, spark, path: str) -> None:
        # One file per dated chunk, so only the null-ts chunk compacts;
        # two appends of filtered frames (the Spark path) give it two.
        ev = events_us(spark, SF_DIR).select(*COLS)
        write_time_layout(ev, path, ts_col="ts_us", n_range_partitions=1)
        for r in (0, 1):
            nulls = ev.filter(F.col("event_id") % 10 == r)
            append_time_layout(
                nulls.withColumn("ts_us", F.lit(None).cast("long")), path
            )
        assert chunk_file_stats(path)[self.NULL]["n_files"] >= 2

    def _null_rows(self, spark, path: str) -> list[tuple]:
        return _rows(read_time_range(spark, path).filter(F.col("ts_us").isNull()))

    def test_retention_keeps_the_null_ts_chunk(self, spark, tmp_path):
        path = str(tmp_path / "layout")
        self._layout(spark, path)
        want = self._null_rows(spark, path)
        dropped = drop_chunks_before(path, 1 << 62)
        assert dropped and self.NULL not in dropped
        assert list(chunk_file_stats(path)) == [self.NULL]
        assert _rows(read_time_range(spark, path)) == want

    def test_null_ts_chunk_compacts_through_spark(self, spark, tmp_path):
        path = str(tmp_path / "layout")
        self._layout(spark, path)
        want = self._null_rows(spark, path)
        n_before = chunk_file_stats(path)[self.NULL]["n_files"]

        before = _job_ids(spark)
        done = compact_chunks(spark, path, target_file_bytes=8 << 20)
        assert done == {self.NULL: (n_before, 1)}
        assert _job_ids(spark) - before, "the null-ts chunk ran no Spark job"
        scratch = (".compact-", ".trash-")
        assert not [e for e in os.listdir(path) if e.startswith(scratch)]
        assert self._null_rows(spark, path) == want

    def test_swap_refuses_rows_of_another_chunk(self, spark, tmp_path):
        import shutil

        path = str(tmp_path / "layout")
        self._layout(spark, path)
        # A dated chunk's file inside the null-ts chunk: its rows are
        # rewritten into their own chunk directory in the scratch.
        dated = next(
            f for f in sorted(_layout_files(path)) if not f.startswith(self.NULL)
        )
        shutil.copy(
            os.path.join(path, dated), os.path.join(path, self.NULL, "stray.parquet")
        )
        files = _layout_files(path)
        with pytest.raises(RuntimeError, match="left as it was"):
            compact_chunks(spark, path, target_file_bytes=8 << 20)
        assert _layout_files(path) == files
        scratch = (".compact-", ".trash-")
        assert not [e for e in os.listdir(path) if e.startswith(scratch)]
