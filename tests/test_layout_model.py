"""Model-based test of the time layout's storage operations.

A hypothesis state machine runs random sequences of the layout's write,
maintenance and read operations against one layout and checks it after
every step against a model: the multiset of rows the layout must hold.

- Writes: ``Table.write_record`` + ``flush_to_parquet`` whose file is
  appended as a plain scan (the driver path, or the Spark path when a
  timestamp is null), and appends of a frame that is no file scan (the
  Spark path). The frame's shape picks the path, as in production.
  Either write may carry an ``ingest_id``; committed batches are replayed
  with the same rows.
- Maintenance: ``compact_chunks`` at a small and a large target size,
  and ``drop_chunks_before``.
- Reads: ``read_time_range`` windows, compared with the model.

Invariants, read from the files with pyarrow: the rows equal the model;
every file is sorted by ts and lies inside its chunk; every footer
carries the manifest's declared columns and types (nullability aside,
as ``append_time_layout`` checks: a Spark write keeps its frame's
nullability, and the reader scans with the declared one); the null-ts
chunk holds exactly the model's null-ts rows, so it is never pruned or
dropped.
"""

from __future__ import annotations

import json
import os
import uuid
from collections import Counter

import pyarrow.parquet as pq
from hypothesis import HealthCheck, settings, strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import types as T

from open_rust_timeseries_db_spark.api import Table
from open_rust_timeseries_db_spark.sources.layout import (
    append_time_layout,
    compact_chunks,
    drop_chunks_before,
    read_manifest,
    read_time_range,
    write_time_layout,
)

CHUNK_US = 100
# The ingest API's schema; the layout declares it all-nullable.
SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("ts_us", T.LongType(), True),
        T.StructField("value", T.DoubleType(), False),
    ]
)
COLS = SCHEMA.fieldNames()
_NULL_CHUNK = "__HIVE_DEFAULT_PARTITION__"
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Three chunks, one before the epoch (floor modulo at the edges).
_ts = st.integers(-100, 199)
_fields = st.tuples(st.integers(0, 3), _ts, st.integers(0, 9).map(float))
_null_ts = _fields.map(lambda f: (f[0], None, f[2]))
_rows_maybe_null = st.lists(st.one_of(_fields, _null_ts), max_size=6)
_bound = st.one_of(st.none(), st.integers(-150, 250))


def _columns(schema_json: dict) -> list[tuple[str, str]]:
    fields = T.StructType.fromJson(schema_json).fields
    return [(f.name, f.dataType.simpleString()) for f in fields]


class LayoutMachine(RuleBasedStateMachine):
    def __init__(self, spark, root: str):
        super().__init__()
        self.spark = spark
        self.root = os.path.join(root, uuid.uuid4().hex[:8])
        self.path = os.path.join(self.root, "layout")
        self.model: Counter = Counter()
        self.next_event = 0
        self.batches: dict[int, list[tuple]] = {}  # ingest_id -> its rows

    # -- helpers -------------------------------------------------------

    def _number(self, fields: list[tuple]) -> list[tuple]:
        """Rows of ``fields`` (user_id, ts_us, value) with fresh event ids."""
        rows = [(self.next_event + i, *f) for i, f in enumerate(fields)]
        self.next_event += len(rows)
        return rows

    def _flushed_scan(self, rows: list[tuple]):
        """``rows`` written through the ingest API and flushed to a fresh
        directory, read back as a plain parquet scan."""
        table = Table(self.spark, "ticks", SCHEMA, capacity=len(rows))
        for r in rows:
            assert table.write_record(dict(zip(COLS, r)))
        stage = os.path.join(self.root, f"flush-{uuid.uuid4().hex[:8]}")
        assert table.flush_to_parquet(stage) == len(rows)
        return self.spark.read.parquet(stage)

    def _append(self, df, rows: list[tuple], ingest: bool) -> None:
        ingest_id = None
        if ingest:
            ingest_id = len(self.batches)
            self.batches[ingest_id] = rows
        append_time_layout(df, self.path, n_range_partitions=2, ingest_id=ingest_id)
        self.model.update(rows)

    # -- rules ---------------------------------------------------------

    @initialize(fields=st.lists(_fields, max_size=6))
    def create(self, fields):
        rows = self._number(fields)
        df = self.spark.createDataFrame(rows, SCHEMA)
        write_time_layout(
            df, self.path, ts_col="ts_us", chunk_us=CHUNK_US, n_range_partitions=2
        )
        self.model.update(rows)

    @rule(fields=_rows_maybe_null.filter(bool), ingest=st.booleans())
    def flush_and_append_scan(self, fields, ingest):
        rows = self._number(fields)
        self._append(self._flushed_scan(rows), rows, ingest)

    @rule(fields=_rows_maybe_null, ingest=st.booleans())
    def append_derived(self, fields, ingest):
        rows = self._number(fields)
        self._append(self.spark.createDataFrame(rows, SCHEMA), rows, ingest)

    @precondition(lambda self: self.batches)
    @rule(data=st.data(), scan=st.booleans())
    def replay(self, data, scan):
        """A committed batch sent again with its rows changes nothing,
        whatever compaction or retention did in between."""
        batch_id = data.draw(st.sampled_from(sorted(self.batches)), label="batch")
        rows = self.batches[batch_id]
        df = (
            self._flushed_scan(rows)
            if scan and rows
            else self.spark.createDataFrame(rows, SCHEMA)
        )
        append_time_layout(df, self.path, n_range_partitions=2, ingest_id=batch_id)

    @rule(
        target_bytes=st.sampled_from([1_500, 128 << 20]),
        min_files=st.sampled_from([1, 2]),
    )
    def compact(self, target_bytes, min_files):
        compact_chunks(
            self.spark,
            self.path,
            target_file_bytes=target_bytes,
            min_files_to_compact=min_files,
        )

    @rule(cutoff=_bound.filter(lambda b: b is not None))
    def drop_before(self, cutoff):
        def expired(r):
            return r[2] is not None and r[2] - r[2] % CHUNK_US + CHUNK_US <= cutoff

        drop_chunks_before(self.path, cutoff)
        self.model = Counter({r: n for r, n in self.model.items() if not expired(r)})

    @rule(lo=_bound, hi=_bound)
    def read_window(self, lo, hi):
        def inside(r):
            if lo is None and hi is None:
                return True
            ts = r[2]
            return (
                ts is not None
                and (lo is None or ts >= lo)
                and (hi is None or ts < hi)
            )

        df = read_time_range(self.spark, self.path, lo, hi).select(*COLS)
        got = Counter(tuple(r) for r in df.collect())
        assert got == Counter({r: n for r, n in self.model.items() if inside(r)})

    # -- invariants ----------------------------------------------------

    @invariant()
    def files_hold_the_model(self):
        declared = _columns(read_manifest(self.path)["schema"])
        found: Counter = Counter()
        for entry in os.listdir(self.path):
            assert not entry.startswith((".ingest-", ".compact-", ".trash-")), entry
            if not entry.startswith("chunk_us="):
                continue
            value = entry.split("=", 1)[1]
            chunk = None if value == _NULL_CHUNK else int(value)
            for name in os.listdir(os.path.join(self.path, entry)):
                if not name.endswith(".parquet") or name.startswith((".", "_")):
                    continue
                f = pq.ParquetFile(os.path.join(self.path, entry, name))
                footer = json.loads(f.schema_arrow.metadata[_SPARK_SCHEMA_KEY])
                assert _columns(footer) == declared, (entry, name)
                t = f.read(columns=COLS)
                ts = t.column("ts_us").to_pylist()
                if chunk is None:
                    assert all(x is None for x in ts), (entry, name, ts)
                else:
                    assert all(
                        x is not None and chunk <= x < chunk + CHUNK_US for x in ts
                    ), (entry, name, ts)
                    assert ts == sorted(ts), (entry, name, ts)
                found.update(zip(*(t.column(c).to_pylist() for c in COLS)))
        assert found == self.model


def test_layout_matches_its_row_model(spark, tmp_path):
    run_state_machine_as_test(
        lambda: LayoutMachine(spark, str(tmp_path)),
        settings=settings(
            max_examples=10,
            stateful_step_count=16,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        ),
    )
