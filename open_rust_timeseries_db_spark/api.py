"""Reference-compatible ingest API: the Table surface, Arrow at the edge.

The reference's entire public API is four calls (reference
src/storage/table.rs:34-115): ``Table::new(name, config)``,
``write_record(record) -> bool``, ``read_one_record() -> Option<record>``,
``record_count()`` / ``capacity()``. This module gives a user of that
API the same surface with the footguns fixed and columnar storage
behind it:

- **typed, validated schema** — the reference declares
  ``field_size_bytes`` but never checks it, silently drops unknown
  fields, and accepts torn records (src/storage/table.rs:54-80); here
  unknown/missing fields raise, values are type-checked at the edge;
- **reject-new overflow** (default) — ``write_record`` returns False
  when the buffer holds ``capacity`` records, exactly the reference
  ring's semantics (src/memory/low_latency_mpmc_ring.rs:85-86);
  ``overflow="drop-oldest"`` selects the alternative the reference
  README names (README.md:16, README.md:436): evict the oldest
  record to admit the new one, keeping the buffer a sliding window;
- **destructive FIFO reads** — ``read_one_record`` consumes, like
  ``try_dequeue`` (src/memory/low_latency_mpmc_ring.rs:116-121),
  but records are row-atomic: the reference's lockstep per-field
  dequeue can tear when producers interleave (README.md:432); rows
  here cannot tear by construction;
- **MPMC thread safety** — one mutex instead of the reference's
  lock-free CAS protocol. Intentional: this facade is the driver-side
  INGEST EDGE, not the engine; a CAS ring on the driver would optimize
  the wrong side. Per-call overhead is micro-benchmarked in
  tests/test_api.py against the reference's published targets.

Buffered rows leave through one Arrow builder (:func:`_arrow_table`,
Spark's own Arrow mapping of the schema). ``flush_to_parquet`` writes
them as one parquet file on the driver with pyarrow — no Spark job, no
Python worker — which is right at any table size because a flush holds
at most ``capacity`` rows; the file carries Spark's schema in its
footer, so Spark scans read it as their own. ``to_df`` hands the same
Arrow table to ``createDataFrame``. Analytics over flushed data run on
the cluster (``sources/layout.append_time_layout`` +
``read_time_range``, or the streaming layer in streaming/ for
continuous feeds).
"""

from __future__ import annotations

import threading
import time
from collections import deque
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Field types a Table accepts, with the Python values each admits: the
# types the Arrow builder converts exactly.
_PY_OK: dict[type, tuple[type, ...]] = {
    T.LongType: (int,),
    T.IntegerType: (int,),
    T.DoubleType: (float, int),
    T.FloatType: (float, int),
    T.StringType: (str,),
    T.BinaryType: (bytes, bytearray),
    T.BooleanType: (bool,),
}


def _arrow_table(schema: T.StructType, rows: list[tuple[Any, ...]]):
    """``rows`` (tuples in field order) as one ``pyarrow.Table`` typed by
    Spark's own Arrow mapping of ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)
    if not rows:
        return pa_schema.empty_table()
    return pa.Table.from_arrays(
        [pa.array(col, f.type) for col, f in zip(zip(*rows), pa_schema)],
        schema=pa_schema,
    )


class Table:
    """Bounded, thread-safe ingest buffer with the reference's Table API."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        capacity: int = 16_384,
        overflow: str = "reject-new",
    ) -> None:
        if capacity <= 0:
            raise ValueError("capacity must be positive")
        if overflow not in ("reject-new", "drop-oldest"):
            raise ValueError(
                f"overflow must be 'reject-new' or 'drop-oldest', got {overflow!r}"
            )
        for f in schema.fields:
            if type(f.dataType) not in _PY_OK:
                raise TypeError(
                    f"{name}.{f.name}: unsupported field type "
                    f"{f.dataType.simpleString()}"
                )
        self.spark = spark
        self.name = name
        self.schema = schema
        self._capacity = capacity
        self._overflow = overflow
        self._fields = {f.name: f for f in schema.fields}
        self._buf: deque[tuple[Any, ...]] = deque()
        self._lock = threading.Lock()
        # Per-op ingest latency accounting (reference get_stats,
        # src/tests/integration_test.rs:109-120): the reference pushes
        # every latency into an unbounded Vec and averages on read;
        # running sums give the same avg/max with O(1) memory — the
        # version that survives a long-lived ingest edge.
        self._w_ns_sum = 0
        self._w_ns_max = 0
        self._n_writes = 0
        self._r_ns_sum = 0
        self._r_ns_max = 0
        self._n_reads = 0
        # Held by the one flush_to_parquet in flight; never by writers.
        self._flush_lock = threading.Lock()

    # -- reference surface ------------------------------------------------

    def write_record(self, record: dict[str, Any]) -> bool:
        """Append one record. A full buffer (``capacity`` records or
        more) is the only reason a write is refused: ``reject-new``
        returns False; ``drop-oldest`` evicts the oldest records until
        the new one fits and returns True (reference README.md:16's
        alternative policy). Writes go on while a flush is in flight.

        Raises on unknown or missing fields and type mismatches — the
        validation the reference declares but never enforces
        (src/storage/table.rs:14 ``field_size_bytes`` is write-only).
        """
        unknown = set(record) - set(self._fields)
        if unknown:
            raise KeyError(f"unknown fields {sorted(unknown)} for table {self.name!r}")
        missing = set(self._fields) - set(record)
        if missing:
            raise KeyError(f"missing fields {sorted(missing)} for table {self.name!r}")
        row = []
        for fname, field in self._fields.items():
            value = record[fname]
            if value is None:
                if not field.nullable:
                    raise TypeError(f"{self.name}.{fname}: null in non-nullable field")
            elif not isinstance(value, _PY_OK[type(field.dataType)]):
                raise TypeError(
                    f"{self.name}.{fname}: {type(value).__name__} incompatible "
                    f"with {field.dataType.simpleString()}"
                )
            row.append(value)
        row_t = tuple(row)
        t0 = time.perf_counter_ns()
        with self._lock:
            if len(self._buf) >= self._capacity:
                if self._overflow == "reject-new":
                    return False
                # A failed flush's restore can leave more than capacity.
                while len(self._buf) >= self._capacity:
                    self._buf.popleft()
            self._buf.append(row_t)
            # Latency is recorded for SUCCESSFUL writes only, like the
            # reference (it times inside the `if write_record(..)`
            # branch, src/tests/integration_test.rs:180-182); writes
            # rejected by reject-new return above and leave the stats
            # untouched.
            dt = time.perf_counter_ns() - t0
            self._w_ns_sum += dt
            self._n_writes += 1
            if dt > self._w_ns_max:
                self._w_ns_max = dt
            return True

    def read_one_record(self) -> dict[str, Any] | None:
        """Destructive FIFO read; None when empty (at-most-once, like
        try_dequeue — use flush_to_parquet for exactly-once handoff)."""
        t0 = time.perf_counter_ns()
        with self._lock:
            if not self._buf:
                # Empty reads leave the stats untouched: the reference
                # records read latency only for non-empty batches
                # (src/tests/integration_test.rs:234-237).
                return None
            row = self._buf.popleft()
            dt = time.perf_counter_ns() - t0
            self._r_ns_sum += dt
            self._n_reads += 1
            if dt > self._r_ns_max:
                self._r_ns_max = dt
        return dict(zip(self._fields, row))

    def get_stats(self) -> dict[str, float | int | None]:
        """Per-operation ingest latency statistics, in nanoseconds.

        Parity with the reference's ``get_stats`` (avg write, avg
        read, max; src/tests/integration_test.rs:109-120), as a dict.
        Only SUCCESSFUL ops are counted — writes that land a record,
        reads that return one — matching where the reference takes its
        timestamps (inside the success branches,
        src/tests/integration_test.rs:180-182, 234-237). One deliberate
        deviation: before the first op of a kind,
        ``avg_write_ns``/``avg_read_ns`` are None here, where the
        reference's 0/0 division yields Some(NaN) — None is the same
        "no data yet" signal without NaN's contagion. ``max_ns`` is the
        max across both op kinds. Latency covers the locked critical
        section — queueing on the mutex included, as a producer
        experiences it.
        """
        with self._lock:
            return {
                "avg_write_ns": (
                    self._w_ns_sum / self._n_writes if self._n_writes else None
                ),
                "avg_read_ns": (
                    self._r_ns_sum / self._n_reads if self._n_reads else None
                ),
                "max_write_ns": self._w_ns_max,
                "max_read_ns": self._r_ns_max,
                "max_ns": max(self._w_ns_max, self._r_ns_max),
                "n_writes": self._n_writes,
                "n_reads": self._n_reads,
            }

    def record_count(self) -> int:
        with self._lock:
            return len(self._buf)

    def capacity(self) -> int:
        return self._capacity

    def is_empty(self) -> bool:
        return self.record_count() == 0

    def is_full(self) -> bool:
        return self.record_count() >= self._capacity

    # -- columnar handoff (the part the reference never had) --------------

    def to_df(self) -> DataFrame:
        """Snapshot the live buffer as a DataFrame (non-destructive),
        handed to Spark as one Arrow table."""
        with self._lock:
            rows = list(self._buf)
        return self.spark.createDataFrame(_arrow_table(self.schema, rows))

    def flush_to_parquet(self, path: str) -> int:
        """Drain up to ``capacity`` records, oldest first, into one new
        parquet file in ``path`` (a micro-batch commit); returns the
        number of records flushed.

        The file is written on the driver through Arrow
        (``sources/io.write_arrow_parquet``): no Spark job runs, and the
        file appears under its final name only once complete. Writes go
        on during the flush. If the write fails, the drained rows go back
        to the front of the buffer, so a flush never loses records and
        never races a concurrent ``read_one_record`` (the drain itself is
        atomic). The buffer may then hold up to ``capacity`` plus the
        failed batch; writes are refused (``reject-new``) or evict
        (``drop-oldest``) until it is below ``capacity`` again. One flush
        runs at a time: a concurrent call returns 0.
        """
        from open_rust_timeseries_db_spark.sources.io import write_arrow_parquet

        if not self._flush_lock.acquire(blocking=False):
            return 0
        try:
            with self._lock:
                n = min(len(self._buf), self._capacity)
                rows = [self._buf.popleft() for _ in range(n)]
            if not rows:
                return 0
            try:
                write_arrow_parquet(
                    _arrow_table(self.schema, rows), path, self.schema
                )
            except Exception:
                with self._lock:
                    self._buf.extendleft(reversed(rows))
                raise
            return len(rows)
        finally:
            self._flush_lock.release()
