"""Reference-API facade tests: the reference's own test topology
(4 producers x N msgs, 3 consumers, bounded ring, reject-new overflow —
reference src/tests/integration_test.rs:125-320) reproduced against
api.Table, plus the validation the reference omits.
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_rust_timeseries_db_spark import session_cache
from open_rust_timeseries_db_spark.api import Table

MARKET_SCHEMA = T.StructType(
    [
        T.StructField("symbol_id", T.IntegerType(), nullable=False),
        T.StructField("price", T.DoubleType(), nullable=False),
        T.StructField("quantity", T.IntegerType(), nullable=False),
        T.StructField("ts_ns", T.LongType(), nullable=False),
        T.StructField("exchange_id", T.IntegerType(), nullable=False),
    ]
)


def _tick(producer: int, i: int) -> dict:
    # Reference generator formulas (src/tests/integration_test.rs:162-173).
    return {
        "symbol_id": 100 + producer,
        "price": 1000.0 + i * 0.01,
        "quantity": 100 + i % 100,
        "ts_ns": 1_700_000_000_000_000_000 + i,
        "exchange_id": producer,
    }


def test_mpmc_producers_consumers(spark):
    """4P x 2000 msgs, 3C, ring 1024: everything produced is consumed
    exactly once (no loss, no duplication, no tearing)."""
    table = Table(spark, "market_data", MARKET_SCHEMA, capacity=1024)
    n_producers, per_producer, n_consumers = 4, 2000, 3
    produced = n_producers * per_producer
    consumed: list[dict] = []
    consumed_lock = threading.Lock()
    done = threading.Event()

    def producer(p: int) -> None:
        for i in range(per_producer):
            # Reference retry loop (src/tests/integration_test.rs:176-196)
            while not table.write_record(_tick(p, i)):
                time.sleep(0.0001)

    def consumer() -> None:
        while not done.is_set() or not table.is_empty():
            rec = table.read_one_record()
            if rec is None:
                time.sleep(0.0001)
                continue
            with consumed_lock:
                consumed.append(rec)

    producers = [threading.Thread(target=producer, args=(p,)) for p in range(n_producers)]
    consumers = [threading.Thread(target=consumer) for _ in range(n_consumers)]
    for t in consumers + producers:
        t.start()
    for t in producers:
        t.join()
    done.set()
    for t in consumers:
        t.join()

    assert len(consumed) == produced
    assert table.record_count() == 0
    # No tearing: every record's fields satisfy the generator invariants.
    for rec in consumed:
        assert rec["symbol_id"] == 100 + rec["exchange_id"]
        i = rec["ts_ns"] - 1_700_000_000_000_000_000
        assert rec["quantity"] == 100 + i % 100
        assert rec["price"] == pytest.approx(1000.0 + i * 0.01)


def test_reject_new_overflow(spark):
    table = Table(spark, "tiny", MARKET_SCHEMA, capacity=4)
    for i in range(4):
        assert table.write_record(_tick(0, i))
    assert table.is_full()
    assert not table.write_record(_tick(0, 99))  # reject-new, not drop-oldest
    assert table.read_one_record() is not None
    assert table.write_record(_tick(0, 99))  # slot freed


def test_schema_validation_is_enforced(spark):
    """The reference silently drops unknown fields and accepts missing
    ones (src/storage/table.rs:61-71); here both raise."""
    table = Table(spark, "strict", MARKET_SCHEMA, capacity=8)
    good = _tick(0, 1)
    with pytest.raises(KeyError):
        table.write_record({**good, "bogus": 1})
    with pytest.raises(KeyError):
        table.write_record({k: v for k, v in good.items() if k != "price"})
    with pytest.raises(TypeError):
        table.write_record({**good, "price": "not a float"})
    assert table.record_count() == 0


def test_fifo_order_single_consumer(spark):
    table = Table(spark, "fifo", MARKET_SCHEMA, capacity=64)
    for i in range(10):
        table.write_record(_tick(0, i))
    seen = [table.read_one_record()["ts_ns"] for _ in range(10)]
    assert seen == sorted(seen)


def test_to_df_analytics_vwap(spark):
    """The Spark handoff: VWAP over ingested ticks matches Python."""
    table = Table(spark, "vwap_src", MARKET_SCHEMA, capacity=4096)
    for p in range(2):
        for i in range(500):
            assert table.write_record(_tick(p, i))
    df = table.to_df()
    got = (
        df.groupBy("symbol_id")
        .agg(
            (
                F.sum(F.col("price") * F.col("quantity")) / F.sum("quantity")
            ).alias("vwap")
        )
        .collect()
    )
    ticks = [_tick(0, i) for i in range(500)]
    want = sum(t["price"] * t["quantity"] for t in ticks) / sum(
        t["quantity"] for t in ticks
    )
    by_symbol = {r["symbol_id"]: r["vwap"] for r in got}
    assert by_symbol[100] == pytest.approx(want)
    assert by_symbol[101] == pytest.approx(want)
    assert table.record_count() == 1000  # to_df is non-destructive
    assert df.schema == table.schema


def test_flush_to_parquet_exactly_once(spark, tmp_path):
    out = str(tmp_path / "flushed")
    table = Table(spark, "flush_src", MARKET_SCHEMA, capacity=4096)
    for i in range(300):
        table.write_record(_tick(0, i))
    assert table.flush_to_parquet(out) == 300
    assert table.record_count() == 0
    assert table.flush_to_parquet(out) == 0  # idempotent on empty
    back = spark.read.parquet(out)
    assert back.count() == 300
    assert back.select("ts_ns").distinct().count() == 300


def test_drop_oldest_overflow(spark):
    """Twin of test_reject_new_overflow for the reference README's
    alternative policy (reference README.md:16, README.md:436): a full
    buffer evicts its oldest record to admit the new one."""
    table = Table(spark, "sliding", MARKET_SCHEMA, capacity=4, overflow="drop-oldest")
    for i in range(4):
        assert table.write_record(_tick(0, i))
    assert table.is_full()
    assert table.write_record(_tick(0, 99))  # admitted, oldest evicted
    assert table.record_count() == 4  # capacity invariant holds
    seen = [table.read_one_record()["ts_ns"] for _ in range(4)]
    base = 1_700_000_000_000_000_000
    assert seen == [base + 1, base + 2, base + 3, base + 99]  # tick 0 evicted


def test_overflow_policy_validated(spark):
    with pytest.raises(ValueError):
        Table(spark, "bad", MARKET_SCHEMA, capacity=4, overflow="drop-newest")


def test_ingest_throughput_beats_reference_workload(spark):
    """The reference's integration workload — 4 producers x 10,000 msgs,
    3 consumers, ring 16,384/field — measures messages/sec = total /
    elapsed (reference src/tests/integration_test.rs:15-18,148-149,307,
    315) against a published target of 'thousands ... to tens/hundreds
    of thousands' of writes/sec (reference README.md:25-28) and a demo
    feed rate of <= 20,000 msgs/s per producer (src/main.rs:37-43).

    Same topology against api.Table; the gate asserts the END-TO-END
    rate (produce + consume + validate, wall clock). Measured ~70k
    msgs/s standalone and ~20-25k under the full pytest session's
    thread contention — inside the reference's published 'tens of
    thousands' band either way; the assert sits at 10k so a noisy CI
    host cannot flake it while a real regression (per-record cost
    jumping 5-10x) still trips.
    """
    table = Table(spark, "throughput", MARKET_SCHEMA, capacity=16_384)
    n_producers, per_producer, n_consumers = 4, 10_000, 3
    produced = n_producers * per_producer
    n_consumed = [0]
    lock = threading.Lock()
    done = threading.Event()

    def producer(p: int) -> None:
        for i in range(per_producer):
            while not table.write_record(_tick(p, i)):
                time.sleep(0.0001)

    def consumer() -> None:
        while not done.is_set() or not table.is_empty():
            rec = table.read_one_record()
            if rec is None:
                time.sleep(0.0001)
                continue
            with lock:
                n_consumed[0] += 1

    producers = [
        threading.Thread(target=producer, args=(p,)) for p in range(n_producers)
    ]
    consumers = [threading.Thread(target=consumer) for _ in range(n_consumers)]
    t0 = time.perf_counter()
    for t in consumers + producers:
        t.start()
    for t in producers:
        t.join()
    done.set()
    for t in consumers:
        t.join()
    elapsed = time.perf_counter() - t0

    assert n_consumed[0] == produced
    rate = produced / elapsed
    assert rate >= 10_000, f"end-to-end {rate:,.0f} msgs/s under reference bar"


def test_get_stats_contract(spark):
    """Reference get_stats parity (src/tests/integration_test.rs:109-120):
    per-op avg/max write/read latency in ns, None before first op."""
    t = Table(spark, "stats", MARKET_SCHEMA, capacity=8)
    s0 = t.get_stats()
    assert s0["avg_write_ns"] is None and s0["avg_read_ns"] is None
    assert s0["n_writes"] == 0 and s0["n_reads"] == 0 and s0["max_ns"] == 0

    for i in range(5):
        assert t.write_record(_tick(0, i))
    s1 = t.get_stats()
    assert s1["n_writes"] == 5 and s1["n_reads"] == 0
    assert s1["avg_write_ns"] > 0
    assert s1["max_write_ns"] >= s1["avg_write_ns"]
    assert s1["avg_read_ns"] is None

    assert t.read_one_record() is not None
    assert t.read_one_record() is not None
    s2 = t.get_stats()
    assert s2["n_reads"] == 2 and s2["avg_read_ns"] > 0
    assert s2["max_ns"] == max(s2["max_write_ns"], s2["max_read_ns"])
    # avg/max are running aggregates: max never below avg, monotone counts.
    assert s2["n_writes"] == 5
    # Successful-op-only accounting, like the reference (it records
    # read latency only for non-empty batches,
    # src/tests/integration_test.rs:234-237): an empty read is not a
    # counted op, and a rejected write (capacity, reject-new) isn't
    # either.
    while t.read_one_record() is not None:
        pass
    n_after_drain = t.get_stats()["n_reads"]
    t.read_one_record()  # empty: must NOT count
    assert t.get_stats()["n_reads"] == n_after_drain
    tiny = Table(spark, "stats_tiny", MARKET_SCHEMA, capacity=1)
    assert tiny.write_record(_tick(0, 0))
    assert not tiny.write_record(_tick(0, 1))  # rejected: must NOT count
    assert tiny.get_stats()["n_writes"] == 1


def test_plan_memo_skips_streaming_and_iterative_tags():
    """The prepared-plan memo must never wrap queries that do real work
    at build time: 'streaming' (the drain IS the query) and 'iterative'
    (driver-side loops) are tag-guarded (round-5 advice: q_dedup_clusters
    once needed a manual opt-out despite carrying the tag)."""
    from open_rust_timeseries_db_spark.queries import all_queries

    qs = all_queries()
    for spec in qs.values():
        if {"streaming", "iterative"} & set(spec.tags):
            assert not hasattr(spec.fn, "__wrapped__"), (
                f"{spec.name}: memoized despite {spec.tags}"
            )


def test_plan_memo_is_bounded():
    """A query's memoized plans must not grow without bound across
    sf_dirs (round-5 advice): after touching >4 distinct sf_dir keys,
    only the most recent 4 are retained."""
    from open_rust_timeseries_db_spark.queries.registry import (
        REGISTRY,
        query,
    )

    calls = []

    try:
        @query("q_memo_bound_probe", oracle=None, tags=("test",))
        def probe(spark, sf_dir):
            calls.append(sf_dir)
            return object()  # stand-in; memo never inspects the value

        fn = REGISTRY["q_memo_bound_probe"].fn

        class _SC:
            applicationId = "app-memo-bound"

        class _Spark:
            sparkContext = _SC()

        s = _Spark()
        for i in range(6):
            fn(s, f"/tmp/sfdir{i}")
        assert len(calls) == 6
        # Oldest two evicted; re-requesting dir 0 rebuilds (miss), the
        # newest four hit the memo.
        fn(s, "/tmp/sfdir5")
        assert len(calls) == 6, "newest entry should hit the memo"
        fn(s, "/tmp/sfdir0")
        assert len(calls) == 7, "evicted entry should rebuild"
    finally:
        REGISTRY.pop("q_memo_bound_probe", None)
        session_cache._GROUPS.pop((session_cache.PLAN, "q_memo_bound_probe"), None)


def test_refused_session_conf_fails_build_and_stays_scoped(spark):
    """An override Spark refuses (a static conf) must fail the build, not
    leave the query running under the wrong confs; the override applied
    before it must still be restored when the next query builds."""
    from pyspark.errors import AnalysisException

    from open_rust_timeseries_db_spark.queries.registry import (
        REGISTRY,
        query,
    )

    key = "spark.sql.shuffle.partitions"
    baseline = spark.conf.get(key)
    seen = []
    names = ("q_conf_refused_probe", "q_conf_after_probe")
    try:

        @query(
            names[0],
            oracle=None,
            tags=("test",),
            session_confs={
                key: str(int(baseline) + 3),
                "spark.sql.codegen.cache.maxEntries": "10",
            },
        )
        def refused(spark, sf_dir):
            return object()

        @query(names[1], oracle=None, tags=("test",))
        def after(spark, sf_dir):
            seen.append(spark.conf.get(key))
            return object()

        with pytest.raises(AnalysisException):
            REGISTRY[names[0]].fn(spark, "/tmp/conf-probe")
        REGISTRY[names[1]].fn(spark, "/tmp/conf-probe")
        assert seen == [baseline]
    finally:
        for name in names:
            REGISTRY.pop(name, None)
            session_cache._GROUPS.pop((session_cache.PLAN, name), None)


def test_flush_failure_restores_fifo_and_clears_backpressure(spark, tmp_path):
    """A failed flush must restore the drained rows in order, clear the
    in-flight flag, and leave the table fully usable — the contract
    that makes flush_to_parquet exactly-once instead of at-most-once."""
    blocker = tmp_path / "blocked"
    blocker.write_text("not a directory")
    table = Table(spark, "flush_fail", MARKET_SCHEMA, capacity=64)
    ticks = [_tick(0, i) for i in range(10)]
    for t in ticks:
        assert table.write_record(t)
    with pytest.raises(Exception):
        # Parquet cannot write under a plain file: the drain must fail.
        table.flush_to_parquet(str(blocker / "sub"))
    assert table.record_count() == 10  # everything restored
    assert table.write_record(_tick(0, 99))  # backpressure cleared
    drained = [table.read_one_record() for _ in range(11)]
    assert drained == ticks + [_tick(0, 99)]  # original FIFO order
    assert table.read_one_record() is None


def test_writes_accepted_while_flush_in_flight(spark, monkeypatch, tmp_path):
    """A flush in flight does not refuse writes: a full buffer is the only
    reason write_record returns False. If the flush then fails, its rows
    go back in front of the write made mid-flight, the table refuses
    writes while it holds ``capacity`` or more, and it never holds more
    than ``capacity`` + one batch. The in-flight window is driven
    deterministically by hooking the flush's Arrow writer from the same
    thread."""
    import pyarrow.parquet as pq

    table = Table(spark, "flush_bp", MARKET_SCHEMA, capacity=8)
    for i in range(8):
        assert table.write_record(_tick(1, i))
    observed = {}
    counts = [table.record_count()]

    def hooked_write_table(*args, **kwargs):
        counts.append(table.record_count())
        observed["mid_flight_write"] = table.write_record(_tick(1, 42))
        counts.append(table.record_count())
        raise RuntimeError("abort flush after probing")

    monkeypatch.setattr(pq, "write_table", hooked_write_table)
    with pytest.raises(RuntimeError):
        table.flush_to_parquet(str(tmp_path / "flushed"))
    assert observed["mid_flight_write"] is True
    assert counts[1:] == [0, 1]  # drained atomically, then the write landed
    assert table.record_count() == 9  # 8 restored + the mid-flight write
    assert not table.write_record(_tick(1, 43))  # full: refused
    counts.append(table.record_count())
    assert max(counts) <= 8 + 8  # capacity + one batch
    drained = [table.read_one_record() for _ in range(9)]
    assert drained == [_tick(1, i) for i in range(8)] + [_tick(1, 42)]
    assert table.read_one_record() is None
    assert not os.listdir(tmp_path / "flushed")  # no partial file left



def test_concurrent_writes_and_failing_flushes_lose_nothing(
    spark, monkeypatch, tmp_path
):
    """Stress: more producer threads than cores write while two threads
    flush and every third Arrow write fails. Every accepted record lands
    in exactly one flushed file, and the buffer never holds more than
    capacity + one batch (a flush drains at most ``capacity``)."""
    import itertools
    import sys

    import pyarrow.parquet as pq

    real_write, calls = pq.write_table, itertools.count()

    def flaky_write(*args, **kwargs):
        if next(calls) % 3 == 0:
            raise OSError("injected write failure")
        return real_write(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", flaky_write)
    cap, n_producers, per_producer = 64, 6, 1_000
    table = Table(spark, "stress", MARKET_SCHEMA, capacity=cap)
    out = str(tmp_path / "flushed")
    done = threading.Event()
    peak = [0]

    def producer(p: int) -> None:
        for i in range(per_producer):
            while not table.write_record(_tick(p, i)):
                time.sleep(0.0001)

    def flusher() -> None:
        while not done.is_set():
            peak[0] = max(peak[0], table.record_count())
            try:
                table.flush_to_parquet(out)
            except OSError:
                pass

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        producers = [
            threading.Thread(target=producer, args=(p,)) for p in range(n_producers)
        ]
        flushers = [threading.Thread(target=flusher) for _ in range(2)]
        for t in flushers + producers:
            t.start()
        for t in producers:
            t.join(timeout=120)
        done.set()
        for t in flushers:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in producers + flushers)
    finally:
        sys.setswitchinterval(old_interval)
    while not table.is_empty():
        try:
            table.flush_to_parquet(out)
        except OSError:
            pass
    assert peak[0] <= 2 * cap
    back = pq.read_table(out, columns=["exchange_id", "ts_ns"]).to_pylist()
    got = sorted((r["exchange_id"], r["ts_ns"]) for r in back)
    assert got == sorted(
        (p, _tick(p, i)["ts_ns"]) for p in range(n_producers) for i in range(per_producer)
    )

def test_flushed_file_has_sparks_own_schema(spark, tmp_path):
    """A flush writes through Arrow, not Spark: Spark must still read the
    file with the schema (names, types, field order, nullability) it reads
    for its own write of the same rows, and the same rows back. Every
    accepted field type appears, nullable and not."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), nullable=False),
            T.StructField("qty", T.IntegerType(), nullable=False),
            T.StructField("px", T.DoubleType(), nullable=True),
            T.StructField("w", T.FloatType(), nullable=True),
            T.StructField("sym", T.StringType(), nullable=True),
            T.StructField("raw", T.BinaryType(), nullable=True),
            T.StructField("ok", T.BooleanType(), nullable=False),
        ]
    )
    rows = [
        (
            i,
            i % 7,
            None if i % 5 == 0 else i * 0.25,
            float(i % 3),
            None if i % 4 == 0 else f"s{i}",
            bytes([i]),
            i % 2 == 0,
        )
        for i in range(40)
    ]
    table = Table(spark, "typed", schema, capacity=64)
    for r in rows:
        assert table.write_record(dict(zip(schema.names, r)))
    arrow_dir, spark_dir = str(tmp_path / "arrow"), str(tmp_path / "spark")
    assert table.flush_to_parquet(arrow_dir) == 40
    spark.createDataFrame(rows, schema).write.parquet(spark_dir)

    got = spark.read.parquet(arrow_dir)
    want = spark.read.parquet(spark_dir)

    def fields(df):
        return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]

    assert fields(got) == fields(want)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(rows)
    # One committed file, no hidden temporary left beside it.
    (name,) = os.listdir(arrow_dir)
    assert name.startswith("part-") and name.endswith(".snappy.parquet")


def test_unsupported_field_type_rejected_at_construction(spark):
    """The Arrow builder converts only the types in api._PY_OK exactly;
    any other field type fails when the Table is made, naming the field."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("at", T.TimestampType(), True),
        ]
    )
    with pytest.raises(TypeError, match=r"odd\.at"):
        Table(spark, "odd", schema, capacity=4)
