"""Tick ingest beside reads: ``api.Table`` writes, ``sources.layout`` reads.

Two phases after set-up (session start, then a seeded history written
as the layout's first chunk files):

- **Open loop.** ``PRODUCERS`` threads send ``market_data`` ticks
  (the reference integration schema plus ``seq``) at ``RATE`` ticks/s
  each into ``Table(capacity=16_384)`` for the run's measuring time.
  A refused write is retried after 1 ms, up to the reference's cap of
  1,000 attempts; a tick still refused is dropped and counts as a
  failed operation. The main thread runs ingest cycles back to back:
  ``flush_to_parquet`` -> ``append_time_layout`` -> ``read_time_range``
  aggregate (count, max ``seq``, VWAP sums per producer), with
  ``compact_chunks`` every ``COMPACT_EVERY`` cycles. A tick's visible
  latency runs from its scheduled send time to the end of the first
  read that returns it.
- **Closed loop.** The producers write ``BURST`` ticks as fast as the
  table accepts them while the cycles continue. A closed-loop client
  waits out back-pressure: a refused write is retried every 1 ms until
  the table takes it (up to ``BURST_WAIT_S``), so the burst drops no
  tick. Writes the open loop's cap would have dropped are counted as
  ``api.over_cap_writes`` and the longest wait is ``api.burst_wait_max_ms``.
  The ticks made visible per second until the producers finish give the
  burst throughput; the time until every tick is visible is recorded
  beside it.

Every cycle checks that the layout holds exactly the flushed rows and
that each producer's max ``seq`` is its last flushed tick; compaction
must not change the counts; at the end the VWAP per symbol must equal a
Python recomputation over the accepted ticks.
"""

from __future__ import annotations

import random
import shutil
import statistics
import threading
import time

import numpy as np

from host import tree_bytes

PRODUCERS = 2
RATE = 500  # ticks/s per producer in the open loop
CAPACITY = 16_384
RETRY_S = 0.001
RETRY_CAP = 1_000
# The burst's producers retry until accepted; a write still refused
# after this long is dropped (a failure), so a stuck flush cannot hang a run.
BURST_WAIT_S = 60.0
COMPACT_EVERY = 10
BURST = 60_000
HISTORY = 2_000
HISTORY_EXCHANGE = 9
# 2024-02-01 00:00:00 UTC: tick timestamps are the schedule, not the
# wall clock, so the layout's chunking is the same in every run.
BASE_NS = 1_706_745_600_000_000_000
CHUNK_NS = 5_000_000_000


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("symbol_id", T.IntegerType(), False),
            T.StructField("price", T.DoubleType(), False),
            T.StructField("quantity", T.IntegerType(), False),
            T.StructField("ts_nanos", T.LongType(), False),
            T.StructField("exchange_id", T.IntegerType(), False),
            T.StructField("seq", T.LongType(), False),
        ]
    )


def make_ticks(seed: int, exchange: int, n: int, first_seq: int, t0_ns: int,
               step_ns: int) -> list[dict]:
    """``n`` ticks of one producer: a seeded price walk in whole cents,
    reference quantities (100 + i % 100), scheduled timestamps."""
    rng = random.Random(seed * 1_000 + exchange)
    cents = 100_000 + rng.randrange(-5_000, 5_000)
    out = []
    for i in range(first_seq, first_seq + n):
        cents = max(100, cents + rng.choice((-2, -1, 0, 0, 1, 2)))
        out.append(
            {
                "symbol_id": 100 + exchange,
                "price": cents / 100,
                "quantity": 100 + i % 100,
                "ts_nanos": t0_ns + (i - first_seq) * step_ns,
                "exchange_id": exchange,
                "seq": i,
            }
        )
    return out


class Producer(threading.Thread):
    """Writes its ticks on a schedule (open loop, refused writes retried
    up to ``RETRY_CAP`` times) or back to back (closed loop, refused
    writes retried for up to ``BURST_WAIT_S``)."""

    def __init__(self, table, ticks: list[dict], rate: float | None) -> None:
        super().__init__(daemon=True)
        self.table, self.ticks, self.rate = table, ticks, rate
        self.accepted: list[int] = []  # seqs, in acceptance order
        self.write_ns: list[int] = []
        self.late_s: list[float] = []
        self.refused = 0
        self.dropped: list[int] = []
        self.over_cap = 0  # writes refused ``RETRY_CAP`` times or more
        self.max_wait_s = 0.0  # longest refusal stretch of one write
        self.error: BaseException | None = None
        self.t0 = 0.0

    def run(self) -> None:
        try:
            self._send()
        except BaseException as exc:  # noqa: BLE001 - reported by the main thread
            self.error = exc

    def _send(self) -> None:
        self.t0 = time.perf_counter()
        for i, rec in enumerate(self.ticks):
            if self.rate:
                due = self.t0 + i / self.rate
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                self.late_s.append(time.perf_counter() - due)
            first = time.perf_counter()
            deadline = first + BURST_WAIT_S
            tries = 0
            while True:
                t = time.perf_counter_ns()
                if self.table.write_record(rec):
                    self.write_ns.append(time.perf_counter_ns() - t)
                    self.accepted.append(rec["seq"])
                    break
                self.refused += 1
                tries += 1
                if self.rate and tries == RETRY_CAP or time.perf_counter() > deadline:
                    self.dropped.append(rec["seq"])
                    break
                time.sleep(RETRY_S)
            if tries:
                self.max_wait_s = max(self.max_wait_s, time.perf_counter() - first)
                self.over_cap += tries >= RETRY_CAP


class Ingest:
    def __init__(self, run) -> None:
        from open_rust_timeseries_db_spark.api import Table

        self.run = run
        self.spark = run.spark
        self.table = Table(self.spark, "market_data", _schema(), capacity=CAPACITY)
        self.layout = run.scratch / "layout"
        self.stage = run.scratch / "flush"
        self.cycle_no = 0
        self.flushed = HISTORY
        # Per producer: its rows in the layout before the current phase,
        # and how many of the phase's ticks are visible.
        self.base = {p: 0 for p in range(PRODUCERS)}
        self.visible = {p: 0 for p in range(PRODUCERS)}
        self.cycle_s: list[float] = []
        # The first cycle that flushes rows: the ingest path's cold start.
        self.first_cycle_s: float | None = None
        self.flush_ms: list[float] = []
        self.rows_per_flush: list[int] = []
        self.append_ms: list[float] = []
        self.read_ms: list[float] = []
        self.compact_ms: list[float] = []
        self.files_before: list[int] = []
        self.files_after: list[int] = []
        self.bytes_written = 0
        self.visible_lat_s: list[float] = []

    # -- layer calls ----------------------------------------------------

    def write_history(self, seed: int) -> list[dict]:
        from open_rust_timeseries_db_spark.sources.layout import write_time_layout

        hist = make_ticks(seed, HISTORY_EXCHANGE, HISTORY, 0,
                          BASE_NS - HISTORY * 1_000_000, 1_000_000)
        df = self.spark.createDataFrame([tuple(r.values()) for r in hist], _schema())
        with self.run.tracer.span("layout.write_time_layout"):
            write_time_layout(df, str(self.layout), ts_col="ts_nanos",
                              chunk_us=CHUNK_NS)
        self.bytes_written += tree_bytes(self.layout)
        return hist

    def read_state(self) -> dict[int, tuple[int, int, float, float]]:
        """exchange -> (rows, max seq, sum(price*qty), sum(qty))."""
        from pyspark.sql import functions as F

        from open_rust_timeseries_db_spark.sources.layout import read_time_range

        t0 = time.perf_counter()
        with self.run.tracer.span("layout.read_time_range"):
            rows = (
                read_time_range(self.spark, str(self.layout))
                .groupBy("exchange_id")
                .agg(
                    F.count(F.lit(1)), F.max("seq"),
                    F.sum(F.col("price") * F.col("quantity")),
                    F.sum("quantity"),
                )
                .collect()
            )
        self.read_ms.append((time.perf_counter() - t0) * 1e3)
        return {r[0]: (r[1], r[2], r[3], r[4]) for r in rows}

    def cycle(self, producers: list[Producer], rate: float | None) -> None:
        """One flush -> append -> read cycle. ``rate`` is the producers'
        schedule in the open loop (None in the burst): with it, each newly
        visible tick's latency from its scheduled send is recorded."""
        from open_rust_timeseries_db_spark.sources.layout import (
            append_time_layout, chunk_file_stats, compact_chunks,
        )

        tr = self.run.tracer
        n = self.cycle_no
        self.cycle_no += 1
        self.run.sample_host(jvm=n % 2 == 0)
        stage = self.stage / f"c{n}"
        with tr.span("bench.cycle", trace=f"cycle{n}"):
            t0 = time.perf_counter()
            with tr.span("api.flush_to_parquet"):
                rows = self.table.flush_to_parquet(str(stage))
            t1 = time.perf_counter()
            if rows:
                self.flush_ms.append((t1 - t0) * 1e3)
                self.rows_per_flush.append(rows)
                self.flushed += rows
                self.bytes_written += tree_bytes(stage)
                before = tree_bytes(self.layout)
                with tr.span("layout.append_time_layout"):
                    append_time_layout(
                        self.spark.read.parquet(str(stage)), str(self.layout)
                    )
                self.append_ms.append((time.perf_counter() - t1) * 1e3)
                self.bytes_written += max(0, tree_bytes(self.layout) - before)
                shutil.rmtree(stage, ignore_errors=True)
            state = self.read_state()
            seen = time.perf_counter()
            if rows:
                self.cycle_s.append(seen - t0)
                if self.first_cycle_s is None:
                    self.first_cycle_s = seen - t0
            with tr.span("bench.check"):
                self._check(state, producers, rate, seen)
            if n % COMPACT_EVERY == COMPACT_EVERY - 1:
                stats = chunk_file_stats(str(self.layout))
                self.files_before.append(sum(s["n_files"] for s in stats.values()))
                t2 = time.perf_counter()
                with tr.span("layout.compact_chunks"):
                    done = compact_chunks(self.spark, str(self.layout))
                self.compact_ms.append((time.perf_counter() - t2) * 1e3)
                stats = chunk_file_stats(str(self.layout))
                self.files_after.append(sum(s["n_files"] for s in stats.values()))
                self.bytes_written += sum(stats[c]["bytes"] for c in done)
                after = self.read_state()
                with tr.span("bench.check"):
                    if {k: v[:2] for k, v in after.items()} != {
                        k: v[:2] for k, v in state.items()
                    }:
                        self.run.fail(f"cycle {n}: compaction changed the counts")
        self.run.count_spark()

    def _check(self, state, producers, rate: float | None, seen: float) -> None:
        total = sum(v[0] for v in state.values())
        if total != self.flushed:
            self.run.fail(f"cycle {self.cycle_no - 1}: layout rows {total} != flushed {self.flushed}")
        for p, prod in enumerate(producers):
            k = state.get(p, (0, -1))[0] - self.base[p]
            acc = prod.accepted
            if k > len(acc) or (k and state[p][1] != acc[k - 1]):
                self.run.fail(f"cycle {self.cycle_no - 1}: producer {p} max seq "
                              f"{state.get(p, (0, -1))[1]} is not its last flushed tick")
                continue
            if rate is not None:
                first = prod.ticks[0]["seq"]
                self.visible_lat_s.extend(
                    seen - (prod.t0 + (s - first) / rate)
                    for s in acc[self.visible[p]:k]
                )
            self.visible[p] = k


def run_ingest(run) -> None:
    ing = Ingest(run)
    hist = ing.write_history(run.seed)
    run.setup_done()

    def phase(ticks_per: int, first_seq: int, t0_ns: int, rate: float | None):
        step = int(1e9 / rate) if rate else 1_000
        producers = [
            Producer(ing.table, make_ticks(run.seed, p, ticks_per, first_seq,
                                           t0_ns, step), rate)
            for p in range(PRODUCERS)
        ]
        ing.base = {p: ing.base[p] + ing.visible[p] for p in range(PRODUCERS)}
        ing.visible = {p: 0 for p in range(PRODUCERS)}
        t0 = time.perf_counter()
        flushed0 = ing.flushed
        for pr in producers:
            pr.start()
        while any(pr.is_alive() for pr in producers):
            ing.cycle(producers, rate)
        # Rate while the producers load the system: rows made visible by
        # the cycles that started before the last write, per second.
        loaded_rate = (ing.flushed - flushed0) / (time.perf_counter() - t0)
        for pr in producers:
            pr.join()
            if pr.error is not None:
                raise pr.error
        # Drain: cycle until every accepted tick is visible.
        while any(ing.visible[p] < len(pr.accepted) for p, pr in enumerate(producers)):
            ing.cycle(producers, rate)
        return producers, loaded_rate, time.perf_counter() - t0

    n_open = int(RATE * run.seconds)
    open_prod, _, _ = phase(n_open, 0, BASE_NS, RATE)
    burst_prod, burst_tps, burst_visible_s = phase(
        BURST // PRODUCERS, n_open, BASE_NS + int(run.seconds + 1) * 1_000_000_000, None
    )

    # Final check: VWAP per symbol against a Python recomputation.
    accepted = {HISTORY_EXCHANGE: hist}
    for p in range(PRODUCERS):
        keep = set(open_prod[p].accepted) | set(burst_prod[p].accepted)
        accepted[p] = [t for t in open_prod[p].ticks + burst_prod[p].ticks
                       if t["seq"] in keep]
    state = ing.read_state()
    for ex, ticks in accepted.items():
        pq = sum(t["price"] * t["quantity"] for t in ticks)
        q = sum(t["quantity"] for t in ticks)
        got = state.get(ex)
        if got is None or got[0] != len(ticks) or abs(got[2] / got[3] - pq / q) > 1e-9 * (pq / q):
            run.fail(f"VWAP of exchange {ex} differs from the recomputation")

    prods = open_prod + burst_prod
    dropped = sum(len(p.dropped) for p in prods)
    run.attempted += sum(len(p.ticks) for p in prods)
    for p in prods:
        why = (f"dropped after {RETRY_CAP} attempts" if p.rate
               else f"still refused after {BURST_WAIT_S:.0f} s")
        for seq in p.dropped:
            run.fail(f"tick {p.ticks[0]['exchange_id']}/{seq} {why}", output=False)
    write_us = np.array([ns for p in open_prod for ns in p.write_ns]) / 1e3
    late_ms = np.array([s for p in open_prod for s in p.late_s]) * 1e3
    run.e2e_raw.update(
        # The burst's times are per-layer metrics only: a 60k-tick burst
        # spans about four cycles, so where they fall against its start
        # and end moved its time by a ten-run spread of 0.29.
        cold_s=ing.first_cycle_s,
        warm_s=statistics.median(ing.cycle_s),
        latency_ms=float(np.median(ing.visible_lat_s)) * 1e3,
    )
    final_bytes = tree_bytes(ing.layout)
    run.layers.update(
        {
            "ingest.tps": burst_tps,
            "ingest.burst_visible_s": burst_visible_s,
            "ingest.visible_p99_ms": float(np.percentile(ing.visible_lat_s, 99)) * 1e3,
            "ingest.cycles": float(ing.cycle_no),
            "api.write_p50_us": float(np.median(write_us)),
            "api.write_p99_us": float(np.percentile(write_us, 99)),
            "api.write_p999_us": float(np.percentile(write_us, 99.9)),
            "api.flush_ms": statistics.median(ing.flush_ms),
            "api.rows_per_flush": statistics.median(ing.rows_per_flush),
            "api.refused_writes": float(sum(p.refused for p in prods)),
            "api.dropped_ticks": float(dropped),
            "api.over_cap_writes": float(sum(p.over_cap for p in burst_prod)),
            "api.burst_wait_max_ms": max(p.max_wait_s for p in burst_prod) * 1e3,
            "layout.append_ms": statistics.median(ing.append_ms),
            "layout.read_ms": statistics.median(ing.read_ms),
            "layout.compact_ms": statistics.median(ing.compact_ms) if ing.compact_ms else 0.0,
            "layout.files_before_compact": float(sum(ing.files_before)),
            "layout.files_after_compact": float(sum(ing.files_after)),
            "layout.write_amp": ing.bytes_written / final_bytes,
            "host.gen_late_ms": float(np.percentile(late_ms, 99)),
        }
    )
