"""Streaming execution helper: the bounded-drain runner.

The reference's consumers run until a message quota is hit
(src/tests/integration_test.rs:219-221); the verifiable analog here is
``availableNow``: drain everything the source currently has, commit,
stop. :func:`run_available_now_to_memory` drains into a memory sink
for the oracle-checked streaming queries.

The durable sink is the time layout: in ``foreachBatch``,
``sources/layout.append_time_layout(batch_df, path,
ingest_id=batch_id)`` commits each micro-batch atomically and makes a
replay of its batch id a no-op. That upgrades the reference's
torn-write hazard (src/storage/table.rs:61-76 can fail halfway) to
per-batch exactly-once.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from open_rust_timeseries_db_spark.session import scratch_path

# Diagnostic: the last bounded drain's per-batch durationMs maps
# (addBatch / queryPlanning / walCommit / ...), captured before the
# query object goes away — perfbench/query_sweep.py reads this to
# attribute streaming wall time to machinery vs data work.
LAST_DRAIN_PROGRESS: list[dict] = []


def run_available_now_to_memory(
    spark: SparkSession,
    stream: DataFrame,
    mode: str = "complete",
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream with availableNow into a memory sink; return the
    result as a batch DataFrame.

    The memory sink is driver-local — strictly a test/verification
    sink (bounded output only: aggregates or small key sets). Durable
    pipelines append each batch to a time layout instead (module
    docstring).

    The checkpoint (``session.scratch_path``) is removed after the
    drain: safe only because the memory sink is ephemeral too. A
    resumable pipeline must checkpoint to durable storage.

    ``state_partitions`` sizes the stateful-operator partitioning.
    Unlike batch shuffles, streaming state partitions are NOT
    AQE-coalesced and are frozen into the checkpoint at first start, so
    they must be provisioned to expected STATE volume explicitly: each
    partition costs one state-store commit (file create + fsync) per
    micro-batch, so overshooting pure overhead. The batch-session
    default (sized for sf0.1 data shuffles) is ~10x too many for these
    bounded windowed aggregates; a real deployment sizes this to
    state-bytes / executor-memory-budget and scales it by re-keying the
    checkpoint, not by AQE.
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    ckpt_dir = scratch_path(spark, name)
    if state_partitions is not None:
        # Captured at .start() when the stateful plan is bound; restored
        # immediately after so batch queries are unaffected.
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.awaitTermination(timeout_s)
    finally:
        try:
            LAST_DRAIN_PROGRESS[:] = [
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs") or {},
                }
                for p in (q.recentProgress or [])
            ]
        except Exception:  # pragma: no cover - diagnostics only
            pass
        if q.isActive:
            q.stop()
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        # Unload this drain's state-store providers NOW instead of
        # waiting for the maintenance thread (60 s default): each
        # provider keeps its full loaded key map on-heap after the
        # query stops, so a sweep of bounded drains accumulates every
        # drain's state (~1M entries per per-user drain at sf1) until
        # maintenance runs — measured as 8 s -> 89 s blow-ups on later
        # drains in one session, collapsing to a stable 8.7-9.7 s with
        # the explicit unload. StateStore.stop() is the test-suite
        # unload hook; providers lazily re-register (and the
        # maintenance task restarts) on the next stateful query, and a
        # concurrent live query would reload from its checkpoint — the
        # normal recovery path. Best-effort: a private JVM surface, so
        # any signature drift degrades to the maintenance-thread
        # behavior rather than failing the drain.
        try:
            jvm = spark._jvm
            jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:  # pragma: no cover - depends on Spark internals
            pass
    # The memory sink pins its rows on the DRIVER for as long as its
    # temp view stays registered — across a 101-query bench sweep the
    # per-user drains (session/OHLC, ~1M rows each at sf1, two passes
    # apiece) would accumulate unbounded driver heap and GC pressure.
    # Re-home the result into block-manager storage (spillable,
    # ContextCleaner-collected once the caller drops its reference)
    # and drop the sink view: the drain leaves no session residue.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out
