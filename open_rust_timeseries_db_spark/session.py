"""SparkSession factory tuned for this engine.

The session is configured for correctness-stable, scale-aware execution:
AQE on (runtime join re-planning + skew handling), Arrow on (all our
Python UDFs are pandas UDFs), UTC session time, and nanosecond parquet
timestamps surfaced as epoch-nano longs (Spark has no ns-precision
timestamp; the reference's native unit is nanoseconds, reference
src/tests/integration_test.rs:169-173).

``tune_session`` is idempotent and safe to call on an externally-created
session (the verification driver builds its own); it only sets runtime
SQL confs. Static SQL confs (``STATIC_CONFS``) apply only to a session
``get_spark`` creates: an external session keeps its own.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

_GIB = 1 << 30


def _host_memory_bytes() -> int:
    """Total physical memory, or 0 when the probe is unavailable."""
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return 0


def _default_driver_memory() -> tuple[str, bool]:
    """(heap size string, whether to pre-touch) sized to THIS host.

    The bench box (128 GB) gets the measured-optimal 24g pre-touched
    heap; smaller hosts get ~1/4 of physical memory (floor 2g) so the
    library never fails JVM startup on a laptop or a small CI
    container, and pre-touch is only worth its startup cost once the
    heap is big enough for first-touch zeroing to distort queries.
    """
    total = _host_memory_bytes()
    if total >= 96 * _GIB:
        return "24g", True
    if total <= 0:  # probe failed: conservative library default
        return "4g", False
    heap_gib = max(2, min(24, total // (4 * _GIB)))
    return f"{heap_gib}g", heap_gib >= 8


def _default_local_dir() -> str:
    """tmpfs scratch only when /dev/shm can actually hold it: the
    engine's one tmpfs decision (shuffle, spill and :func:`scratch_path`).

    Containers commonly mount /dev/shm at 64 MB; a heavy shuffle there
    dies on ENOSPC. Require several GiB free before leaving disk.
    """
    try:
        if os.path.isdir("/dev/shm") and (
            shutil.disk_usage("/dev/shm").free >= 8 * _GIB
        ):
            return "/dev/shm/spark-graft-local"
    except OSError:
        pass
    return "/tmp"


def scratch_path(spark: SparkSession, name: str) -> str:
    """Path of the session artifact ``name`` (a layout copy, a drain
    checkpoint) under ``graft/`` in the driver's ``SparkFiles`` root,
    ``<spark.local.dir>/spark-<uuid>/userFiles-<uuid>``, which Spark
    deletes at ``spark.stop()``. Executors read it by path: on a
    multi-host cluster ``spark.local.dir`` must be shared storage."""
    root = spark._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    return os.path.join(root, "graft", name)

# Runtime-settable SQL confs applied to any session we touch.
# ``tune_session`` sets them with ``spark.conf.set``, so none may be a
# static conf (tests/test_session.py checks each against Spark's own
# ``SQLConf.isStaticConfigKey``).
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.ts is parquet TIMESTAMP(NANOS); Spark would refuse
    # the scan otherwise. Read as epoch-nanos LongType (lossless).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast conversion — the levers that keep
    # the same plan viable from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Respect the 64MB advisory size when coalescing instead of keeping
    # one post-shuffle task per core: small shuffles collapse to the few
    # tasks their bytes justify (cuts per-query scheduling floor ~2x
    # locally), and at 100 TB the identical setting yields right-sized
    # partitions. CPU-heavy-but-byte-light stages opt out with an
    # explicit keyed repartition (see operators/dedupe.py).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # All Python execution in this engine is Arrow-vectorized.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-time semantics for tests/oracles.
    "spark.sql.session.timeZone": "UTC",
}

# Static SQL confs: fixed when the session is created, so only
# ``get_spark``'s builder can apply them. An external session keeps its
# own values for these; ``tune_session`` cannot change them.
STATIC_CONFS: dict[str, str] = {
    # Whole-stage-codegen class cache. The default (100 entries) LRU
    # THRASHES under a many-query workload: one analytics pass here
    # compiles several hundred distinct codegen units (AQE re-plans
    # multiply them), so by the time a unit recurs it has been evicted
    # and janino recompiles it — measured 2.2x slower on a cold
    # 15-query relational sweep (19.2 s -> 8.6 s) and a recompile tax
    # on every warm pass. Compiled classes are ~10-100 KB; 10k entries
    # is comfortably within driver memory and right for a long-lived
    # multi-tenant session at any scale.
    "spark.sql.codegen.cache.maxEntries": "10000",
}

# ``spark.python.worker.module`` of a ``get_spark`` session (a core conf,
# fixed at context start): the top-level ``pyspark_graft_worker.py``.
WORKER_MODULE = "pyspark_graft_worker"


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply this engine's runtime confs to an existing session. A conf
    Spark refuses raises; the static confs are ``get_spark``'s alone."""
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    return spark


def get_spark(
    app_name: str = "open_rust_timeseries_db_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default all cores).
    Shuffle partitions default to the core count — right-sized for local
    benchmarking; on a real cluster this is AQE-coalesced anyway.
    ``spark.local.dir``, which holds the session's artifacts
    (:func:`scratch_path`), is ``SPARK_LOCAL_DIRS`` or
    :func:`_default_local_dir`. Python workers must import
    :data:`WORKER_MODULE` as they import the package.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else (os.cpu_count() or 8)

    # Single-JVM local mode: the driver heap IS the executor heap.
    # On the 128 GB / 32-core bench box this resolves to 24g pre-sized
    # (-Xms == -Xmx): the 8g default turned the heavy pair shuffles
    # into a GC lottery (q_ngram_jaccard at sf1 swung 23-49 s warm
    # between passes; at a right-sized heap it runs 9.5 s steady), and
    # growing the heap lazily charged first-touch queries for the
    # expansion. Smaller hosts get ~1/4 of physical memory so library
    # consumers never fail JVM startup (_default_driver_memory).
    # On a cluster this is plain executor sizing.
    default_mem, pretouch = _default_driver_memory()
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", default_mem)
    # -Xms == -Xmx + AlwaysPreTouch: commit AND fault the heap at
    # JVM start (~3 s once) — without the pre-touch the first big
    # query pays ~35 s of first-touch page zeroing spread over its
    # hot loops (measured: q_ngram_jaccard pass 1 ran 73 s vs 16 s
    # warm with identical job/task counts). Skipped on small heaps
    # where zeroing is cheap and startup latency matters more.
    java_opts = "-Xms" + driver_mem + (" -XX:+AlwaysPreTouch" if pretouch else "")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", java_opts),
        )
        # Session scratch on tmpfs when it has room: the bench box's
        # /tmp is virtio disk whose I/O latency swings ~2x between
        # passes (measured on the sf1 pair shuffles).
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", _default_local_dir()),
        )
        .config("spark.python.worker.module", WORKER_MODULE)
        # Anything Spark writes to its catalog warehouse goes to a
        # scratch dir, never the working directory.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    for key, value in STATIC_CONFS.items():
        builder = builder.config(key, value)
    return tune_session(builder.getOrCreate())
