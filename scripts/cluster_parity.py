"""Multi-executor parity run: the full oracle suite on local-cluster.

``local[*]`` runs every task in ONE JVM: closures are never serialized
across a process boundary, broadcasts are never shipped over the wire,
and the shuffle path is in-process. This script is the cheapest real
test of the multi-executor story the 100-TB design claims: a
``local-cluster[W, C, M]`` master spawns W separate executor JVMs (C
cores, M MB each), so task closures, broadcast materialization, Python
worker launch on executors, and the network shuffle path all actually
execute.

Runs every __spark_entry__ query vs its DuckDB oracle (same compare as
scripts/driver_sim.py) at the given sf dir.

Usage:
    python scripts/cluster_parity.py [sf_dir] [workers] [cores] [mem_mb]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as contract  # noqa: E402
from driver_sim import TABLE_NAMES, value_hash  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
WORKERS = int(sys.argv[2]) if len(sys.argv) > 2 else 2
CORES = int(sys.argv[3]) if len(sys.argv) > 3 else 8
MEM_MB = int(sys.argv[4]) if len(sys.argv) > 4 else 4096


def main() -> int:
    from pyspark.sql import SparkSession

    from open_rust_timeseries_db_spark.session import WORKER_MODULE

    spark = (
        SparkSession.builder.master(
            f"local-cluster[{WORKERS},{CORES},{MEM_MB}]"
        )
        .appName("cluster-parity")
        .config("spark.sql.shuffle.partitions", str(WORKERS * CORES))
        .config("spark.ui.enabled", "false")
        # Executor JVMs are separate processes: they need the python
        # worker to import this repo (kernels ship as closures, but
        # the package itself must be importable for unpickling).
        .config(
            "spark.executorEnv.PYTHONPATH",
            str(Path(__file__).resolve().parent.parent),
        )
        # The engine's worker module, so executor-side Python workers
        # start it as get_spark sessions do.
        .config("spark.python.worker.module", WORKER_MODULE)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_exec = spark.sparkContext.defaultParallelism
    print(f"[cluster] master=local-cluster[{WORKERS},{CORES},{MEM_MB}] "
          f"defaultParallelism={n_exec}")

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = contract.queries(), contract.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows in {dt:.2f}s")
            n_pass += 1
            continue
        want = con.sql(oracles[name]).df()
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_rows and ok_cols and value_hash(got) == value_hash(want)
        status = "PASS" if ok_hash else "FAIL"
        print(
            f"[{status}] {name}: rows {len(got)}/{len(want)} "
            f"cols_ok={ok_cols} hash_ok={ok_hash} ({dt:.2f}s)"
        )
        n_pass += ok_hash
        n_fail += not ok_hash
    print(f"== {n_pass} pass, {n_fail} fail ==")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
