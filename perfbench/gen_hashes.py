"""Regenerate ``expected_hashes.json`` from the queries' DuckDB oracles.

Usage (from the repository root): python3 perfbench/gen_hashes.py

Runs every registered query of the benchmark's query modules through
its DuckDB oracle SQL over the committed ``perfbench/data`` tables and
records row count, column names and the value hash. Spark is
not started: the expected values are independent of the engine.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from checks import EXPECTED_PATH, summarize  # noqa: E402
from query_sweep import DATA_DIR, QUERY_MODULES  # noqa: E402

from open_rust_timeseries_db_spark.queries import all_queries  # noqa: E402


def main() -> int:
    con = duckdb.connect()
    for f in sorted(DATA_DIR.glob("*.parquet")):
        con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    out: dict[str, dict] = {}
    for name, spec in sorted(all_queries().items()):
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        if module not in QUERY_MODULES:
            continue
        t0 = time.perf_counter()
        out[name] = summarize(con.sql(spec.oracle).df())
        print(f"{name}: {out[name]['rows']} rows ({time.perf_counter() - t0:.2f}s)")
    EXPECTED_PATH.write_text(
        json.dumps(
            {"data": "perfbench/data", "queries": out}, indent=1, sort_keys=True
        )
        + "\n"
    )
    print(f"wrote {len(out)} expected results to {EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
