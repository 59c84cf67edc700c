"""Dump .explain('formatted') for named queries to files.

Usage: python scripts/dump_plan.py OUTDIR SUFFIX q_a q_b ... [sf_dir]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query. Uses the same
``get_spark`` session as perfbench/run.py, so the dumped plan is the one
the benchmark runs (minus AQE's runtime re-planning, which explain
cannot show before execution).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    names = [a for a in sys.argv[3:] if a.startswith("q_")]
    dirs = [a for a in sys.argv[3:] if not a.startswith("q_")]
    sf_dir = dirs[0] if dirs else "/root/testdata/sf0.1"
    outdir.mkdir(parents=True, exist_ok=True)

    from open_rust_timeseries_db_spark.queries import all_queries
    from open_rust_timeseries_db_spark.session import get_spark

    spark = get_spark("dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = outdir / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
