"""Run one benchmark workload and print its result as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload query-sweep --seed 1 --seconds 12 --trace 0

Workloads: ``query-sweep`` (registered queries, perfbench/query_sweep.py)
and ``tick-ingest`` (Table writes beside layout reads,
perfbench/tick_ingest.py). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ones. The full
record of the run (raw and host-normalized values, canary samples, host
fingerprint, failures and, when traced, every span) is written to
``.perfbench_out/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import host  # noqa: E402
import query_sweep  # noqa: E402
import tick_ingest  # noqa: E402
from tracer import SparkCounter, Tracer, python_workers, self_times  # noqa: E402

SPARK_CPUS = "4"
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "latency_ms": "ms"}


# Every per-layer metric, in report order; a workload that does not
# exercise a layer reports 0 for it.
PER_LAYER = [
    "session.start_s",
    "cache_builds.total_s",
    *(f"cache_builds.{b}_s" for fam in query_sweep.BUILDS.values() for b in fam),
    *(f"queries.{f}_{p}_ms" for f in query_sweep.QUERIES for p in ("cold", "warm")),
    "registry.plan_cold_ms", "registry.plan_warm_ms", "registry.memo_hit_ratio",
    "exec.cold_ms", "exec.warm_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "functions.python_workers",
    "streaming.drain_ms", "streaming.add_batch_ms", "streaming.machinery_ms",
    "streaming.input_rows",
    "ingest.tps", "ingest.burst_visible_s", "ingest.visible_p99_ms",
    "ingest.cycles",
    "api.flush_ms", "api.rows_per_flush", "api.refused_writes",
    "api.dropped_ticks", "api.over_cap_writes", "api.burst_wait_max_ms",
    "api.write_p50_us", "api.write_p99_us",
    "api.write_p999_us",
    "layout.append_ms", "layout.read_ms", "layout.compact_ms",
    "layout.files_before_compact", "layout.files_after_compact",
    "layout.write_amp", "layout.shm_residue_bytes",
    "host.canary_ms", "host.canary_iqr_ms", "host.py_canary_ms",
    "host.gen_late_ms",
    "trace.overhead_ratio",
    *(f"raw.{m}" for m in END_TO_END),
]

# Set-up happens before most canary samples, so set-up times stay raw.
RAW_ONLY = ("setup_s", "session.", "cache_builds.", "host.", "raw.")


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_us", "us"),
                         ("_bytes", "bytes"), ("_ratio", "ratio"),
                         ("_amp", "ratio"), (".tps", "1/s")):
        if name.endswith(suffix):
            return unit
    return "count"


def is_time(name: str) -> bool:
    return unit_of(name) in ("s", "ms", "us")


class Run:
    """State of one benchmark run, shared by the workload code."""

    def __init__(self, args, scratch: Path) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.scratch = scratch
        self.tracer = Tracer(args.trace == 1)
        self.canary = host.Canary()
        self.spark = None
        self.counter: SparkCounter | None = None
        self.workers: set[int] = set()
        self.attempted = 0
        self.failures: list[str] = []
        self.wrong_outputs = 0
        self.e2e_raw: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        # Diagnostics kept in the run record only (per-query times, ...).
        self.extra: dict[str, object] = {}

    def fail(self, what: str, output: bool = True) -> None:
        """Count a failed operation; ``output`` marks a result that is
        missing or wrong, as opposed to an operation the system refused."""
        self.failures.append(what)
        self.wrong_outputs += output

    def setup_done(self) -> None:
        self.e2e_raw["setup_s"] = time.perf_counter() - T_START

    def sample_host(self, jvm: bool = False) -> None:
        """Take a Python canary sample and, with ``jvm``, a JVM one; the
        JVM canary's Spark job is kept out of the counts."""
        with self.tracer.span("host.canary"):
            self.canary.sample(self.spark if jvm else None)
        if jvm:
            self.count_spark()

    def count_spark(self) -> tuple[int, int, int]:
        """Jobs, stages, tasks since the last call (traced runs only)."""
        if self.counter is None:
            return (0, 0, 0)
        with self.tracer.span("trace.count"):
            counts = self.counter.take()
            self.workers |= python_workers(os.getpid())
        return counts


WORKLOADS = {"query-sweep": query_sweep.run_sweep, "tick-ingest": tick_ingest.run_ingest}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "open_rust_timeseries_db_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    scratch.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=SPARK_CPUS,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(scratch / "warehouse"),
        TMPDIR=str(scratch),
    )
    sys.path.insert(0, str(ROOT))

    before = host.snapshot()
    run = Run(args, scratch)
    tr = run.tracer
    fingerprint: dict = {}
    spark = None
    try:
        with tr.span("bench.run", trace="run"):
            with tr.span("session.get_spark"):
                t0 = time.perf_counter()
                from open_rust_timeseries_db_spark.session import get_spark

                spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
                spark.range(1).count()
                run.layers["session.start_s"] = time.perf_counter() - t0
            run.spark = spark
            if tr.enabled:
                with tr.span("trace.count"):
                    run.counter = SparkCounter(spark)
            run.sample_host()
            WORKLOADS[args.workload](run)
            run.sample_host(jvm=True)
        fingerprint = host.fingerprint(spark)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        run.extra["teardown_s"] = time.perf_counter() - t_stop
        residue = host.remove_residue(before)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            scratch.parent.rmdir()
        except OSError:
            pass

    factors = run.canary.factors()
    factor = factors["pair"]
    run.layers.update(
        {
            "functions.python_workers": float(len(run.workers)),
            "layout.shm_residue_bytes": float(residue),
            **run.canary.summary(),
            **{f"raw.{k}": v for k, v in run.e2e_raw.items()},
        }
    )
    if tr.enabled:
        own = self_times(tr.spans)
        root = tr.spans[0]
        total = root["end"] - root["start"]
        run.layers["trace.overhead_ratio"] = total / (total - own.get("trace", 0.0))

    def normalized(name: str, value: float) -> float:
        return value * factor if is_time(name) and not name.startswith(RAW_ONLY) else value

    e2e = {k: normalized(k, run.e2e_raw[k]) for k in END_TO_END}
    layers = {k: normalized(k, run.layers.get(k, 0.0)) for k in PER_LAYER}
    shown = layers if tr.enabled else e2e
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": fingerprint,
        "canary_factors": factors,
        "jvm_canary_samples_ms": run.canary.jvm,
        "py_canary_samples_ms": run.canary.py,
        "end_to_end": e2e,
        "end_to_end_raw": dict(run.e2e_raw),
        "per_layer": layers,
        "per_layer_raw": dict(run.layers),
        "attempted": run.attempted,
        "failures": run.failures,
        **run.extra,
        "spans": tr.spans,
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1)
    )
    for f in run.failures[:50]:
        print(f"FAILED {f}")
    print(
        json.dumps(
            {
                "correct": run.wrong_outputs == 0,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": {
                    k: {"value": v, "unit": unit_of(k)} for k, v in shown.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
