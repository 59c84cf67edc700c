"""Per-layer report of one run record, or a layer-by-layer diff of two.

Usage, from the repository root:

    python3 perfbench/summary.py .perfbench_out/tick-ingest-seed1-trace1.json
    python3 perfbench/summary.py --diff OLD.json NEW.json

The report prints self time per layer from the record's spans (they
must sum to the root span), the per-layer metrics and the trace
overhead; given an untraced record of the same workload it also prints
the traced/untraced ratio of each end-to-end metric. The diff flags
only deltas larger than the benchmark's own run-to-run spread, taken
from ``evidence/spread.json`` (the interquartile range over ten seeds,
as a share of the median); counts must repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from tracer import self_times  # noqa: E402

SPREAD_PATH = HERE / "evidence" / "spread.json"
# Counts that repeat exactly from run to run of one workload.
EXACT = {
    "exec.jobs", "exec.stages", "exec.tasks", "streaming.input_rows",
    "registry.memo_hit_ratio", "functions.python_workers",
}


def report(rec: dict, untraced: dict | None) -> None:
    print(f"{rec['workload']} seed {rec['seed']} trace {rec['trace']}: "
          f"{rec['attempted']} attempted, {len(rec['failures'])} failed")
    for f in rec["failures"]:
        print(f"  FAILED {f}")
    spans = rec.get("spans") or []
    if spans:
        root = spans[0]
        total = root["end"] - root["start"]
        own = self_times(spans)
        print(f"\nself time by layer (root span {total:.3f} s, "
              f"{len(spans)} spans):")
        for layer, s in sorted(own.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:16s} {s:9.3f} s  {100 * s / total:5.1f} %")
        print(f"  {'sum':16s} {sum(own.values()):9.3f} s")
    print("\nper-layer metrics (host-normalized; raw in per_layer_raw):")
    for k, v in rec["per_layer"].items():
        if v:
            print(f"  {k:38s} {v:14.4f}")
    print("\nend-to-end (host-normalized):")
    for k, v in rec["end_to_end"].items():
        line = f"  {k:10s} {v:12.4f}"
        if untraced is not None:
            line += f"   traced/untraced {v / untraced['end_to_end'][k]:.3f}"
        print(line)


def diff(old: dict, new: dict) -> int:
    if old["workload"] != new["workload"]:
        raise SystemExit("records are of different workloads")
    spreads = {}
    if SPREAD_PATH.exists():
        spreads = json.loads(SPREAD_PATH.read_text()).get(old["workload"], {})
    default = max(spreads.values(), default=0.1)
    flagged = 0
    print(f"{'metric':38s} {'old':>12s} {'new':>12s} {'delta':>8s} {'spread':>7s}")
    for section in ("end_to_end", "per_layer"):
        for k, a in old[section].items():
            b = new[section].get(k)
            if b is None or (a == 0 and b == 0):
                continue
            rel = (b - a) / a if a else float("inf")
            limit = 0.0 if k in EXACT else spreads.get(k, default)
            # Host speed and raw times are expected to drift between runs.
            drifts = k.startswith(("host.", "raw."))
            mark = " <--" if abs(rel) > limit and not drifts else ""
            flagged += bool(mark)
            print(f"{k:38s} {a:12.4f} {b:12.4f} {rel:+8.1%} {limit:7.1%}{mark}")
    print(f"\n{flagged} metric(s) moved beyond the run-to-run spread")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("record", nargs="?", help="run record to report")
    ap.add_argument("--untraced", help="untraced record of the same workload")
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"))
    args = ap.parse_args(argv)
    if args.diff:
        old, new = (json.loads(Path(p).read_text()) for p in args.diff)
        return diff(old, new)
    if not args.record:
        ap.error("give a record or --diff OLD NEW")
    rec = json.loads(Path(args.record).read_text())
    untraced = json.loads(Path(args.untraced).read_text()) if args.untraced else None
    report(rec, untraced)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
