"""Regenerate README.md's committed-roll perf-claim blocks from
evidence/legacy/ORACLE_BENCH.json — claims are computed, never
hand-written.

The round-8 verdict caught README prose ("committed pairing: ZERO"
over-gate rows) drifting from the committed artifact (which had two).
Same fix as the PLAN_AUDIT lockstep: the block between the
ORACLE_GATE_CLAIM markers is written by this script and asserted
against a fresh recomputation by tests/test_readme_claims.py, so the
README can only ever state what the committed ORACLE_BENCH.json
contains. That file is the frozen round-12 sf0.1 roll of the retired
round bench; no tool writes it any more.

Usage: python scripts/readme_perf_claims.py
"""

from __future__ import annotations

import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_PATH = ROOT / "evidence" / "legacy" / "ORACLE_BENCH.json"
BEGIN = "<!-- ORACLE_GATE_CLAIM (generated by scripts/readme_perf_claims.py) -->"
END = "<!-- /ORACLE_GATE_CLAIM -->"
AGG_BEGIN = (
    "<!-- ORACLE_AGGREGATE_CLAIM (generated by scripts/readme_perf_claims.py) -->"
)
AGG_END = "<!-- /ORACLE_AGGREGATE_CLAIM -->"

HEAVY_MIN_ORACLE_SEC = 0.2
MID_MIN_ORACLE_SEC = 0.05
GATE = 2.0


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def compute_block(bench: dict) -> str:
    """The claim text, computed from one ORACLE_BENCH.json payload."""
    regimes: dict[str, list[tuple[str, float, float]]] = {
        "heavy": [],
        "mid": [],
        "tiny": [],
    }
    for name, q in sorted(bench["queries"].items()):
        oc = q.get("oracle_cold_sec")
        rc, rw = q.get("ratio_cold"), q.get("ratio_warm")
        if oc is None or rc is None or rw is None:
            continue
        tier = (
            "heavy"
            if oc >= HEAVY_MIN_ORACLE_SEC
            else "mid"
            if oc >= MID_MIN_ORACLE_SEC
            else "tiny"
        )
        regimes[tier].append((name, rc, rw))
    heavy = regimes["heavy"]
    over = sorted(
        (n, rc) for n, rc, _ in heavy if rc > GATE
    )
    over_txt = (
        "none"
        if not over
        else "; ".join(f"{n} {rc:.2f}x" for n, rc in over)
    )
    lines = [
        "Committed-roll regime stats, computed from"
        " `evidence/legacy/ORACLE_BENCH.json`"
        " (regenerate with `python scripts/readme_perf_claims.py`;"
        " drift fails `tests/test_readme_claims.py`):",
        "",
    ]
    for tier, label in (
        ("heavy", f"heavy (oracle >= {HEAVY_MIN_ORACLE_SEC} s)"),
        ("mid", f"mid (oracle {MID_MIN_ORACLE_SEC}-{HEAVY_MIN_ORACLE_SEC} s)"),
        ("tiny", f"tiny (oracle < {MID_MIN_ORACLE_SEC} s)"),
    ):
        rows = regimes[tier]
        if not rows:
            continue
        mc = _median([rc for _, rc, _ in rows])
        mw = _median([rw for _, _, rw in rows])
        lines.append(
            f"- {label}: n={len(rows)}, median {mc:.2f}x cold /"
            f" {mw:.2f}x warm"
        )
    lines.append(
        f"- heavy-regime queries over the {GATE:.0f}x cold gate in this"
        f" committed roll: **{len(over)}** ({over_txt})"
    )
    return "\n".join(lines)


def compute_aggregate_block(bench: dict) -> str:
    """The full-engine aggregate comparison, computed — round 11 caught
    this paragraph hand-written and three rounds stale (README claimed
    6.8 s cache builds / 4.9 s dedup-clusters cold while the committed
    artifact said 39.4 s / 17.9 s). Every number here now regenerates
    with the artifact."""
    qs = bench["queries"]
    builds = bench["cache_build_total_sec"]
    spark_cold = sum(q["spark_cold_sec"] for q in qs.values())
    oracle_cold = bench["oracle_total_cold_sec"]
    overall = (builds + spark_cold) / oracle_cold
    cc = qs.get("q_dedup_clusters")
    lines = [
        "Full-engine aggregate, computed from"
        " `evidence/legacy/ORACLE_BENCH.json`"
        " (regenerate with `python scripts/readme_perf_claims.py`;"
        " drift fails `tests/test_readme_claims.py`):",
        "",
        f"- session cache builds {builds:.1f} s + per-query colds"
        f" {spark_cold:.1f} s vs the DuckDB oracle's {oracle_cold:.1f} s"
        f" cold total = **{overall:.2f}x overall**",
    ]
    if cc:
        ex_spark = builds + spark_cold - cc["spark_cold_sec"]
        ex_oracle = oracle_cold - cc["oracle_cold_sec"]
        lines += [
            f"- that aggregate leans on the one transitive-closure"
            f" oracle: q_dedup_clusters runs {cc['spark_cold_sec']:.1f} s"
            f" cold in Spark vs {cc['oracle_cold_sec']:.1f} s in DuckDB"
            f" ({cc['ratio_cold']:.2f}x)",
            f"- excluding q_dedup_clusters the oracle sweep wins in"
            f" aggregate: Spark {ex_spark:.1f} s (incl. builds) vs DuckDB"
            f" {ex_oracle:.1f} s — ~80 of the batch queries sit in the"
            f" floor-dominated regimes below",
        ]
    return "\n".join(lines)


def main() -> None:
    bench = json.loads(BENCH_PATH.read_text())
    readme = (ROOT / "README.md").read_text()
    for begin, end, block in (
        (BEGIN, END, compute_block(bench)),
        (AGG_BEGIN, AGG_END, compute_aggregate_block(bench)),
    ):
        pat = re.compile(re.escape(begin) + r".*?" + re.escape(end), re.S)
        repl = f"{begin}\n{block}\n{end}"
        if not pat.search(readme):
            raise SystemExit(
                f"README.md is missing the {begin} markers; add them "
                "where the generated block should live."
            )
        readme = pat.sub(repl, readme)
        print(block)
    (ROOT / "README.md").write_text(readme)


if __name__ == "__main__":
    main()
