"""README perf claims are GENERATED from ORACLE_BENCH.json, not
hand-written — this lockstep test fails on any drift (the round-8
verdict caught prose claiming ZERO over-gate rows while the committed
artifact had two). The code paths README and PARITY cite must exist.
Pure-Python: no Spark session."""

from __future__ import annotations

import importlib.util
import json
import re
from pathlib import Path

import pytest

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


_PY_PATH = re.compile(r"(?<![\w./-])[\w./-]+\.py\b(?:::[\w:]+)?")


def _cited_py_paths(text: str) -> list[str]:
    """Each ``*.py`` path (with its ``::name`` suffix, if any) in the
    markdown's inline code spans, and each one with a ``/`` in its
    fenced blocks (a bare name there is an entry of a drawn file tree,
    relative to its branch)."""
    fenced = re.findall(r"```(.*?)```", text, re.S)
    inline = re.findall(r"`([^`\n]+)`", re.sub(r"```.*?```", "", text, flags=re.S))
    return [m for span in inline for m in _PY_PATH.findall(span)] + [
        m for span in fenced for m in _PY_PATH.findall(span) if "/" in m
    ]


@pytest.mark.parametrize("doc", ["README.md", "PARITY.md"])
def test_cited_paths_exist(doc):
    """Every backticked ``*.py`` path resolves from the repo root or
    from the package root, and a cited ``path.py::name`` defines
    ``name``: a deleted module or test must take its citations with it."""
    pkg = ROOT / "open_rust_timeseries_db_spark"
    cited = _cited_py_paths((ROOT / doc).read_text())
    assert cited, f"{doc} cites no .py path: the extraction broke"
    missing = []
    for ref in cited:
        path, _, name = ref.partition("::")
        found = [p for p in (ROOT / path, pkg / path) if p.is_file()]
        if not found:
            missing.append(ref)
        elif name and not re.search(
            rf"^\s*(?:def|class) {name.split('::')[-1]}\b",
            found[0].read_text(),
            re.M,
        ):
            missing.append(ref)
    assert not missing, f"{doc} cites paths that do not exist: {sorted(set(missing))}"
