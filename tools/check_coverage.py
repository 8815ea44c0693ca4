#!/usr/bin/env python
"""COVERAGE.md lockstep check (VERDICT r6 #10) + evidence audit (r7 #10).

COVERAGE.md ends with a GENERATED appendix (between the markers below)
enumerating every declared query name with its oracle/rows-only status.
``python tools/check_coverage.py`` verifies the appendix and the
summary-count line against the live ``queries()`` / ``oracle_sql()``;
``--write`` regenerates the appendix in place. Run as part of any
query-adding commit (also wired as a pytest in
tests/test_evidence_window.py::test_coverage_lockstep).

``--evidence`` additionally audits the committed CORRECTNESS_r*.json
artifacts against the declared surface (VERDICT r7 #10 — stale evidence
must fail loudly instead of rotting):

- every ORACLE-backed query's latest green row must be within the
  4-round staleness bound the evidence-window rotation guarantees
  (``max_round - 3``; never-checked queries are exempt — they are new);
- a query with artifact rows but no longer declared is flagged (ghost
  evidence — the citation outlived the query);
- any ``rN`` citation within 80 chars after a backticked query name in
  COVERAGE.md prose must not claim a round NEWER than the artifacts
  show for that query (an aspirational citation), nor cite a query the
  artifacts never saw.

This mode is the builder's per-round audit, deliberately NOT wired into
the strict pytest gate: the artifacts are driver-written after the
snapshot, so the strict gate enforces the bound by SIMULATION instead
(tests/test_evidence_window.py) and this mode cross-checks reality.

Exit 0 = in lockstep; exit 1 = drift, with the drift printed.
"""
from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BEGIN = "<!-- BEGIN GENERATED QUERY APPENDIX (tools/check_coverage.py) -->"
END = "<!-- END GENERATED QUERY APPENDIX -->"
PATH = os.path.join(ROOT, "COVERAGE.md")


def _appendix(names: list[str], oracle: set[str]) -> str:
    lines = [
        BEGIN,
        "",
        "### Appendix: declared query names (generated — do not hand-edit)",
        "",
        f"{len(names)} queries total; {len(oracle)} oracle-checked, "
        f"{len(names) - len(oracle)} rows-only.",
        "",
    ]
    for n in sorted(names):
        lines.append(f"- `{n}` — {'oracle' if n in oracle else 'rows-only'}")
    lines += ["", END]
    return "\n".join(lines)


def check(write: bool = False) -> list[str]:
    import __spark_entry__ as entry

    names = list(entry.queries().keys())
    oracle = set(entry.oracle_sql())
    text = open(PATH).read()
    want = _appendix(names, oracle)
    problems: list[str] = []
    m = re.search(re.escape(BEGIN) + r".*?" + re.escape(END), text, re.DOTALL)
    if write:
        new = (
            text.replace(m.group(0), want)
            if m
            else text.rstrip() + "\n\n" + want + "\n"
        )
        open(PATH, "w").write(new)
        return []
    if not m:
        return [f"generated appendix missing — run: python {__file__} --write"]
    if m.group(0) != want:
        problems.append(
            "appendix out of date with queries()/oracle_sql() — run: "
            f"python {__file__} --write"
        )
    # every prose summary-count line (not just the appendix's) must agree
    want_counts = (len(names), len(oracle), len(names) - len(oracle))
    for c in re.findall(
        r"(\d+) queries total; (\d+) oracle-checked, (\d+) rows-only", text
    ):
        if tuple(map(int, c)) != want_counts:
            problems.append(
                f"summary-count line says {c}, live is {want_counts}"
            )
    return problems


def check_evidence() -> list[str]:
    """VERDICT r7 #10: diff evidence freshness + rN citations against the
    committed CORRECTNESS artifacts. See module docstring."""
    import glob
    import json

    import __spark_entry__ as entry

    names = set(entry.queries().keys())
    oracle = set(entry.oracle_sql())
    last: dict[str, int] = {}
    max_round = 0
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.rsplit("/", 1)[-1])
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        try:
            rows = json.load(open(path))
        except Exception:  # noqa: BLE001 — unreadable artifact, skip
            continue
        if not isinstance(rows, dict):
            continue
        for q, row in rows.items():
            ok = isinstance(row, dict) and row.get("hash_match") is not False \
                and row.get("rows_match") is not False and not row.get("err")
            if ok:
                last[q] = max(last.get(q, 0), rnd)
    problems: list[str] = []
    if not max_round:
        return ["no CORRECTNESS_r*.json artifacts found"]
    bound = max_round - 3
    for q in sorted(oracle):
        r = last.get(q)
        if r is not None and r < bound:
            problems.append(
                f"stale evidence: {q} last green r{r}, bound r{bound} "
                "(evidence-window rotation should have re-checked it)"
            )
    for q in sorted(set(last) - names):
        problems.append(f"ghost evidence: {q} has artifact rows but is not declared")
    # rN citations adjacent to backticked query names in COVERAGE prose
    text = open(PATH).read()
    for m in re.finditer(r"`([a-z0-9_]+)`([^`]{0,80}?)\br(\d+)\b", text):
        q, cited = m.group(1), int(m.group(3))
        if q not in names:
            continue  # not a query name — a module/flag in backticks
        have = last.get(q)
        if have is None:
            problems.append(
                f"citation claims r{cited} evidence for {q}, artifacts have none"
            )
        elif cited > have:
            problems.append(
                f"citation claims r{cited} evidence for {q}, artifacts only show r{have}"
            )
    return problems


if __name__ == "__main__":
    write = "--write" in sys.argv
    problems = check(write=write)
    if "--evidence" in sys.argv:
        problems += check_evidence()
    for p in problems:
        print(f"DRIFT: {p}")
    if not problems:
        print(
            "COVERAGE.md appendix "
            + ("regenerated" if write else "in lockstep with queries()/oracle_sql()")
        )
    sys.exit(1 if problems else 0)
