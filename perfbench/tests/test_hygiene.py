"""Disk hygiene: a run leaves nothing behind in the bench temp dir, so
back-to-back runs do not grow the disk. Starts one real (short) traced
``lakehouse_dml`` run, the workload that writes tables and an event log.

    python3 -m pytest perfbench/tests/test_hygiene.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORK = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, ROOT)
from perfbench.workloads import dir_bytes  # noqa: E402


def _run_dirs_bytes() -> int:
    """Bytes under the bench temp dir, not counting the cached input tables."""
    if not os.path.isdir(WORK):
        return 0
    return sum(dir_bytes(os.path.join(WORK, d)) for d in os.listdir(WORK) if d != "data")


def test_a_run_leaves_the_bench_temp_dir_as_it_found_it():
    before = _run_dirs_bytes()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "lakehouse_dml", "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["attempted"] > 0
    assert result["metrics"]["sources.snapshots.files_added"]["value"] > 0
    assert _run_dirs_bytes() == before
    assert not [d for d in os.listdir(WORK) if d.startswith("run-")]
