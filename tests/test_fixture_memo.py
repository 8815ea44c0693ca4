"""session.fixture: the per-process build memo behind the entry's persisted
tables, indexes, models and sketch stores. No Spark session needed."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

import pytest

from jobanalytics_bigdataproject_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def memo(tmp_path, monkeypatch):
    """A fresh, empty memo whose process root lands under tmp_path."""
    monkeypatch.setattr(session, "_FIXTURES", {})
    monkeypatch.setattr(session, "_FIXTURE_ROOT", None)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return session.fixture


def test_builds_once_per_name_and_sf_dir(memo, tmp_path):
    roots = []

    def build(root):
        roots.append(root)
        return root + "/tbl"

    assert os.listdir(tmp_path) == []  # nothing exists before a build
    a = memo("orders", "/sf1", build)
    assert memo("orders", "/sf1", build) == a
    b = memo("orders", "/sf2", build)
    assert b != a and len(roots) == 2
    for r in roots:
        assert os.path.isdir(r) and os.path.basename(r).startswith("orders_")
    # both under one process root, itself under TMPDIR
    assert os.path.dirname(roots[0]) == os.path.dirname(roots[1])
    assert os.listdir(tmp_path) == [os.path.basename(os.path.dirname(roots[0]))]


def test_failed_build_is_retried_into_a_fresh_dir(memo):
    roots = []

    def build(root):
        roots.append(root)
        if len(roots) == 1:
            raise RuntimeError("half-built")
        return root

    with pytest.raises(RuntimeError, match="half-built"):
        memo("idx", "/sf", build)
    assert memo("idx", "/sf", build) == roots[1]
    assert roots[1] != roots[0]
    assert memo("idx", "/sf", build) == roots[1] and len(roots) == 2


def test_concurrent_callers_share_one_build(memo):
    from concurrent.futures import ThreadPoolExecutor

    calls = []

    def build(root):
        calls.append(root)
        time.sleep(0.05)  # widen the check-then-build window
        return root

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(memo, "idx", "/sf", build) for _ in range(32)]
            got = {f.result(timeout=60) for f in futures}
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == 1 and got == {calls[0]}


def test_process_exit_removes_every_fixture_dir(tmp_path):
    code = "\n".join([
        "import json",
        "from jobanalytics_bigdataproject_spark.session import fixture",
        "def build(root):",
        "    with open(root + '/part-0.parquet', 'w') as f:",
        "        f.write('rows')",
        "    return root",
        "print(json.dumps([fixture(n, '/sf', build) for n in ('tbl', 'idx')]))",
    ])
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        check=True, capture_output=True, text=True,
    )
    roots = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(roots) == 2
    for r in roots:  # the builds really wrote under this TMPDIR...
        assert r.startswith(str(tmp_path) + os.sep)
    assert os.listdir(tmp_path) == []  # ...and exit removed all of it
