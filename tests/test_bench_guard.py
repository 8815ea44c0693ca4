"""bench.py's contended-machine guard (VERDICT r4 #8): the 2x perf gate
is meaningless if another Spark driver JVM shares the cores, so bench
must refuse to start rather than record polluted numbers."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_detects_live_foreign_spark_jvm(spark):
    # the pytest session's own Spark JVM is a CHILD of this process (not an
    # ancestor), so from bench's perspective it is exactly the foreign
    # driver the guard exists to catch
    spark.range(1).count()  # ensure the JVM is fully up
    jvms = bench._foreign_spark_jvms()
    assert jvms, "guard failed to see a live Spark driver JVM"
    # (the returned cmd is a truncated display snippet; the marker match
    # itself ran against the full cmdline inside _foreign_spark_jvms)
    assert all(isinstance(pid, int) and cmd for pid, cmd in jvms)


def test_guard_refuses_with_exit_code_2(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD", "on")
    with pytest.raises(SystemExit) as exc:
        bench._guard_idle_machine(wait_s=0.0, poll_s=0.05)
    assert exc.value.code == 2


def test_guard_escape_hatch(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD", "off")
    bench._guard_idle_machine(wait_s=0.0)  # no exit


def test_guard_passes_on_idle_machine(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD", "on")
    monkeypatch.setattr(bench, "_foreign_spark_jvms", lambda: [])
    bench._guard_idle_machine(wait_s=0.0)  # no exit


def test_ancestors_excluded():
    # our own pid chain must never count as "foreign"
    assert os.getpid() in bench._ancestor_pids()
    for pid, _ in bench._foreign_spark_jvms():
        assert pid not in bench._ancestor_pids()


# --- quiet-median statistic (VERDICT r9 #5) ---------------------------------


def test_quiet_median_idle_box_is_plain_median():
    import statistics

    runs = [0.40, 0.38, 0.42]
    assert bench._quiet(runs) == runs
    assert bench._median_quiet(runs) == statistics.median(runs)


def test_quiet_median_drops_contention_stalls():
    # the r9 driver artifact's q3_priority_vs_overall vector: clean
    # primaries then a contended sweep window; the old REPLACE protocol
    # reported 1.64 s (6.97x) — the quiet median must stay on the clean
    # runs' side
    runs = [0.38, 0.38, 0.42, 0.79, 1.70, 1.64]
    quiet = bench._quiet(runs)
    assert 1.70 not in quiet and 1.64 not in quiet
    assert bench._median_quiet(runs) < 0.5


def test_quiet_median_pure_stall_sweep_changes_nothing():
    primary = [0.38, 0.38, 0.39]
    stalls = [1.70, 1.64, 1.80]
    assert bench._median_quiet(primary + stalls) == bench._median_quiet(primary)


def test_quiet_median_keeps_genuine_regressions():
    # a real plan regression is slow on EVERY run — nothing is a stall
    # relative to its own min, so the quiet median reports it honestly
    runs = [4.1, 4.3, 4.2]
    assert bench._quiet(runs) == runs
    assert bench._median_quiet(runs) == 4.2


def test_quiet_median_absolute_floor_for_subsecond_jitter():
    # at the job-overhead floor 3x min alone would flag ordinary jitter;
    # the +0.05 s floor keeps a 0.01->0.04 s spread intact
    runs = [0.01, 0.04, 0.02]
    assert bench._quiet(runs) == runs


def test_quiet_median_fast_outlier_does_not_collapse():
    # one fluke-fast run must not disqualify the normal runs: the cut
    # anchors on the SECOND-fastest, so the median stays representative
    runs = [0.10, 0.40, 0.41, 0.42]
    assert bench._quiet(runs) == runs
    assert bench._median_quiet(runs) == pytest.approx(0.405)
    # and the min-vs-second disagreement is flagged for extra draws
    assert bench._ambiguous(runs)
    assert not bench._ambiguous([0.40, 0.41, 0.42])
