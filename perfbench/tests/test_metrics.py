"""Unit tests of the benchmark's arithmetic: span self time (also across
pool threads), per-op latency and the tail, event-log counters and space_amp.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.run import _beta_cdf, op_latencies, quantile_hd  # noqa: E402
from perfbench.workloads import Record, dir_bytes, space_amp  # noqa: E402

EVENT_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_sf0.001.jsonl")


class Clock:
    """Hand-advanced clock: spans last exactly as long as the test says."""

    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now

    def tick(self, s):
        self.now += s


def _traced(clock):
    tr = trace.Tracer(clock=clock)
    tr.enabled = True
    return tr


def test_self_time_subtracts_children_on_the_same_thread():
    clock = Clock()
    tr = _traced(clock)
    inner = tr.wrap(lambda: clock.tick(2.0), "operators.dedup")

    def outer_fn():
        clock.tick(1.0)
        inner()
        clock.tick(3.0)

    tr.wrap(outer_fn, "sources.readers")()
    self_s, calls = trace.layer_totals(tr.spans, [(0.0, 100.0)])
    assert self_s == {"sources.readers": 4.0, "operators.dedup": 2.0}
    assert calls == {"sources.readers": 1, "operators.dedup": 1}


def test_same_layer_nesting_counts_one_call_and_no_double_time():
    clock = Clock()
    tr = _traced(clock)
    helper = tr.wrap(lambda: clock.tick(1.5), "sources.snapshots")

    def api():
        clock.tick(0.5)
        helper()
        helper()

    tr.wrap(api, "sources.snapshots")()
    self_s, calls = trace.layer_totals(tr.spans, [(0.0, 100.0)])
    assert self_s == {"sources.snapshots": 3.5}  # == the outer span's duration
    assert calls["sources.snapshots"] == 1


def test_pool_thread_spans_are_roots_attributed_by_window():
    clock = Clock()
    tr = _traced(clock)
    arm = tr.wrap(lambda: clock.tick(2.0), "operators.similarity")

    def overlap():
        clock.tick(1.0)
        with ThreadPoolExecutor(1) as pool:
            pool.submit(arm).result()  # the caller waits: its clock runs on
        clock.tick(1.0)

    tr.wrap(overlap, "ml")()
    clock.tick(10.0)
    arm()  # after the op window: not attributed
    self_s, calls = trace.layer_totals(tr.spans, [(0.0, 4.0)])
    # the pool span is not the caller's child (other thread), so the
    # caller keeps its whole 4 s and the arm adds its own 2 s
    assert self_s == {"ml": 4.0, "operators.similarity": 2.0}
    assert calls == {"ml": 1, "operators.similarity": 1}
    assert len({s.thread for s in tr.spans}) == 2


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer(clock=Clock())
    tr.wrap(lambda: None, "ml")()
    assert tr.spans == []


def test_install_wraps_public_functions_and_rebinds_aliases():
    import __spark_entry__ as entry
    from jobanalytics_bigdataproject_spark.sources import readers

    original = readers.load_star
    tr = trace.Tracer()
    tr.install()
    try:
        tr.rebind([entry])
        assert readers.load_star.__perfbench_original__ is original
        assert entry.load_star is readers.load_star  # the from-import alias
        tr.deactivate()
        assert readers.load_star is original and entry.load_star is original
    finally:
        tr.deactivate()


def _rec(name, seconds):
    return Record(name, 1, 0.0, seconds)


def test_op_latencies_take_each_ops_median_over_its_runs():
    recs = [_rec("a", 1.0), _rec("a", 9.0), _rec("a", 2.0), _rec("b", 4.0), _rec("b", 6.0)]
    assert op_latencies(recs) == {"a": 2.0, "b": 5.0}


@pytest.mark.parametrize(
    "a, b, x, want",
    [(1.0, 1.0, 0.3, 0.3), (3.0, 3.0, 0.5, 0.5), (2.0, 1.0, 0.5, 0.25),
     (1.0, 2.0, 0.5, 0.75), (0.5, 0.5, 0.5, 0.5),
     # numerical integrals of the Beta density
     (12.0, 12.0, 0.2, 5.973937e-4), (21.6, 2.4, 0.9, 0.4272400), (7.2, 16.8, 0.25, 0.3126406)],
)
def test_beta_cdf_matches_closed_forms(a, b, x, want):
    assert _beta_cdf(a, b, x) == pytest.approx(want, rel=1e-6)


def test_quantile_hd_of_evenly_spaced_ops():
    for n in (9, 13, 23):
        ops = [float(i) for i in range(n, 0, -1)]  # 1 .. n seconds, unsorted
        assert quantile_hd(ops, 0.5) == pytest.approx((n + 1) / 2)  # symmetric weights
        # the 90th percentile lies among the ops around rank 0.9n
        assert 0.9 * n - 1 < quantile_hd(ops, 0.9) < 0.9 * n + 1
    assert quantile_hd([5.0], 0.9) == pytest.approx(5.0)


def test_quantile_hd_moves_smoothly_with_the_ops_around_it():
    # No jump between clusters when one op near the quantile gets slower.
    base = [0.1] * 10 + [1.0, 2.0, 3.0]
    slower = [0.1] * 10 + [1.0, 2.1, 3.0]
    assert 0 < quantile_hd(slower, 0.9) - quantile_hd(base, 0.9) < 0.1


def test_union_length_merges_overlaps():
    assert trace.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4


def _raw_events():
    with open(EVENT_LOG) as f:
        return [json.loads(line) for line in f]


def test_event_log_counters_match_a_direct_count():
    events = _raw_events()
    log = trace.parse_event_log(EVENT_LOG)
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    stage_ids = {s for e in starts for s in e["Stage IDs"]}
    ran = {e["Stage Info"]["Stage ID"] for e in events
           if e["Event"] == "SparkListenerStageSubmitted"}
    out = trace.scheduler_totals(log, list(log.jobs))
    assert out["scheduler.jobs"] == len(starts) > 0
    assert out["scheduler.tasks"] == len(tasks) > 0
    assert out["scheduler.stages"] == len(stage_ids & ran)
    assert out["scheduler.stages_skipped"] == len(stage_ids - ran) > 0
    assert out["executor.run_ms"] == sum(e["Task Metrics"]["Executor Run Time"] for e in tasks)
    assert out["shuffle.write_bytes"] == sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in tasks) > 0
    assert 0.0 < out["scheduler.empty_task_share"] < 1.0


def test_event_log_python_metrics_come_from_the_arrow_op_only():
    """The log holds a JVM-only query, then an Arrow query whose plan
    chains two MapInPandas nodes over the 500 sf0.001 documents
    (recorded by record_eventlog.py)."""
    log = trace.parse_event_log(EVENT_LOG)
    marks = [j["start"] for j in log.jobs.values()]
    split = _arrow_op_start()
    jvm = [j for j, v in log.jobs.items() if v["start"] < split]
    arrow = [j for j, v in log.jobs.items() if v["start"] >= split]
    assert jvm and arrow and len(marks) == len(jvm) + len(arrow)
    before = trace.scheduler_totals(log, jvm)
    after = trace.scheduler_totals(log, arrow)
    assert before["arrow.bytes_to_python"] == before["arrow.rows_from_python"] == 0
    assert after["arrow.bytes_to_python"] > 0 and after["arrow.bytes_from_python"] > 0
    assert after["arrow.rows_from_python"] == 2 * 500


def _arrow_op_start() -> int:
    with open(os.path.join(os.path.dirname(EVENT_LOG), "eventlog_sf0.001.ops.json")) as f:
        return json.load(f)["arrow_op_start_ms"]


def test_jobs_are_attributed_to_the_op_window_they_start_in():
    log = trace.parse_event_log(EVENT_LOG)
    starts = sorted(j["start"] for j in log.jobs.values())
    windows = [(starts[0] / 1000.0, starts[0] / 1000.0), (starts[1] / 1000.0, 1e12)]
    per_op = trace.jobs_in(log, windows)
    assert len(per_op[0]) >= 1 and sum(map(len, per_op.values())) == len(starts)


def test_space_amp_on_a_hand_built_table(tmp_path):
    table, fresh = tmp_path / "tbl", tmp_path / "fresh"
    for d, files in ((table, {"_log/v1.json": 100, "_log/v2.json": 120,
                              "data/a.parquet": 1000, "data/b.parquet": 1000,
                              "dv/x.bin": 80}),
                     (fresh, {"_log/v1.json": 100, "data/c.parquet": 1100})):
        for rel, size in files.items():
            p = d / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(b"x" * size)
    (table / "data" / "link.parquet").symlink_to(fresh / "data" / "c.parquet")
    assert dir_bytes(str(table)) == 2300  # the link is not counted
    assert space_amp(str(table), str(fresh)) == pytest.approx(2300 / 1200)
