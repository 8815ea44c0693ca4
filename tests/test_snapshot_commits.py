"""The snapshot commit path (sources/snapshots.py): what a new version
carries from its parent, and how every DML/maintenance op behaves when a
concurrent commit lands between its probe and its manifest create.

The carry test pins one rule for every commit kind: a manifest holds the
parent's table state plus the keys its own action writes — never a
per-commit key (accounting, idempotency key, sidecar list) of an earlier
commit. The race matrix loses each op's first manifest create to a
deterministic concurrent commit: a commuting append must be rebased
over, a conflicting commit must be refused with nothing left staged."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.sources import branches as br
from jobanalytics_bigdataproject_spark.sources import snapshots as sn

_BASE = {"version", "parent", "action", "files", "added"}
_STATE = {
    "stats", "rows", "blooms", "dvs", "dv_files", "schema", "constraints",
    "partition_spec", "spec_history", "bucket_by", "column_mapping",
    "dropped_physical",
}


def _kv(spark, ids, v="v-"):
    """Rows ``i, k = i % 7, v = <v><i>`` in the table's column order."""
    return spark.createDataFrame([(i,) for i in ids], "i long").select(
        "i",
        (F.col("i") % 7).alias("k"),
        F.concat(F.lit(v), F.col("i").cast("string")).alias("v"),
    )


def _base(spark, t):
    # four 10-row files: 0-9, 10-19, 20-29, 30-39
    sn.write_snapshot(
        spark.range(0, 40, 1, 4).select(
            F.col("id").alias("i"),
            (F.col("id") % 7).alias("k"),
            F.concat(F.lit("v-"), F.col("id").cast("string")).alias("v"),
        ),
        t, stats_cols=("i",), bloom_cols=("k",),
    )


def _ids(spark, t):
    return sorted(r.i for r in sn.read_snapshot(spark, t).select("i").collect())


@pytest.fixture(scope="module")
def parents(spark, tmp_path_factory):
    """Two parent tables whose head is a commit full of per-commit keys:
    ``cow`` ends in an idempotent COW merge (no deletion vectors), ``mor``
    in an idempotent MOR merge (deletion vectors on the 0-9 file)."""
    root = tmp_path_factory.mktemp("parents")
    out = {}
    for kind, merge in (("cow", sn.merge_into), ("mor", sn.merge_into_mor)):
        t = str(root / kind)
        _base(spark, t)
        sn.add_constraint(spark, t, "i_nonneg", "i >= 0")
        merge(spark, t, _kv(spark, [1, 2, 100], "m-"), ["i"],
              idempotency_key=f"{kind}-1")
        out[kind] = t
    return out


def _fast_forward(spark, t):
    sn.merge_into_mor(
        spark, br.create_branch(spark, t, "ff"), _kv(spark, [5, 500], "b-"),
        ["i"], idempotency_key="ff-1",
    )
    return br.fast_forward(spark, t, "ff")


def _version(res):
    return res if isinstance(res, int) else res["version"]


# case -> (parent table, action, keys the action writes, state it drops)
_CARRY = {
    "append": ("mor", lambda s, t: sn.write_snapshot(_kv(s, [200]), t), set(), set()),
    "overwrite": (
        "mor",
        lambda s, t: sn.write_snapshot(_kv(s, [200]), t, mode="overwrite"),
        set(), {"stats", "blooms", "dvs", "dv_files"},
    ),
    "rollback": (
        "mor", lambda s, t: sn.rollback(s, t, 1), {"restored"}, {"dvs", "dv_files"},
    ),
    "optimize": (
        "mor", lambda s, t: sn.optimize_snapshot(s, t, min_file_mb=1),
        {"removed"}, set(),
    ),
    "delete_where": (
        "cow", lambda s, t: sn.delete_where(s, t, "i < 5"),
        {"condition", "removed", "rows_deleted"}, set(),
    ),
    "update_where": (
        "cow", lambda s, t: sn.update_where(s, t, {"v": "'x'"}, "i < 5"),
        {"condition", "set", "removed", "rows_updated"}, set(),
    ),
    "merge_into": (
        "cow", lambda s, t: sn.merge_into(s, t, _kv(s, [3, 300]), ["i"]),
        {"removed", "rows_updated", "rows_deleted", "rows_inserted"}, set(),
    ),
    "delete_where_mor": (
        "mor", lambda s, t: sn.delete_where_mor(s, t, "i = 15"),
        {"condition", "removed", "dv_added", "rows_deleted"}, set(),
    ),
    "update_where_mor": (
        "mor", lambda s, t: sn.update_where_mor(s, t, {"v": "'x'"}, "i = 15"),
        {"condition", "set", "removed", "dv_added", "rows_updated"}, set(),
    ),
    "merge_into_mor": (
        "mor", lambda s, t: sn.merge_into_mor(s, t, _kv(s, [25, 400]), ["i"]),
        {"removed", "dv_added", "rows_updated", "rows_deleted", "rows_inserted",
         "mor_files_with_dvs"},
        set(),
    ),
    "materialize_dvs": (
        "mor", lambda s, t: sn.materialize_dvs(s, t),
        {"removed", "rows_removed"}, {"dvs", "dv_files"},
    ),
    "add_constraint": (
        "mor", lambda s, t: sn.add_constraint(s, t, "k_nonneg", "k >= 0"), set(), set(),
    ),
    "drop_constraint": (
        "mor", lambda s, t: sn.drop_constraint(s, t, "i_nonneg"), set(), {"constraints"},
    ),
    "rename_column": (
        "mor", lambda s, t: sn.rename_column(s, t, "v", "w"),
        {"renamed", "column_mapping"}, set(),
    ),
    "drop_column": (
        "mor", lambda s, t: sn.drop_column(s, t, "v"),
        {"dropped", "column_mapping", "dropped_physical"}, set(),
    ),
    "evolve_partition_spec": (
        "mor", lambda s, t: sn.evolve_partition_spec(s, t, ["k"]),
        {"spec_from", "spec_to", "partition_spec"}, set(),
    ),
    # the branch head is a MOR merge: main adopts its deletion vectors
    "fast_forward": ("cow", _fast_forward, {"source", "dvs", "dv_files"}, set()),
}


@pytest.mark.parametrize("case", sorted(_CARRY))
def test_commit_carries_table_state_only(spark, tmp_path, parents, case):
    kind, act, own, drops = _CARRY[case]
    t = str(tmp_path / "tbl")
    shutil.copytree(parents[kind], t)
    head = sn.current_version(spark, t)
    parent = sn.snapshot_info(spark, t, head)
    version = _version(act(spark, t))
    assert version == head + 1
    man = sn.snapshot_info(spark, t, version)
    assert set(man) == (set(parent) & _STATE) - drops | _BASE | own, case


# ------------------------------------------------------------ race matrix


def _lose_first_create(monkeypatch, concurrent):
    """The op's first manifest create lands ``concurrent`` through the
    real create, then reports a lost race."""
    real = sn._create_manifest

    def lose(fs, mp, manifest):
        monkeypatch.setattr(sn, "_create_manifest", real)
        concurrent()
        return False

    monkeypatch.setattr(sn, "_create_manifest", lose)


def _entries(t):
    return {
        f"{d}/{name}"
        for d in ("data", "dv")
        if os.path.isdir(os.path.join(t, d))
        for name in os.listdir(os.path.join(t, d))
        if not name.startswith(".")
    }


_ALL = list(range(40))
_FRESH = [100, 101, 102]
_MOR_HIT = ("mor_hit", lambda s, t: sn.delete_where_mor(s, t, "i = 3"))
_CONSTRAINT = (
    "constraint",
    lambda s, t: sn.add_constraint(s, t, "k_nonneg", "k >= 0"),
    "constraint set changed concurrently",
)

# op -> (extra setup, run, ids after a rebased run, refusals it owes)
_RACE = {
    "delete_where": (
        None, lambda s, t: sn.delete_where(s, t, "i < 5"), _ALL[5:],
        [(*_MOR_HIT, "concurrent commit touched files this DELETE rewrote")],
    ),
    "update_where": (
        None, lambda s, t: sn.update_where(s, t, {"v": "'x'"}, "i < 5"), _ALL,
        [(*_MOR_HIT, "concurrent commit touched files this UPDATE rewrote"),
         _CONSTRAINT],
    ),
    "merge_into": (
        None, lambda s, t: sn.merge_into(s, t, _kv(s, [3, 300], "x"), ["i"]),
        _ALL + [300],
        [(*_MOR_HIT, "concurrent commit touched files this MERGE rewrote"),
         _CONSTRAINT],
    ),
    "delete_where_mor": (
        None, lambda s, t: sn.delete_where_mor(s, t, "i < 5"), _ALL[5:],
        [(*_MOR_HIT, "after this MOR delete probed it")],
    ),
    "update_where_mor": (
        None, lambda s, t: sn.update_where_mor(s, t, {"v": "'x'"}, "i < 5"), _ALL,
        [(*_MOR_HIT, "after this MOR update probed it"), _CONSTRAINT],
    ),
    "merge_into_mor": (
        None, lambda s, t: sn.merge_into_mor(s, t, _kv(s, [3, 300], "x"), ["i"]),
        _ALL + [300],
        [(*_MOR_HIT, "after this MOR merge probed it"), _CONSTRAINT],
    ),
    "materialize_dvs": (
        lambda s, t: sn.delete_where_mor(s, t, "i < 3"),
        lambda s, t: sn.materialize_dvs(s, t), _ALL[3:],
        [(*_MOR_HIT, "concurrent commit touched DV'd files during materialize")],
    ),
    "optimize_snapshot": (
        None, lambda s, t: sn.optimize_snapshot(s, t, min_file_mb=1), _ALL,
        [(*_MOR_HIT, "concurrent commit touched files this OPTIMIZE rewrote")],
    ),
}

_RACE_CASES = [(op, "append") for op in sorted(_RACE)] + [
    (op, c[0]) for op in sorted(_RACE) for c in _RACE[op][3]
]


@pytest.mark.parametrize("op,concurrent", _RACE_CASES)
def test_commit_race_matrix(spark, tmp_path, monkeypatch, op, concurrent):
    setup, run, ids, refusals = _RACE[op]
    t = str(tmp_path / "tbl")
    _base(spark, t)
    if setup:
        setup(spark, t)
    head = sn.current_version(spark, t)
    if concurrent == "append":
        # a commuting commit: the op rebases and lands one version later
        _lose_first_create(
            monkeypatch, lambda: sn.write_snapshot(_kv(spark, _FRESH), t)
        )
        assert _version(run(spark, t)) == head + 2
        assert _ids(spark, t) == sorted(ids + _FRESH)
        if "update" in op:
            got = sn.read_snapshot(spark, t).filter("v = 'x'").count()
            assert got == 5
        return
    _, commit, message = next(c for c in refusals if c[0] == concurrent)
    before = _entries(t)
    _lose_first_create(monkeypatch, lambda: commit(spark, t))
    with pytest.raises(RuntimeError, match=message):
        run(spark, t)
    assert sn.current_version(spark, t) == head + 1  # only the concurrent one
    man = sn.snapshot_info(spark, t, head + 1)
    leftover = _entries(t) - before - set(man["files"]) - set(man.get("dv_files", []))
    assert not leftover, leftover
    assert not [n for n in os.listdir(t) if n.startswith("staging-")]
