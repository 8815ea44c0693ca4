"""Snapshot branches / tags / write-audit-publish (sources/branches.py).

Covers the VERDICT r6 #2/#8 done-bars: branch DML isolation, publish
(fast-forward) including adoption of branch-owned data and DV files,
the refusal matrix (diverged main, duplicate branch/tag, missing
branch, bad names), tag pinning against vacuum/expire, and
vacuum-with-branches (files referenced only by a live branch are not
reapable; reapable again once the branch is dropped).
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.sources import branches as br
from jobanalytics_bigdataproject_spark.sources import snapshots as snap


def _mk(spark, tmp_path, n=100, parts=4):
    t = str(tmp_path / "tbl")
    df = spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 10).cast("int").alias("grp"),
        (F.col("id") * 3).cast("long").alias("val"),
    )
    snap.write_snapshot(df.repartition(parts), t, mode="overwrite", stats_cols=["id"])
    return t


def _ids(spark, tdir, **kw):
    return sorted(r.id for r in snap.read_snapshot(spark, tdir, **kw).select("id").collect())


# ------------------------------------------------------------ branching


def test_branch_dml_isolation_and_publish(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "audit")
    # any existing DML works on the branch handle, isolated from main
    snap.delete_where(spark, b, "grp = 0")
    snap.write_snapshot(
        spark.createDataFrame([(1000, 5, 3000)], "id int, grp int, val long"), b
    )
    assert _ids(spark, t) == list(range(100))  # main untouched
    want = [i for i in range(100) if i % 10 != 0] + [1000]
    assert _ids(spark, b) == want
    v = br.fast_forward(spark, t, "audit")
    assert v == snap.current_version(spark, t)
    assert _ids(spark, t) == want  # main fast-forwarded
    assert br.list_branches(spark, t) == []  # retired (WAP consumed it)
    m = snap.snapshot_info(spark, t, v)
    assert m["action"] == "fast_forward" and m["source"]["branch"] == "audit"
    # adopted files live in MAIN's data dir (relative refs only)
    assert all(not f.startswith("/") for f in m["files"])


def test_publish_refused_when_main_advanced(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "wip")
    snap.delete_where(spark, b, "grp = 1")
    # main moves on → fast-forward is no longer possible
    snap.write_snapshot(
        spark.createDataFrame([(2000, 7, 1)], "id int, grp int, val long"), t
    )
    with pytest.raises(ValueError, match="not a fast-forward"):
        br.fast_forward(spark, t, "wip")
    # refusal left BOTH sides intact and the branch still readable
    assert 2000 in _ids(spark, t)
    assert _ids(spark, b) == [i for i in range(100) if i % 10 != 1]
    assert [x["name"] for x in br.list_branches(spark, t)] == ["wip"]


def test_branch_refusal_matrix(spark, tmp_path):
    t = _mk(spark, tmp_path)
    br.create_branch(spark, t, "dup")
    with pytest.raises(FileExistsError):
        br.create_branch(spark, t, "dup")
    with pytest.raises(FileNotFoundError):
        br.fast_forward(spark, t, "missing")
    with pytest.raises(ValueError):
        br.branch_dir(t, "../evil")
    with pytest.raises(ValueError):
        br.create_tag(spark, t, "no/slash")
    br.create_tag(spark, t, "pin")
    with pytest.raises(FileExistsError):
        br.create_tag(spark, t, "pin")


def test_publish_carries_mor_deletes(spark, tmp_path):
    # DV-carry invariant across the publish: a branch-side MOR delete's
    # deletion vectors must survive into main or deleted rows resurrect
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "mor")
    res = snap.delete_where_mor(spark, b, "id < 5")
    assert res["rows_deleted"] == 5
    br.fast_forward(spark, t, "mor")
    assert _ids(spark, t) == list(range(5, 100))
    m = snap.snapshot_info(spark, t, snap.current_version(spark, t))
    assert m.get("dvs") and m.get("dv_files")
    # adopted DV sidecars are main-relative now
    assert all(not f.startswith("/") for f in m["dv_files"])


def test_publish_carries_constraints_and_schema(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "wap")
    snap.add_constraint(spark, b, "val_nonneg", "val >= 0")
    viol = snap.verify_constraints(spark, b)
    assert viol.count() == 0  # the AUDIT step of write-audit-publish
    br.fast_forward(spark, t, "wap")
    m = snap.snapshot_info(spark, t, snap.current_version(spark, t))
    assert "val_nonneg" in m.get("constraints", {})


def test_lost_race_rolls_back_renames(spark, tmp_path, monkeypatch):
    # a concurrent commit between publish's renames and its manifest
    # create must leave the branch intact (renames undone)
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "racy")
    snap.write_snapshot(
        spark.createDataFrame([(3000, 1, 1)], "id int, grp int, val long"), b
    )
    real_commit = br._commit
    def race_then_fail(fs, jvm, table_dir, build, **kw):
        # simulate: another writer advanced main first
        snap.write_snapshot(
            spark.createDataFrame([(4000, 2, 2)], "id int, grp int, val long"),
            t,
        )
        return real_commit(fs, jvm, table_dir, build, **kw)
    monkeypatch.setattr(br, "_commit", race_then_fail)
    with pytest.raises(ValueError, match="not a fast-forward"):
        br.fast_forward(spark, t, "racy")
    # branch survived with its own file back in place
    assert 3000 in _ids(spark, b)
    assert 4000 in _ids(spark, t) and 3000 not in _ids(spark, t)


# ------------------------------------------------------------------ tags


def test_tag_pins_version_against_vacuum(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20, parts=1)
    v1 = snap.current_version(spark, t)
    br.create_tag(spark, t, "baseline", version=v1)
    # several rewriting commits so v1's files would normally be reaped
    for k in range(3):
        snap.write_snapshot(
            spark.range(20).select(
                F.col("id").cast("int").alias("id"),
                F.lit(k).cast("int").alias("grp"),
                F.lit(0).cast("long").alias("val"),
            ).repartition(1),
            t,
            mode="overwrite",
        )
    snap.vacuum(spark, t, keep_last=1, grace_seconds=0)
    # tagged version still fully readable (manifest + files survived)
    assert br.resolve_tag(spark, t, "baseline") == v1
    assert len(br.read_tag(spark, t, "baseline").collect()) == 20
    assert br.list_tags(spark, t) == {"baseline": v1}
    # dropping the tag releases the pin: the next vacuum reaps it
    br.drop_tag(spark, t, "baseline")
    snap.vacuum(spark, t, keep_last=1, grace_seconds=0)
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, t, version=v1)


def test_vacuum_respects_live_branch(spark, tmp_path):
    t = _mk(spark, tmp_path, n=20, parts=1)
    b = br.create_branch(spark, t, "hold")
    # main rewrites away from the original files
    snap.write_snapshot(
        spark.createDataFrame([(1, 1, 1)], "id int, grp int, val long"),
        t,
        mode="overwrite",
    )
    snap.write_snapshot(
        spark.createDataFrame([(2, 2, 2)], "id int, grp int, val long"), t
    )
    deleted = snap.vacuum(spark, t, keep_last=1, grace_seconds=0)
    # the branch still references the ORIGINAL files absolutely — they
    # must have survived the vacuum
    assert len(snap.read_snapshot(spark, b).collect()) == 20
    # after dropping the branch the same vacuum reaps them
    br.drop_branch(spark, t, "hold")
    deleted2 = snap.vacuum(spark, t, keep_last=1, grace_seconds=0)
    assert deleted2 > 0
    assert deleted >= 0  # ran without touching branch-held files


def test_expire_snapshots_respects_tags(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, parts=1)
    v1 = snap.current_version(spark, t)
    br.create_tag(spark, t, "keepme", version=v1)
    import time as _t

    _t.sleep(1.1)
    cut = _t.time()
    for k in range(2):
        snap.write_snapshot(
            spark.createDataFrame([(k, k, k)], "id int, grp int, val long"),
            t,
            mode="overwrite",
        )
    res = snap.expire_snapshots(spark, t, older_than_ts=cut, grace_seconds=0)
    assert f"{snap._LOG}/v{v1:08d}.json" not in res.get("manifests", [])
    assert len(br.read_tag(spark, t, "keepme").collect()) == 10


# ------------------------------------------------- rebase (VERDICT r7 #2)


def test_rebase_noop_when_main_unmoved(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "wip")
    snap.write_snapshot(
        spark.createDataFrame([(500, 1, 1)], "id int, grp int, val long"), b
    )
    head = snap.current_version(spark, b)
    assert br.rebase_branch(spark, t, "wip") == head  # nothing to replay


def test_rebase_disjoint_appends_then_publish(spark, tmp_path):
    """Both sides appended (disjoint file sets): rebase merges, publish
    fast-forwards, and main ends with the union of all three states."""
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "audit")
    snap.write_snapshot(
        spark.createDataFrame([(1000, 5, 1)], "id int, grp int, val long"), b
    )
    # main advances independently → fast_forward now refuses
    snap.write_snapshot(
        spark.createDataFrame([(2000, 6, 2)], "id int, grp int, val long"), t
    )
    with pytest.raises(ValueError, match="advanced"):
        br.fast_forward(spark, t, "audit")
    assert br.rebase_branch(spark, t, "audit") == 2
    # the rebased branch sees BOTH sides' appends
    assert _ids(spark, b) == list(range(100)) + [1000, 2000]
    v = br.fast_forward(spark, t, "audit")
    assert v == snap.current_version(spark, t)
    assert _ids(spark, t) == list(range(100)) + [1000, 2000]


def test_rebase_disjoint_deletes_merge(spark, tmp_path):
    """Branch rewrote one file (COW delete), main rewrote a DIFFERENT
    file: no overlap, the rebase keeps both rewrites."""
    t = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 10).cast("int").alias("grp"),
        (F.col("id") * 3).cast("long").alias("val"),
    )
    # RANGE partitioning: id=0 and id=99 land in different files for sure
    snap.write_snapshot(
        df.repartitionByRange(4, "id"), t, mode="overwrite", stats_cols=["id"]
    )
    b = br.create_branch(spark, t, "audit")
    snap.delete_where(spark, b, "id = 0")
    snap.delete_where(spark, t, "id = 99")
    br.rebase_branch(spark, t, "audit")
    assert _ids(spark, b) == list(range(1, 99))
    br.fast_forward(spark, t, "audit")
    assert _ids(spark, t) == list(range(1, 99))


def test_rebase_overlapping_rewrite_refused_with_versions_named(spark, tmp_path):
    """Both sides COW-rewrote the SAME base file → true conflict: refuse,
    name both versions, mutate nothing."""
    t = _mk(spark, tmp_path, parts=1)  # single file → any delete collides
    b = br.create_branch(spark, t, "audit")
    snap.delete_where(spark, b, "id = 0")
    snap.delete_where(spark, t, "id = 99")
    before_branch = _ids(spark, b)
    with pytest.raises(ValueError, match=r"v1→v2.*head v2|modified by BOTH"):
        br.rebase_branch(spark, t, "audit")
    assert _ids(spark, b) == before_branch  # branch untouched on refusal
    assert snap.current_version(spark, b) == 2


def test_rebase_structural_divergence_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "audit")
    snap.add_constraint(spark, b, "val_pos", "val >= 0")
    snap.add_constraint(spark, t, "grp_pos", "grp >= 0")
    with pytest.raises(ValueError, match="constraints.*diverged"):
        br.rebase_branch(spark, t, "audit")


def test_rebase_carries_branch_constraint_when_main_only_appended(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "audit")
    snap.add_constraint(spark, b, "val_pos", "val >= 0")
    snap.write_snapshot(
        spark.createDataFrame([(2000, 6, 2)], "id int, grp int, val long"), t
    )
    br.rebase_branch(spark, t, "audit")
    br.fast_forward(spark, t, "audit")
    m = snap.snapshot_info(spark, t, snap.current_version(spark, t))
    assert "val_pos" in (m.get("constraints") or {})


# ------------------------------------- published tombstone (VERDICT r7 #5)


def test_kept_branch_refuses_reads_after_publish(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "audit")
    snap.write_snapshot(
        spark.createDataFrame([(1000, 5, 1)], "id int, grp int, val long"), b
    )
    br.fast_forward(spark, t, "audit", retire=False)
    # the kept dir is tombstoned: resolution and reads refuse loudly
    with pytest.raises(ValueError, match="published.*retired"):
        snap.read_snapshot(spark, b)
    with pytest.raises(ValueError, match="published.*retired"):
        snap.current_version(spark, b)
    with pytest.raises(ValueError, match="published.*retired"):
        br.read_branch(spark, t, "audit")
    assert br.list_branches(spark, t) == []  # not listed as live either
    # re-publishing the tombstoned branch refuses too
    with pytest.raises(ValueError, match="published.*retired"):
        br.fast_forward(spark, t, "audit")


def test_drop_retired_branches_sweeps_tombstoned_only(spark, tmp_path):
    import time

    t = _mk(spark, tmp_path)
    b1 = br.create_branch(spark, t, "kept")
    snap.write_snapshot(
        spark.createDataFrame([(1000, 5, 1)], "id int, grp int, val long"), b1
    )
    br.fast_forward(spark, t, "kept", retire=False)  # tombstoned, on disk
    br.create_branch(spark, t, "live")
    # future horizon: every tombstone is past it; the live branch survives
    assert br.drop_retired_branches(spark, t, older_than=time.time() + 60) == ["kept"]
    assert [x["name"] for x in br.list_branches(spark, t)] == ["live"]
    # horizon in the past sweeps nothing
    br.fast_forward(spark, t, "live", retire=False)
    assert br.drop_retired_branches(spark, t, older_than=0.0) == []
    assert br.drop_retired_branches(spark, t) == ["live"]  # no horizon = all


def test_rebase_carries_branch_mor_deletes(spark, tmp_path):
    """DV-carry across a REBASE: the branch's merge-on-read delete (a
    deletion vector on a base file) must survive the replay onto a main
    that appended independently — deleted rows must not resurrect, and
    the publish must adopt the branch's DV sidecar."""
    t = _mk(spark, tmp_path)
    b = br.create_branch(spark, t, "mor")
    res = snap.delete_where_mor(spark, b, "id < 5")
    assert res["rows_deleted"] == 5
    snap.write_snapshot(
        spark.createDataFrame([(2000, 6, 2)], "id int, grp int, val long"), t
    )
    assert br.rebase_branch(spark, t, "mor") == 2
    assert _ids(spark, b) == list(range(5, 100)) + [2000]
    br.fast_forward(spark, t, "mor")
    assert _ids(spark, t) == list(range(5, 100)) + [2000]
    m = snap.snapshot_info(spark, t, snap.current_version(spark, t))
    assert m.get("dvs") and m.get("dv_files")


def test_rebase_refuses_dv_conflict(spark, tmp_path):
    """Both sides MOR-deleted rows in the SAME base file → the deletion
    vectors are a row-level modification of that file on both sides —
    true conflict, refused with nothing mutated."""
    t = _mk(spark, tmp_path, parts=1)
    b = br.create_branch(spark, t, "mor")
    snap.delete_where_mor(spark, b, "id = 1")
    snap.delete_where_mor(spark, t, "id = 2")
    with pytest.raises(ValueError, match="modified by BOTH"):
        br.rebase_branch(spark, t, "mor")
    assert _ids(spark, b) == [i for i in range(100) if i != 1]
    assert _ids(spark, t) == [i for i in range(100) if i != 2]
