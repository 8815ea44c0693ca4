"""Versioned parquet tables (sources/snapshots.py): append/overwrite
commits, time travel, rollback-as-new-version, vacuum retention, and the
optimistic-commit retry when a competing manifest lands first."""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pytest
from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.sources import snapshots as sn


def _ids(df):
    return sorted(r.i for r in df.collect())


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("i"))


def test_append_versions_and_time_travel(spark, tdir):
    assert sn.current_version(spark, tdir) == 0
    v1 = sn.write_snapshot(_batch(spark, 0, 5), tdir)
    v2 = sn.write_snapshot(_batch(spark, 5, 8), tdir)
    assert (v1, v2) == (1, 2)
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(8))
    assert _ids(sn.read_snapshot(spark, tdir, version=1)) == list(range(5))
    info = sn.snapshot_info(spark, tdir, 2)
    assert info["action"] == "append" and info["parent"] == 1
    # appended version references the parent's files plus its own
    assert set(sn.snapshot_info(spark, tdir, 1)["files"]) <= set(info["files"])


def test_overwrite_replaces_but_history_remains(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    v2 = sn.write_snapshot(_batch(spark, 100, 103), tdir, mode="overwrite")
    assert v2 == 2
    assert _ids(sn.read_snapshot(spark, tdir)) == [100, 101, 102]
    # time travel still sees the pre-overwrite table
    assert _ids(sn.read_snapshot(spark, tdir, version=1)) == list(range(5))


def test_rollback_is_a_new_version(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    sn.write_snapshot(_batch(spark, 100, 103), tdir, mode="overwrite")
    v3 = sn.rollback(spark, tdir, to_version=1)
    assert v3 == 3
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(5))
    # the rolled-back-over version is still inspectable (forward-only history)
    assert _ids(sn.read_snapshot(spark, tdir, version=2)) == [100, 101, 102]
    assert sn.snapshot_info(spark, tdir, 3)["restored"] == 1


def test_vacuum_drops_old_versions_keeps_recent(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    sn.write_snapshot(_batch(spark, 100, 103), tdir, mode="overwrite")
    sn.write_snapshot(_batch(spark, 200, 202), tdir)  # append onto v2
    deleted = sn.vacuum(spark, tdir, keep_last=2, grace_seconds=0)
    # v1's files are referenced by no retained version -> physically gone
    assert deleted > 0
    assert _ids(sn.read_snapshot(spark, tdir)) == [100, 101, 102, 200, 201]
    assert _ids(sn.read_snapshot(spark, tdir, version=2)) == [100, 101, 102]
    with pytest.raises(FileNotFoundError):
        sn.read_snapshot(spark, tdir, version=1)


def test_vacuum_noop_when_all_referenced(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    sn.write_snapshot(_batch(spark, 5, 8), tdir)  # append: v2 references v1's files
    assert sn.vacuum(spark, tdir, keep_last=1, grace_seconds=0) == 0
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(8))


def test_optimistic_commit_skips_taken_version(spark, tdir):
    import json
    import os

    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    # a competing writer lands v2 between our head read and manifest create:
    # simulate by pre-creating a valid v2 manifest that duplicates v1
    v1 = sn.snapshot_info(spark, tdir, 1)
    fake = dict(v1, version=2, parent=1, action="append", added=[])
    with open(os.path.join(tdir, "_log", "v00000002.json"), "x") as f:
        json.dump(fake, f)
    v = sn.write_snapshot(_batch(spark, 5, 8), tdir)
    assert v == 3  # retried past the conflicting version
    # and the committed snapshot chains off the interloper's file set
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(8))


def test_optimize_rewrites_small_files_same_rows(spark, tdir):
    # five tiny single-file commits (the streaming-sink debt pattern)
    for k in range(5):
        sn.write_snapshot(_batch(spark, k * 2, k * 2 + 2).coalesce(1), tdir)
    assert len(sn.read_snapshot(spark, tdir).inputFiles()) == 5
    v = sn.optimize_snapshot(spark, tdir)
    assert v == 6
    opt = sn.read_snapshot(spark, tdir)
    assert len(opt.inputFiles()) == 1  # tiny table -> one target-size bin
    assert _ids(opt) == list(range(10))  # same rows
    # pre-optimize versions still time-travel until vacuum
    assert _ids(sn.read_snapshot(spark, tdir, version=5)) == list(range(10))
    assert sn.vacuum(spark, tdir, keep_last=1, grace_seconds=0) == 5  # the five small files


_SOURCE_ROWS: list = []


def _collect_batch(batch_df, batch_id):
    _SOURCE_ROWS.extend(
        (r.i, r._commit_version) for r in batch_df.collect()
    )


def test_snapshot_stream_source_tails_the_log(spark, tdir, tmp_path):
    from jobanalytics_bigdataproject_spark.sources.snapshot_source import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    sn.write_snapshot(_batch(spark, 0, 3), tdir)
    sn.write_snapshot(_batch(spark, 3, 5), tdir)
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.format("snapshotlog")
            .option("path", tdir)
            .load()
            .writeStream.foreachBatch(_collect_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    _SOURCE_ROWS.clear()
    run()
    assert set(_SOURCE_ROWS) == {(0, 1), (1, 1), (2, 1), (3, 2), (4, 2)}

    # new commits land; a resumed query (same checkpoint) reads ONLY them
    sn.write_snapshot(_batch(spark, 5, 7), tdir)
    _SOURCE_ROWS.clear()
    run()
    assert set(_SOURCE_ROWS) == {(5, 3), (6, 3)}

    # startingVersion skips history for a fresh consumer
    df = (
        spark.readStream.format("snapshotlog")
        .option("path", tdir)
        .option("startingVersion", 2)
        .load()
    )
    q = (
        df.writeStream.foreachBatch(_collect_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    _SOURCE_ROWS.clear()
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert set(_SOURCE_ROWS) == {(5, 3), (6, 3)}


def test_empty_table_read_raises(spark, tdir):
    with pytest.raises(FileNotFoundError):
        sn.read_snapshot(spark, tdir)


def test_idempotency_key_makes_commit_exactly_once(spark, tdir):
    v1 = sn.write_snapshot(_batch(spark, 0, 5), tdir, idempotency_key="stream-0")
    # redelivery of the same logical batch: no new version, same answer
    v1b = sn.write_snapshot(_batch(spark, 0, 5), tdir, idempotency_key="stream-0")
    assert (v1, v1b) == (1, 1)
    assert sn.current_version(spark, tdir) == 1
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(5))
    # and the retry's staged data files were cleaned up, not left as debris
    import os

    data_files = [
        f for f in os.listdir(os.path.join(tdir, "data")) if not f.startswith(".")
    ]  # ignore local-FS .crc checksum sidecars
    assert set(sn.snapshot_info(spark, tdir, 1)["files"]) == {
        f"data/{f}" for f in data_files
    }
    v2 = sn.write_snapshot(_batch(spark, 5, 8), tdir, idempotency_key="stream-1")
    assert v2 == 2 and _ids(sn.read_snapshot(spark, tdir)) == list(range(8))


def test_manifest_stats_enable_file_skipping(spark, tdir):
    # three range-clustered commits, each a single file with i-min/max stats
    for lo, hi in [(0, 10), (10, 20), (20, 30)]:
        sn.write_snapshot(
            _batch(spark, lo, hi).coalesce(1), tdir, stats_cols=["i"]
        )
    full = sn.read_snapshot(spark, tdir)
    assert len(full.inputFiles()) == 3
    pruned = sn.read_snapshot(spark, tdir, prune={"i": (12, 15)})
    assert len(pruned.inputFiles()) == 1  # only the [10,20) file survives
    # skipping shrinks the scan but never the answer
    assert _ids(pruned.filter("i BETWEEN 12 AND 15")) == list(range(12, 16))
    # open-ended bound
    assert len(sn.read_snapshot(spark, tdir, prune={"i": (21, None)}).inputFiles()) == 1
    # a range matching nothing: empty frame with the real schema
    empty = sn.read_snapshot(spark, tdir, prune={"i": (100, 200)})
    assert empty.count() == 0 and empty.columns == ["i"]
    # rollback carries the stats forward
    sn.write_snapshot(_batch(spark, 50, 60).coalesce(1), tdir, mode="overwrite")
    sn.rollback(spark, tdir, to_version=3)
    assert len(sn.read_snapshot(spark, tdir, prune={"i": (12, 15)}).inputFiles()) == 1


def test_stats_missing_keeps_file(spark, tdir):
    # v1 committed without stats, v2 with: pruning must keep the statless file
    sn.write_snapshot(_batch(spark, 0, 5).coalesce(1), tdir)
    sn.write_snapshot(_batch(spark, 100, 105).coalesce(1), tdir, stats_cols=["i"])
    pruned = sn.read_snapshot(spark, tdir, prune={"i": (0, 5)})
    # v1's statless file must be kept (skipping needs proof); v2's stats
    # [100,104] provably miss (0,5) so that file is skipped
    assert len(pruned.inputFiles()) == 1
    assert _ids(pruned) == list(range(5))


def test_schema_evolution_merge_schema_read(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 3), tdir)
    widened = _batch(spark, 3, 5).withColumn("tag", F.lit("b"))
    # schema-on-write: additive drift needs the explicit opt-in now
    sn.write_snapshot(widened, tdir, allow_schema_evolution=True)
    # the manifest records the union schema, so the plain read returns it
    # too, with typed NULLs for the older files
    for merge in (True, False):
        df = sn.read_snapshot(spark, tdir, merge_schema=merge)
        assert sorted(df.columns) == ["i", "tag"]
        assert dict(df.dtypes)["tag"] == "string"
        got = {(r.i, r.tag) for r in df.collect()}
        assert got == {(0, None), (1, None), (2, None), (3, "b"), (4, "b")}
    # a manifest written before schema tracking records none: the read
    # falls back to inference, and merge_schema unions the file schemas
    log = os.path.join(tdir, "_log")
    man = sn.snapshot_info(spark, tdir, 2)
    del man["schema"]
    with open(os.path.join(log, "v00000002.json"), "w") as f:
        json.dump(man, f)
    crc = os.path.join(log, ".v00000002.json.crc")
    if os.path.exists(crc):
        os.remove(crc)  # the rewritten manifest no longer matches it
    df = sn.read_snapshot(spark, tdir, merge_schema=True)
    assert {(r.i, r.tag) for r in df.collect()} == got


def test_read_changes_incremental_consumption(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    sn.write_snapshot(_batch(spark, 5, 8), tdir)
    sn.write_snapshot(_batch(spark, 8, 9), tdir)
    delta = sn.read_changes(spark, tdir, from_version=1)
    got = {(r.i, r._commit_version) for r in delta.collect()}
    assert got == {(5, 2), (6, 2), (7, 2), (8, 3)}
    # bounded range; empty range yields an empty frame with the cdc column
    assert {r.i for r in sn.read_changes(spark, tdir, 1, 2).collect()} == {5, 6, 7}
    empty = sn.read_changes(spark, tdir, 3, 3)
    assert empty.count() == 0 and "_commit_version" in empty.columns
    # vacuumed-away range must fail loudly, not silently skip
    sn.write_snapshot(_batch(spark, 100, 101), tdir, mode="overwrite")  # v4
    sn.vacuum(spark, tdir, keep_last=1, grace_seconds=0)
    with pytest.raises(FileNotFoundError):
        sn.read_changes(spark, tdir, from_version=0).collect()


def test_streaming_sink_commits_one_version_per_microbatch(spark, tdir, tmp_path):
    src = str(tmp_path / "src")
    _batch(spark, 0, 6).coalesce(1).write.parquet(src)
    _batch(spark, 6, 10).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("i long").option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sn.snapshot_sink(tdir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    head = sn.current_version(spark, tdir)
    assert head == 2  # one version per micro-batch
    # stream == batch: the latest snapshot is exactly the static input
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(10))
    # a manual re-run of an already-committed batch id is a no-op
    sink = sn.snapshot_sink(tdir)
    sink(_batch(spark, 0, 6), 0)
    assert sn.current_version(spark, tdir) == 2


# ---------------------------------------------------------------------------
# copy-on-write DELETE (delete_where)
# ---------------------------------------------------------------------------


def test_delete_where_removes_rows_and_keeps_history(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    sn.write_snapshot(_batch(spark, 5, 10), tdir)
    res = sn.delete_where(spark, tdir, "i IN (2, 7)")
    assert res["rows_deleted"] == 2
    assert _ids(sn.read_snapshot(spark, tdir)) == [0, 1, 3, 4, 5, 6, 8, 9]
    # both pre-delete versions still time-travelable
    assert _ids(sn.read_snapshot(spark, tdir, version=2)) == list(range(10))
    info = sn.snapshot_info(spark, tdir, res["version"])
    assert info["action"] == "delete" and info["rows_deleted"] == 2
    assert info["removed"]  # rewritten sources recorded


def test_delete_where_rewrites_only_hit_files(spark, tdir):
    # two commits = two disjoint file sets; matches live only in the first
    sn.write_snapshot(_batch(spark, 0, 5).coalesce(1), tdir)
    sn.write_snapshot(_batch(spark, 100, 105).coalesce(1), tdir)
    before = set(sn.snapshot_info(spark, tdir, 2)["files"])
    res = sn.delete_where(spark, tdir, "i < 3")
    assert res["rows_deleted"] == 3 and res["files_rewritten"] == 1
    after = set(sn.snapshot_info(spark, tdir, res["version"])["files"])
    # the untouched commit's file is carried over verbatim (no rewrite)
    assert len(before & after) == 1
    assert _ids(sn.read_snapshot(spark, tdir)) == [3, 4, 100, 101, 102, 103, 104]


def test_delete_where_stats_prune_skips_scan_and_survives(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 10).coalesce(1), tdir, stats_cols=["i"])
    sn.write_snapshot(_batch(spark, 100, 110).coalesce(1), tdir, stats_cols=["i"])
    res = sn.delete_where(spark, tdir, "i = 105", prune={"i": (100, 110)})
    assert res["files_skipped_by_stats"] == 1
    assert res["rows_deleted"] == 1 and res["files_rewritten"] == 1
    assert 105 not in _ids(sn.read_snapshot(spark, tdir))
    # rewritten file's recomputed stats still enable skipping
    info = sn.snapshot_info(spark, tdir, res["version"])
    new_rel = info["added"][0]
    assert info["stats"][new_rel]["i"][:2] == [100, 109]  # [min, max, nonnull]


def test_delete_where_null_condition_rows_are_kept(spark, tdir):
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "x")], "i long, s string")
    sn.write_snapshot(df, tdir)
    res = sn.delete_where(spark, tdir, "s = 'x'")
    assert res["rows_deleted"] == 1
    assert _ids(sn.read_snapshot(spark, tdir)) == [1, 2]  # NULL row kept


def test_delete_where_no_match_commits_nothing(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    head = sn.current_version(spark, tdir)
    res = sn.delete_where(spark, tdir, "i = 999")
    assert res == {
        "version": head,
        "rows_deleted": 0,
        "files_rewritten": 0,
        "files_dropped": 0,
        "files_untouched": len(sn.snapshot_info(spark, tdir, head)["files"]),
        "files_skipped_by_stats": 0,
    }
    assert sn.current_version(spark, tdir) == head


def test_metadata_agg_count_min_max_from_manifest_only(spark, tdir):
    df = spark.range(0, 100).select(
        F.col("id").alias("i"), (F.col("id") * 2.5).alias("v")
    )
    sn.write_snapshot(df.filter("i % 2 = 0"), tdir, stats_cols=("v",))
    sn.write_snapshot(df.filter("i % 2 = 1"), tdir, stats_cols=("v",))
    m = sn.metadata_agg(spark, tdir, cols=("v",))
    assert m["n_rows"] == 100
    assert m["min"]["v"] == 0.0 and m["max"]["v"] == 99 * 2.5
    # metadata answers must track the delete path's stats recompute
    sn.delete_where(spark, tdir, "i >= 90")
    m2 = sn.metadata_agg(spark, tdir, cols=("v",))
    assert m2["n_rows"] == 90
    assert m2["max"]["v"] == 89 * 2.5
    # time travel: the pre-delete version still answers the old numbers
    head = sn.current_version(spark, tdir)
    assert sn.metadata_agg(spark, tdir, version=head - 1)["n_rows"] == 100


def test_metadata_agg_refuses_missing_column_stats(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)  # no stats_cols
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 5  # counts always exist
    with pytest.raises(ValueError, match="lacks 'i' stats"):
        sn.metadata_agg(spark, tdir, cols=("i",))


def test_metadata_agg_refuses_manifest_without_row_counts(spark, tdir):
    import json as _json
    import pathlib

    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    mp = pathlib.Path(tdir) / "_log" / "v00000001.json"
    man = _json.loads(mp.read_text())
    del man["rows"]  # simulate a pre-row-count manifest
    mp.write_text(_json.dumps(man))
    # the local Hadoop FS keeps a checksum sidecar; the out-of-band edit
    # above invalidates it
    (mp.parent / f".{mp.name}.crc").unlink(missing_ok=True)
    with pytest.raises(ValueError, match="lacks row counts"):
        sn.metadata_agg(spark, tdir)


def test_optimize_carries_stats_and_rows(spark, tdir):
    df = spark.range(0, 60).select(F.col("id").alias("i"))
    for lo in range(0, 60, 10):  # six tiny commits -> small-file debt
        sn.write_snapshot(
            df.filter((F.col("i") >= lo) & (F.col("i") < lo + 10)),
            tdir,
            stats_cols=("i",),
        )
    v = sn.optimize_snapshot(spark, tdir, target_mb=1024)
    # stats survived the rewrite: metadata min/max still answerable,
    # and file skipping still works on the optimized snapshot
    m = sn.metadata_agg(spark, tdir, cols=("i",))
    assert (m["n_rows"], m["min"]["i"], m["max"]["i"]) == (60, 0, 59)
    assert _ids(sn.read_snapshot(spark, tdir, version=v)) == list(range(60))


def test_optimize_cluster_by_tightens_file_ranges(spark, tdir):
    import random

    rnd = random.Random(7)
    vals = list(range(400))
    rnd.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "i long").repartition(8)
    sn.write_snapshot(df, tdir, stats_cols=("i",))
    # unclustered ingest: a narrow range predicate prunes nothing
    before = sn.snapshot_info(spark, tdir, 1)
    v = sn.optimize_snapshot(spark, tdir, target_mb=1, cluster_by=("i",))
    after = sn.snapshot_info(spark, tdir, v)

    def kept(man, lo, hi):
        stats = man.get("stats", {})
        return sum(1 for rel in man["files"] if sn._overlaps(stats.get(rel), {"i": (lo, hi)}))

    if len(after["files"]) > 1:  # clustering only shows with >1 output file
        # after range-clustering, a narrow predicate touches exactly the
        # file(s) covering that range — pruning is near-perfect
        assert kept(after, 0, 10) < len(after["files"])
        assert kept(after, 0, 10) <= max(1, kept(before, 0, 10))
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(400))


def test_count_where_hybrid_tiers_and_nulls(spark, tdir):
    # 3 single-file commits with disjoint ranges; middle file has NULLs
    a = spark.createDataFrame([(float(v),) for v in range(0, 10)], "v double")
    b = spark.createDataFrame(
        [(float(v),) for v in range(10, 20)] + [(None,)] * 5, "v double"
    )
    c = spark.createDataFrame([(float(v),) for v in range(20, 30)], "v double")
    for df in (a, b, c):
        sn.write_snapshot(df.coalesce(1), tdir, stats_cols=("v",))
    # range fully covering file b, straddling nothing: b answered from
    # stats (NULLs excluded via the non-null count), a/c skipped
    r = sn.count_where(spark, tdir, "v", 10.0, 19.0)
    assert r["n_rows"] == 10  # not 15: the 5 NULL rows don't satisfy BETWEEN
    assert r["files_from_stats"] == 1 and r["files_scanned"] == 0
    assert r["files_skipped"] == 2
    # range straddling file boundaries: boundary files scanned, middle
    # from stats
    r2 = sn.count_where(spark, tdir, "v", 5.0, 25.0)
    assert r2["n_rows"] == 21  # 5..9 + 10..19 + 20..25
    assert r2["files_from_stats"] == 1 and r2["files_scanned"] == 2
    # sanity against the full scan
    full = sn.read_snapshot(spark, tdir).filter(F.col("v").between(5.0, 25.0)).count()
    assert r2["n_rows"] == full


def test_count_where_falls_back_to_scan_without_stats(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 50), tdir)  # no stats_cols
    r = sn.count_where(spark, tdir, "i", 10, 19)
    assert r["n_rows"] == 10
    assert r["files_from_stats"] == 0 and r["files_skipped"] <= 50
    assert r["files_scanned"] >= 1


def test_check_constraint_enforced_on_commit(spark, tdir):
    import os

    sn.write_snapshot(_batch(spark, 0, 10), tdir)
    v = sn.add_constraint(spark, tdir, "i_nonneg", "i >= 0")
    assert v == 2
    # violating append refused atomically: no version, no rows, no debris
    with pytest.raises(ValueError, match="i_nonneg"):
        sn.write_snapshot(
            spark.createDataFrame([(5,), (-1,)], "i long"), tdir
        )
    assert sn.current_version(spark, tdir) == 2
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(10))
    assert not [d for d in os.listdir(tdir) if d.startswith("staging-")]
    # passing append succeeds and carries the constraint forward
    v3 = sn.write_snapshot(_batch(spark, 10, 12), tdir)
    assert sn.snapshot_info(spark, tdir, v3)["constraints"] == {"i_nonneg": "i >= 0"}
    # NULL passes (SQL CHECK semantics)
    sn.write_snapshot(spark.createDataFrame([(None,)], "i long"), tdir)
    # copy-on-write DELETE carries the set without re-validation
    sn.delete_where(spark, tdir, "i = 11")
    head = sn.current_version(spark, tdir)
    assert sn.snapshot_info(spark, tdir, head)["constraints"] == {
        "i_nonneg": "i >= 0"
    }


def test_add_constraint_refuses_when_existing_rows_violate(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 10), tdir)
    with pytest.raises(ValueError, match="existing"):
        sn.add_constraint(spark, tdir, "i_big", "i >= 5")
    assert sn.current_version(spark, tdir) == 1  # nothing committed


def test_drop_constraint_reopens_commits_and_typo_raises(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 3), tdir)
    sn.add_constraint(spark, tdir, "i_nonneg", "i >= 0")
    with pytest.raises(KeyError):
        sn.drop_constraint(spark, tdir, "no_such")
    sn.drop_constraint(spark, tdir, "i_nonneg")
    v = sn.write_snapshot(spark.createDataFrame([(-7,)], "i long"), tdir)
    assert -7 in _ids(sn.read_snapshot(spark, tdir, version=v))
    assert "constraints" not in sn.snapshot_info(spark, tdir, v)


def test_schema_enforced_on_append(spark, tdir):
    import os

    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    # changed type refused atomically
    with pytest.raises(ValueError, match="type changed"):
        sn.write_snapshot(
            spark.createDataFrame([("x",)], "i string"), tdir
        )
    # renamed/new column refused without opt-in
    with pytest.raises(ValueError, match="new columns"):
        sn.write_snapshot(
            spark.range(1).select(F.col("id").alias("i"), F.lit(1).alias("j")),
            tdir,
        )
    # missing column refused
    with pytest.raises(ValueError, match="missing columns"):
        sn.write_snapshot(spark.range(1).select(F.lit("a").alias("z")), tdir)
    assert sn.current_version(spark, tdir) == 1
    assert not [d for d in os.listdir(tdir) if d.startswith("staging-")]
    # matching append fine (column order is irrelevant to the field map)
    sn.write_snapshot(_batch(spark, 5, 7), tdir)
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(7))


def test_schema_additive_evolution_and_overwrite_reset(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 3), tdir)
    ev = spark.range(3, 5).select(
        F.col("id").alias("i"), (F.col("id") * 10).alias("j")
    )
    v2 = sn.write_snapshot(ev, tdir, allow_schema_evolution=True)
    man = sn.snapshot_info(spark, tdir, v2)
    assert {f["name"] for f in man["schema"]["fields"]} == {"i", "j"}
    got = sn.read_snapshot(spark, tdir, merge_schema=True)
    rows = {r.i: r.j for r in got.collect()}
    assert rows[0] is None and rows[4] == 40  # old files NULL-fill j
    # an append matching the EVOLVED schema now passes without the flag
    sn.write_snapshot(
        spark.range(5, 6).select(F.col("id").alias("i"), F.lit(7).cast("long").alias("j")),
        tdir,
    )
    # overwrite resets the table schema entirely
    v = sn.write_snapshot(
        spark.range(2).select(F.lit("s").alias("only")), tdir, mode="overwrite"
    )
    assert {f["name"] for f in sn.snapshot_info(spark, tdir, v)["schema"]["fields"]} == {
        "only"
    }


def test_timestamp_time_travel(spark, tdir):
    import os
    import pathlib

    sn.write_snapshot(_batch(spark, 0, 3), tdir)
    sn.write_snapshot(_batch(spark, 3, 5), tdir)
    sn.write_snapshot(_batch(spark, 5, 6), tdir)
    # pin distinct commit times (mtime IS the commit clock)
    log = pathlib.Path(tdir) / "_log"
    for v, t in ((1, 1000.0), (2, 2000.0), (3, 3000.0)):
        os.utime(log / f"v{v:08d}.json", (t, t))
    assert sn.version_as_of(spark, tdir, 1500.0) == 1
    assert sn.version_as_of(spark, tdir, 2000.0) == 2  # at-or-before
    assert _ids(sn.read_snapshot(spark, tdir, as_of_ts=2500.0)) == list(range(5))
    assert _ids(sn.read_snapshot(spark, tdir, as_of_ts=9e9)) == list(range(6))
    with pytest.raises(FileNotFoundError, match="at or before"):
        sn.read_snapshot(spark, tdir, as_of_ts=500.0)
    with pytest.raises(ValueError, match="not both"):
        sn.read_snapshot(spark, tdir, version=1, as_of_ts=1500.0)


def test_table_history_describes_every_commit_kind(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 5), tdir)
    sn.write_snapshot(_batch(spark, 5, 8), tdir, idempotency_key="stream-7")
    sn.add_constraint(spark, tdir, "i_nonneg", "i >= 0")
    sn.delete_where(spark, tdir, "i = 2")
    sn.rollback(spark, tdir, to_version=2)
    h = {r.version: r for r in sn.table_history(spark, tdir).collect()}
    assert sorted(h) == [1, 2, 3, 4, 5]
    assert h[1].action == "append" and h[1].parent == 0 and h[1].n_rows == 5
    assert h[2].idempotency_key == "stream-7" and h[2].n_rows == 8
    assert h[3].action == "set_constraint" and h[3].constraints == ["i_nonneg"]
    assert h[4].action == "delete" and h[4].condition == "i = 2"
    assert h[4].n_rows == 7 and h[4].n_removed >= 1
    assert h[5].action == "rollback" and h[5].restored == 2
    # newest first, commit clock monotone non-decreasing backwards
    ordered = sn.table_history(spark, tdir).collect()
    assert [r.version for r in ordered] == [5, 4, 3, 2, 1]


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    import os

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(0, 20).select(F.col("id").alias("i"), (F.col("id") * 1.0).alias("v"))
    sn.write_snapshot(df, src, stats_cols=("v",))
    sn.add_constraint(spark, src, "v_nonneg", "v >= 0")
    v = sn.shallow_clone(spark, src, dst)
    assert v == 1
    # zero copy: the clone has no data files of its own yet
    assert not os.path.exists(os.path.join(dst, "data"))
    assert _ids(sn.read_snapshot(spark, dst)) == list(range(20))
    # metadata carried: scan-free count + constraints enforced on the clone
    assert sn.metadata_agg(spark, dst)["n_rows"] == 20
    with pytest.raises(ValueError, match="v_nonneg"):
        sn.write_snapshot(
            spark.createDataFrame([(99, -1.0)], "i long, v double"), dst
        )
    # divergence: append to the clone, COW-delete on the clone — the
    # source never changes
    sn.write_snapshot(
        spark.createDataFrame([(100, 5.0)], "i long, v double"), dst
    )
    res = sn.delete_where(spark, dst, "i < 5")
    assert res["rows_deleted"] == 5
    assert _ids(sn.read_snapshot(spark, dst)) == list(range(5, 20)) + [100]
    assert _ids(sn.read_snapshot(spark, src)) == list(range(20))  # untouched
    # clone's vacuum never deletes source files
    sn.vacuum(spark, dst, keep_last=1, grace_seconds=0)
    assert _ids(sn.read_snapshot(spark, src)) == list(range(20))
    # second clone into the same dst refused
    with pytest.raises(FileExistsError):
        sn.shallow_clone(spark, src, dst)


def test_shallow_clone_requires_absolute_source(spark, tmp_path):
    with pytest.raises(ValueError, match="absolute"):
        sn.shallow_clone(spark, "relative/path", str(tmp_path / "d"))


def test_cdf_cancels_rewrites_and_is_multiset_exact(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 10), tdir)          # v1: 10 inserts
    sn.delete_where(spark, tdir, "i >= 7")                 # v2: 3 deletes
    sn.optimize_snapshot(spark, tdir)                      # v3: no logical change
    sn.write_snapshot(                                     # v4: duplicate rows
        spark.createDataFrame([(3,), (3,)], "i long"), tdir
    )
    cdf = sn.read_changes_cdf(spark, tdir, from_version=0).collect()
    by_v = {}
    for r in cdf:
        by_v.setdefault(r._commit_version, []).append((r.i, r._change_type))
    assert sorted(by_v[1]) == [(i, "insert") for i in range(10)]
    assert sorted(by_v[2]) == [(7, "delete"), (8, "delete"), (9, "delete")]
    assert 3 not in by_v  # OPTIMIZE: same rows, new files -> empty diff
    assert sorted(by_v[4]) == [(3, "insert"), (3, "insert")]  # multiset: both copies
    # range scoping: only the delete commit
    only_v2 = sn.read_changes_cdf(spark, tdir, 1, 2).collect()
    assert sorted((r.i, r._change_type) for r in only_v2) == [
        (7, "delete"), (8, "delete"), (9, "delete")
    ]
    # rollback yields the logical un-diff
    sn.rollback(spark, tdir, to_version=2)  # drops v4's duplicate 3s
    back = sn.read_changes_cdf(spark, tdir, 4).collect()
    assert sorted((r.i, r._change_type) for r in back) == [
        (3, "delete"), (3, "delete")
    ]


def test_ivm_tracks_source_through_arbitrary_commits(spark, tmp_path):
    from jobanalytics_bigdataproject_spark.operators import ivm

    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")

    def rows(pairs):
        return spark.createDataFrame(pairs, "k string, v double")

    def check():
        v = ivm.maintain_sum_agg(spark, src, agg, ("k",), "v")
        got = {
            (r.k, r.cnt, r.sum_cents)
            for r in sn.read_snapshot(spark, agg).collect()
        }
        want = {
            (r.k, r.cnt, r.sum_cents)
            for r in sn.read_snapshot(spark, src)
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
            )
            .collect()
        }
        assert got == want, (got, want)
        return v

    sn.write_snapshot(rows([("a", 1.0), ("a", 2.5), ("b", 3.0), (None, 9.0)]), src)
    v = check()  # initial build (NULL key is a real group)
    assert ivm.maintain_sum_agg(spark, src, agg, ("k",), "v") == v  # no-op

    sn.write_snapshot(rows([("a", 1.0), ("c", 4.0)]), src)  # duplicate row
    check()
    sn.delete_where(spark, src, "k = 'b'")  # group count reaches zero
    check()
    assert "b" not in {r.k for r in sn.read_snapshot(spark, agg).collect()}
    sn.optimize_snapshot(spark, src)  # no logical change
    v_after_opt = check()
    sn.rollback(spark, src, to_version=2)  # un-delete b via rollback
    check()
    # exactly-once under redelivery: a second maintain call for the same
    # head commits nothing new
    head_agg = sn.current_version(spark, agg)
    ivm.maintain_sum_agg(spark, src, agg, ("k",), "v")
    assert sn.current_version(spark, agg) == head_agg


def test_ivm_composes_with_streaming_sink(spark, tmp_path):
    """Producer stream commits micro-batches via snapshot_sink; the
    maintenance job refreshes the aggregate after each — the streaming
    materialized-view loop, exactly-once on both sides."""
    from jobanalytics_bigdataproject_spark.operators import ivm

    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    in_dir = str(tmp_path / "in")
    import os

    os.makedirs(in_dir)
    spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "k string, v double"
    ).coalesce(1).write.mode("overwrite").json(in_dir + "/batch0")
    spark.createDataFrame(
        [("a", 3.0)], "k string, v double"
    ).coalesce(1).write.mode("overwrite").json(in_dir + "/batch1")

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1)
        .json(in_dir + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(sn.snapshot_sink(src))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert sn.current_version(spark, src) >= 1
    ivm.maintain_sum_agg(spark, src, agg, ("k",), "v")
    got = {(r.k, r.cnt, r.sum_cents) for r in sn.read_snapshot(spark, agg).collect()}
    assert got == {("a", 2, 400), ("b", 1, 200)}


def test_verify_constraints_catches_restore_violations(spark, tdir):
    sn.write_snapshot(spark.createDataFrame([(-5,), (1,)], "i long"), tdir)  # v1
    sn.delete_where(spark, tdir, "i < 0")                                    # v2
    sn.add_constraint(spark, tdir, "i_nonneg", "i >= 0")                     # v3
    assert sn.verify_constraints(spark, tdir).count() == 0  # clean
    sn.rollback(spark, tdir, to_version=1)  # legally resurrects i=-5
    rep = sn.verify_constraints(spark, tdir).collect()
    assert [(r.constraint, r.violations) for r in rep] == [("i_nonneg", 1)]
    # fix it; audit clean again
    sn.delete_where(spark, tdir, "i < 0")
    assert sn.verify_constraints(spark, tdir).count() == 0


def test_optimize_selective_leaves_right_sized_files_alone(spark, tdir):
    # one genuinely large commit (~1.5 MB) + three tiny ones (~1 KB:
    # parquet footer overhead dominates 1-row files, so the threshold
    # must sit far above it)
    sn.write_snapshot(
        spark.range(0, 200_000).select(F.col("id").alias("i")).coalesce(1),
        tdir, stats_cols=("i",),
    )
    for k in range(3):
        sn.write_snapshot(
            _batch(spark, 200_000 + k, 200_001 + k).coalesce(1),
            tdir, stats_cols=("i",),
        )
    before = sn.snapshot_info(spark, tdir, 4)
    sizes = {rel: __import__("os").path.getsize(f"{tdir}/{rel}") for rel in before["files"]}
    big = max(sizes, key=sizes.get)
    v = sn.optimize_snapshot(spark, tdir, target_mb=1024, min_file_mb=0.5)
    after = sn.snapshot_info(spark, tdir, v)
    assert after["action"] == "optimize"
    assert big in after["files"]              # untouched, carried verbatim
    assert after["stats"][big] == before["stats"][big]
    assert len(after["files"]) == 2           # big + one compacted bin
    assert sorted(after["removed"]) == sorted(
        r for r in before["files"] if r != big
    )
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(200_003))
    assert sn.metadata_agg(spark, tdir, cols=("i",))["n_rows"] == 200_003
    # second selective pass: single small file -> no-op, no new version
    assert sn.optimize_snapshot(spark, tdir, target_mb=1024, min_file_mb=0.5) == v


def test_ivm_derived_time_buckets_retract_into_right_bucket(spark, tmp_path):
    from jobanalytics_bigdataproject_spark.operators import ivm

    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    rows = [
        ("2024-01-01 10:00:00", 1.0), ("2024-01-01 11:00:00", 2.0),
        ("2024-01-02 10:00:00", 4.0),
    ]
    sn.write_snapshot(
        spark.createDataFrame(rows, "ts_s string, v double").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "v"
        ),
        src,
    )
    kw = dict(keys=("day",), value_col="v", derived={"day": "CAST(ts AS DATE)"})
    ivm.maintain_sum_agg(spark, src, agg, **kw)
    got = {(str(r.day), r.cnt, r.sum_cents)
           for r in sn.read_snapshot(spark, agg).collect()}
    assert got == {("2024-01-01", 2, 300), ("2024-01-02", 1, 400)}
    # delete one day-1 row: the retraction must land in day 1's bucket
    sn.delete_where(spark, src, "v = 2.0")
    ivm.maintain_sum_agg(spark, src, agg, **kw)
    got = {(str(r.day), r.cnt, r.sum_cents)
           for r in sn.read_snapshot(spark, agg).collect()}
    assert got == {("2024-01-01", 1, 100), ("2024-01-02", 1, 400)}


# ---------------------------------------------------------------- blooms


def _kept_files(spark, tdir, point):
    """Replicate read_snapshot's point pruning to count surviving files."""
    man = sn.snapshot_info(spark, tdir, sn.current_version(spark, tdir))
    stats, blooms = man.get("stats", {}), man.get("blooms", {})
    types = {f["name"]: f["type"] for f in man["schema"]["fields"]}
    depth = max(
        (e[c]["d"] for e in blooms.values() for c in point if c in e), default=0
    )
    h = sn._point_hashes(spark, point, types, depth) if depth else {}
    eq = {c: (v, v) for c, v in point.items()}
    return [
        r
        for r in man["files"]
        if sn._overlaps(stats.get(r), eq) and sn._bloom_keeps(blooms.get(r), point, h)
    ]


def test_bloom_point_lookup_skips_files_never_rows(spark, tdir):
    # hash-distribute ids over 4 files: min/max stats span everything
    # (useless for equality), the per-file bloom still prunes to ~1 file
    df = _batch(spark, 0, 400).repartition(4, "i")
    sn.write_snapshot(df, tdir, stats_cols=("i",), bloom_cols=("i",))
    man = sn.snapshot_info(spark, tdir, 1)
    assert len(man["files"]) == 4 and set(man["blooms"]) == set(man["files"])
    for k in (0, 97, 399):
        got = _ids(sn.read_snapshot(spark, tdir, point={"i": k}).filter(F.col("i") == k))
        assert got == [k]
        assert len(_kept_files(spark, tdir, {"i": k})) < 4  # skipped some
    # absent key: bloom prunes every file (fp ~ (n/w)^d, negligible here)
    assert _kept_files(spark, tdir, {"i": 10_000_000}) == []
    assert sn.read_snapshot(spark, tdir, point={"i": 10_000_000}).count() == 0


def test_bloom_point_read_without_index_keeps_rows(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 50), tdir)  # no bloom, no stats
    got = _ids(sn.read_snapshot(spark, tdir, point={"i": 7}).filter(F.col("i") == 7))
    assert got == [7]  # nothing skippable, nothing lost


def test_bloom_string_column_probe_matches_build(spark, tdir):
    df = _batch(spark, 0, 200).select(
        "i", F.concat(F.lit("user-"), F.col("i")).alias("name")
    ).repartition(4, "name")
    sn.write_snapshot(df, tdir, bloom_cols=("name",))
    got = sn.read_snapshot(spark, tdir, point={"name": "user-123"}).filter(
        F.col("name") == "user-123"
    )
    assert [r.i for r in got.collect()] == [123]
    assert len(_kept_files(spark, tdir, {"name": "user-123"})) < 4
    assert _kept_files(spark, tdir, {"name": "nobody"}) == []


def test_bloom_survives_maintenance_rewrites(spark, tdir):
    sn.write_snapshot(
        _batch(spark, 0, 300).repartition(4, "i"), tdir, bloom_cols=("i",)
    )
    # COW delete rewrites hit files -> their bloom entries are dropped,
    # untouched files keep theirs; point reads stay exact either way
    sn.delete_where(spark, tdir, "i % 10 = 3")
    assert _ids(sn.read_snapshot(spark, tdir, point={"i": 97}).filter(F.col("i") == 97)) == [97]
    assert sn.read_snapshot(spark, tdir, point={"i": 93}).filter(F.col("i") == 93).count() == 0
    man = sn.snapshot_info(spark, tdir, sn.current_version(spark, tdir))
    assert set(man.get("blooms", {})) <= set(man["files"])  # no dangling entries
    # compaction: replacement file has no bloom (always kept), law holds
    sn.optimize_snapshot(spark, tdir, target_mb=1024)
    assert _ids(sn.read_snapshot(spark, tdir, point={"i": 97}).filter(F.col("i") == 97)) == [97]
    # rollback to v1 restores v1's bloom index verbatim
    sn.rollback(spark, tdir, to_version=1)
    man = sn.snapshot_info(spark, tdir, sn.current_version(spark, tdir))
    assert set(man["blooms"]) == set(man["files"])
    assert _ids(sn.read_snapshot(spark, tdir, point={"i": 93}).filter(F.col("i") == 93)) == [93]


def test_bloom_shallow_clone_carries_index(spark, tdir, tmp_path):
    sn.write_snapshot(
        _batch(spark, 0, 200).repartition(4, "i"), tdir, bloom_cols=("i",)
    )
    dst = str(tmp_path / "clone")
    sn.shallow_clone(spark, tdir, dst)
    assert _ids(sn.read_snapshot(spark, dst, point={"i": 42}).filter(F.col("i") == 42)) == [42]
    assert len(_kept_files(spark, dst, {"i": 42})) < 4


def test_point_lookup_on_nested_column_raises(spark, tdir):
    df = _batch(spark, 0, 10).select("i", F.struct("i").alias("s"))
    sn.write_snapshot(df, tdir, bloom_cols=("i",))
    with pytest.raises(ValueError, match="non-atomic"):
        sn.read_snapshot(spark, tdir, point={"s": 1})


# ---------------------------------------------------------------- merge


def _kv(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("i"),
        F.concat(F.lit(tag + "-"), F.col("id")).alias("v"),
    )


def test_merge_into_updates_and_inserts_touching_only_hit_files(spark, tdir):
    sn.write_snapshot(
        _kv(spark, 0, 40).repartition(4, "i"), tdir,
        stats_cols=("i",), bloom_cols=("i",),
    )
    man1 = sn.snapshot_info(spark, tdir, 1)
    # 38,39 update; 40..43 insert
    res = sn.merge_into(spark, tdir, _kv(spark, 38, 44, tag="new"), ("i",))
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 4
    assert 1 <= res["files_rewritten"] <= 2  # only files containing key 38/39
    assert res["files_rewritten"] + res["files_untouched"] == 4
    got = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    expect = {(i, f"a-{i}") for i in range(38)} | {
        (i, f"new-{i}") for i in range(38, 44)
    }
    assert got == expect
    man2 = sn.snapshot_info(spark, tdir, res["version"])
    # untouched files carried verbatim, hit files removed
    untouched = set(man1["files"]) - set(man2["removed"])
    assert untouched <= set(man2["files"])
    assert len(untouched) == res["files_untouched"]
    # stats + bloom index rebuilt for every rewritten/inserted file
    assert set(man2["blooms"]) == set(man2["files"])
    assert set(man2["stats"]) == set(man2["files"])
    # point lookup stays exact through the merge (updated + inserted keys)
    for k, want in ((39, "new-39"), (41, "new-41"), (7, "a-7")):
        row = (
            sn.read_snapshot(spark, tdir, point={"i": k})
            .filter(F.col("i") == k).collect()
        )
        assert [(r.i, r.v) for r in row] == [(k, want)]


def test_merge_into_cdf_shows_update_as_delete_insert_pair(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 20).repartition(2, "i"), tdir)
    src = spark.createDataFrame([(5, "upd-5"), (100, "ins-100")], "i long, v string")
    sn.merge_into(spark, tdir, src, ("i",))
    got = {
        (r.i, r.v, r._change_type)
        for r in sn.read_changes_cdf(spark, tdir, from_version=1).collect()
    }
    # rewrite survivors cancel; only the logical diff remains
    assert got == {
        (5, "a-5", "delete"),
        (5, "upd-5", "insert"),
        (100, "ins-100", "insert"),
    }


def test_merge_into_ambiguous_source_refused(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 10), tdir)
    dup = spark.createDataFrame([(3, "x"), (3, "y")], "i long, v string")
    with pytest.raises(ValueError, match="multiple rows"):
        sn.merge_into(spark, tdir, dup, ("i",))
    assert sn.current_version(spark, tdir) == 1


def test_merge_into_constraint_violation_refused_atomically(spark, tdir):
    import os

    sn.write_snapshot(_kv(spark, 0, 10), tdir)
    sn.add_constraint(spark, tdir, "i_nonneg", "i >= 0")
    bad = spark.createDataFrame([(-1, "neg"), (3, "upd")], "i long, v string")
    v = sn.current_version(spark, tdir)
    with pytest.raises(ValueError, match="i_nonneg"):
        sn.merge_into(spark, tdir, bad, ("i",))
    assert sn.current_version(spark, tdir) == v
    got = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    assert got == {(i, f"a-{i}") for i in range(10)}  # update NOT applied
    assert not [d for d in os.listdir(tdir) if d.startswith("staging-")]


def test_merge_into_empty_and_noop_source_commits_nothing(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    empty = spark.createDataFrame([], "i long, v string")
    res = sn.merge_into(spark, tdir, empty, ("i",))
    assert res == {
        "version": 1,
        "rows_updated": 0,
        "rows_deleted": 0,
        "rows_inserted": 0,
        "files_rewritten": 0,
        "files_untouched": len(sn.snapshot_info(spark, tdir, 1)["files"]),
    }
    assert sn.current_version(spark, tdir) == 1


def test_merge_into_schema_mismatch_refused(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    with pytest.raises(ValueError, match="match the table schema"):
        sn.merge_into(
            spark, tdir, _kv(spark, 0, 3).withColumnRenamed("v", "w"), ("i",)
        )


def test_merge_into_null_source_value_wins(spark, tdir):
    # MERGE's UPDATE SET t.v = s.v: a NULL source value overwrites
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    src = spark.createDataFrame([(2, None)], "i long, v string")
    res = sn.merge_into(spark, tdir, src, ("i",))
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 0
    got = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    assert got == {(0, "a-0"), (1, "a-1"), (2, None), (3, "a-3"), (4, "a-4")}


# ------------------------------------------------------------------- cdc


def test_merge_delete_condition_applies_cdc_semantics(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 20).repartition(2, "i"), tdir)
    src = spark.createDataFrame(
        [
            (1, "upd-1", "U"),   # matched update
            (2, None, "D"),      # matched delete
            (3, None, "D"),      # matched delete
            (100, "ins-100", "I"),  # unmatched insert
            (200, None, "D"),    # absent-key delete: no-op
        ],
        "i long, v string, _op string",
    )
    res = sn.merge_into(spark, tdir, src, ("i",), delete_condition="_op = 'D'")
    assert res["rows_updated"] == 1
    assert res["rows_deleted"] == 2
    assert res["rows_inserted"] == 1
    got = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    expect = {(i, f"a-{i}") for i in range(20) if i not in (1, 2, 3)} | {
        (1, "upd-1"), (100, "ins-100")
    }
    assert got == expect
    # _op is condition fuel only — never written
    assert sn.read_snapshot(spark, tdir).columns == ["i", "v"]
    # without a delete_condition, extra source columns stay refused
    with pytest.raises(ValueError, match="match the table schema"):
        sn.merge_into(spark, tdir, src, ("i",))


def test_apply_changes_last_op_per_key_wins_by_seq(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 10), tdir)
    changes = spark.createDataFrame(
        [
            (5, "x", "U", 1), (5, None, "D", 2),        # net: delete 5
            (6, None, "D", 1), (6, "fin-6", "U", 2),     # net: update 6
            (100, "first", "I", 1), (100, "final", "U", 2),  # net: insert final
            (7, None, "D", 1),                            # delete 7
        ],
        "i long, v string, _op string, seq int",
    )
    res = sn.apply_changes(spark, tdir, changes, ("i",), seq_col="seq")
    assert res["rows_deleted"] == 2 and res["rows_updated"] == 1
    assert res["rows_inserted"] == 1
    got = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    expect = {(i, f"a-{i}") for i in range(10) if i not in (5, 6, 7)} | {
        (6, "fin-6"), (100, "final")
    }
    assert got == expect


def test_apply_changes_equal_seq_tie_breaks_to_delete(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    tie = spark.createDataFrame(
        [(2, "upd", "U", 1), (2, None, "D", 1)], "i long, v string, _op string, seq int"
    )
    sn.apply_changes(spark, tdir, tie, ("i",), seq_col="seq")
    assert _ids(sn.read_snapshot(spark, tdir)) == [0, 1, 3, 4]


def test_apply_changes_unknown_op_refused(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    bad = spark.createDataFrame(
        [(1, "x", "UPSERT", 1)], "i long, v string, _op string, seq int"
    )
    with pytest.raises(ValueError, match="must be one of"):
        sn.apply_changes(spark, tdir, bad, ("i",), seq_col="seq")
    assert sn.current_version(spark, tdir) == 1


def test_merge_idempotency_key_replays_without_rewriting(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 10).repartition(2, "i"), tdir)
    src = spark.createDataFrame([(3, "upd"), (100, "ins")], "i long, v string")
    r1 = sn.merge_into(spark, tdir, src, ("i",), idempotency_key="batch-7")
    head = sn.current_version(spark, tdir)
    # redelivery: same key -> no new version, prior result reconstructed
    r2 = sn.merge_into(spark, tdir, src, ("i",), idempotency_key="batch-7")
    assert sn.current_version(spark, tdir) == head
    assert r2 == r1
    # a different key applies normally (content-idempotent re-merge)
    r3 = sn.merge_into(spark, tdir, src, ("i",), idempotency_key="batch-8")
    assert r3["version"] == head + 1
    got = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    assert (3, "upd") in got and (100, "ins") in got and len(got) == 11


def test_cdc_sink_stream_applies_changes_exactly_once(spark, tdir, tmp_path):
    sn.write_snapshot(_kv(spark, 0, 10).repartition(2, "i"), tdir)
    src = str(tmp_path / "changes")
    b0 = spark.createDataFrame(
        [(1, "u1", "U", 1), (2, None, "D", 1)], "i long, v string, _op string, seq int"
    )
    b1 = spark.createDataFrame(
        [(100, "new", "I", 2), (7, None, "D", 2)], "i long, v string, _op string, seq int"
    )
    b0.coalesce(1).write.parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("i long, v string, _op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = sn.cdc_sink(tdir, ("i",), seq_col="seq")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert sn.current_version(spark, tdir) == 3  # base + 2 applied batches
    got = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    expect = {(i, f"a-{i}") for i in range(10) if i not in (1, 2, 7)} | {
        (1, "u1"), (100, "new")
    }
    assert got == expect
    # retry of an already-applied batch id: idempotent no-op
    sink(b0, 0)
    assert sn.current_version(spark, tdir) == 3


# ---------------------------------------------------------- delete_range


def test_delete_range_drops_whole_files_without_reading(spark, tdir):
    sn.write_snapshot(
        _batch(spark, 0, 400).repartitionByRange(4, "i"), tdir, stats_cols=("i",)
    )
    res = sn.delete_range(spark, tdir, "i", 0, 199)
    assert res["rows_deleted"] == 200
    assert res["files_dropped"] >= 1  # contained files: zero-I/O drop
    assert res["files_dropped"] + res["files_rewritten"] <= 3
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(200, 400))
    # one atomic commit; CDF of it is exactly the expired rows
    assert sn.current_version(spark, tdir) == 2
    cdf = sn.read_changes_cdf(spark, tdir, from_version=1)
    got = {(r.i, r._change_type) for r in cdf.collect()}
    assert got == {(i, "delete") for i in range(200)}
    # manifest row counts stay exact (metadata-only COUNT law)
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 200


def test_delete_range_drop_only_commit(spark, tdir):
    # range fully covers files 1+2 and misses the rest entirely: no
    # straddler, so the commit is pure manifest arithmetic (no staging)
    import os

    for lo in (0, 100, 200):
        sn.write_snapshot(_batch(spark, lo, lo + 100).coalesce(1), tdir,
                          stats_cols=("i",))
    res = sn.delete_range(spark, tdir, "i", 0, 199)
    assert res["files_dropped"] == 2 and res["files_rewritten"] == 0
    assert res["rows_deleted"] == 200
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(200, 300))
    assert not [d for d in os.listdir(tdir) if d.startswith("staging-")]


def test_delete_range_null_column_rows_survive(spark, tdir):
    # NULL is not BETWEEN anything: a file inside the range but holding a
    # NULL has a survivor, so it must take the scan tier, never the drop
    df = spark.createDataFrame([(0,), (5,), (None,), (9,)], "i long").coalesce(1)
    sn.write_snapshot(df, tdir, stats_cols=("i",))
    res = sn.delete_range(spark, tdir, "i", 0, 100)
    assert res["files_dropped"] == 0 and res["files_rewritten"] == 1
    assert res["rows_deleted"] == 3
    got = [r.i for r in sn.read_snapshot(spark, tdir).collect()]
    assert got == [None]


def test_delete_range_on_dates(spark, tdir):
    import datetime

    df = spark.range(0, 120).select(
        F.col("id").alias("i"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    )
    sn.write_snapshot(df.repartitionByRange(4, "d"), tdir, stats_cols=("d",))
    res = sn.delete_range(
        spark, tdir, "d", datetime.date(2024, 1, 1), datetime.date(2024, 2, 29)
    )
    assert res["rows_deleted"] == 60  # Jan 1 .. Feb 29 inclusive
    assert res["files_dropped"] >= 1
    left = sn.read_snapshot(spark, tdir).agg(F.min("d"), F.count("*")).collect()[0]
    assert str(left[0]) == "2024-03-01" and left[1] == 60


def test_delete_range_without_stats_scans_but_stays_exact(spark, tdir):
    sn.write_snapshot(_batch(spark, 0, 100).repartitionByRange(4, "i"), tdir)
    res = sn.delete_range(spark, tdir, "i", 0, 49)
    assert res["files_dropped"] == 0  # no stats -> no provable drop
    assert res["rows_deleted"] == 50
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(50, 100))


# ---------------------------------------------------------- update_where


def _iv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("i"), (F.col("id") * 10).alias("v")
    )


def test_update_where_rewrites_only_hit_files(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 50).coalesce(1), tdir, stats_cols=("i",))
    sn.write_snapshot(_iv(spark, 50, 100).coalesce(1), tdir, stats_cols=("i",))
    before = set(sn.snapshot_info(spark, tdir, 2)["files"])
    res = sn.update_where(spark, tdir, {"v": "v + 1"}, "i < 10")
    assert res == {
        "version": 3,
        "rows_updated": 10,
        "files_rewritten": 1,
        "files_untouched": 1,
        "files_skipped_by_stats": 0,
    }
    # the file with no matches is carried verbatim (same physical path)
    after = set(sn.snapshot_info(spark, tdir, 3)["files"])
    assert len(before & after) == 1
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    assert got == {i: i * 10 + (1 if i < 10 else 0) for i in range(100)}
    # time travel still sees the pre-update values
    old = {r.i: r.v for r in sn.read_snapshot(spark, tdir, version=2).collect()}
    assert old == {i: i * 10 for i in range(100)}


def test_update_where_prune_skips_files_unread(spark, tdir):
    for lo in (0, 100, 200):
        sn.write_snapshot(_iv(spark, lo, lo + 100).coalesce(1), tdir,
                          stats_cols=("i",))
    res = sn.update_where(
        spark, tdir, {"v": "0 - v"}, "i BETWEEN 250 AND 260",
        prune={"i": (250, 260)},
    )
    assert res["files_skipped_by_stats"] == 2 and res["files_rewritten"] == 1
    assert res["rows_updated"] == 11
    neg = sn.read_snapshot(spark, tdir).filter("v < 0")
    assert _ids(neg) == list(range(250, 261))


def test_update_where_assignments_are_simultaneous_and_null_safe(spark, tdir):
    # {"i": "v", "v": "i"} must SWAP (both see the OLD row), and a NULL
    # condition keeps the row unchanged (SQL UPDATE semantics)
    df = spark.createDataFrame([(1, 10), (2, 20), (None, 99)], "i long, v long")
    sn.write_snapshot(df.coalesce(1), tdir)
    res = sn.update_where(spark, tdir, {"i": "v", "v": "i"}, "i >= 2")
    assert res["rows_updated"] == 1
    got = sorted(
        ((r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [(1, 10), (20, 2), (None, 99)]


def test_update_where_casts_to_existing_type_and_refuses_new_columns(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 5).coalesce(1), tdir)
    # expression yields a double; column stays long
    sn.update_where(spark, tdir, {"v": "v * 1.5"}, "i = 2")
    [r] = sn.read_snapshot(spark, tdir).filter("i = 2").collect()
    assert r.v == 30 and isinstance(r.v, int)
    with pytest.raises(ValueError, match="do not exist"):
        sn.update_where(spark, tdir, {"nope": "1"}, "i = 0")
    with pytest.raises(ValueError, match="at least one SET"):
        sn.update_where(spark, tdir, {}, "i = 0")


@pytest.mark.parametrize("op", ["update_where", "update_where_mor"])
def test_update_set_targets_checked_before_pruning(spark, tdir, op):
    """An unknown SET target refuses even when pruning leaves no
    candidate file — the check reads the manifest schema, not a scan."""
    sn.write_snapshot(_iv(spark, 0, 40), tdir, stats_cols=("i",))
    with pytest.raises(ValueError, match=r"SET targets \['nope'\] do not exist"):
        getattr(sn, op)(
            spark, tdir, {"nope": "'x'"}, "i < 5", prune={"i": (1000, 2000)}
        )
    assert sn.current_version(spark, tdir) == 1


def test_update_where_no_match_commits_nothing(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 10), tdir)
    head = sn.current_version(spark, tdir)
    res = sn.update_where(spark, tdir, {"v": "0"}, "i > 1000")
    assert res["version"] == head and res["rows_updated"] == 0
    assert sn.current_version(spark, tdir) == head


def test_update_where_validates_check_constraints(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)
    sn.add_constraint(spark, tdir, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        sn.update_where(spark, tdir, {"v": "0 - 5"}, "i = 3")
    # refusal staged nothing and committed nothing
    import os

    assert not [d for d in os.listdir(tdir) if d.startswith("staging-")]
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    assert got == {i: i * 10 for i in range(10)}


def test_update_where_refreshes_stats_and_cdf_shows_pairs(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 20).coalesce(1), tdir, stats_cols=("v",))
    v = sn.update_where(spark, tdir, {"v": "v + 1000"}, "i = 19")["version"]
    # rewritten file's max__v stats must reflect the GROWN range
    info = sn.snapshot_info(spark, tdir, v)
    [rel] = info["added"]
    assert info["stats"][rel]["v"][1] == 1190
    # metadata-only MAX answers from the refreshed manifest
    assert sn.metadata_agg(spark, tdir, cols=("v",))["max"]["v"] == 1190
    # CDF of the update commit: exactly one delete+insert pair
    got = {(r.i, r.v, r._change_type) for r in
           sn.read_changes_cdf(spark, tdir, from_version=v - 1).collect()}
    assert got == {(19, 190, "delete"), (19, 1190, "insert")}


def test_update_where_cardinality_tripwire(spark, tdir):
    # an exploding/filtering assignment cannot happen via select, but the
    # tripwire also guards staging anomalies: simulate by asserting the
    # committed row counts stay exact after a legitimate update
    sn.write_snapshot(_iv(spark, 0, 30).repartition(3), tdir)
    sn.update_where(spark, tdir, {"v": "v"}, "i % 2 = 0")
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 30


# ------------------------------------------------- deletion vectors (MOR)


def test_mor_delete_rewrites_nothing_and_read_applies(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 50).coalesce(1), tdir)
    sn.write_snapshot(_iv(spark, 50, 100).coalesce(1), tdir)
    files_before = sn.snapshot_info(spark, tdir, 2)["files"]
    res = sn.delete_where_mor(spark, tdir, "i % 10 = 3")
    assert res["rows_deleted"] == 10 and res["files_rewritten"] == 0
    assert res["files_with_dvs"] == 2
    # the data file set is IDENTICAL — only metadata moved
    assert sn.snapshot_info(spark, tdir, res["version"])["files"] == files_before
    assert _ids(sn.read_snapshot(spark, tdir)) == [
        i for i in range(100) if i % 10 != 3
    ]
    # time travel before the delete still sees every row
    assert _ids(sn.read_snapshot(spark, tdir, version=2)) == list(range(100))


def test_mor_delete_is_incremental_and_never_double_counts(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 100).coalesce(1), tdir)
    r1 = sn.delete_where_mor(spark, tdir, "i < 20")
    r2 = sn.delete_where_mor(spark, tdir, "i < 30")  # overlaps the first
    assert r1["rows_deleted"] == 20 and r2["rows_deleted"] == 10
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(30, 100))
    # manifest per-file counts stay exact under overlap
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 70
    # a no-match re-run commits nothing
    head = sn.current_version(spark, tdir)
    r3 = sn.delete_where_mor(spark, tdir, "i < 30")
    assert r3["version"] == head and r3["rows_deleted"] == 0


def test_mor_fully_deleted_file_is_never_opened(spark, tdir):
    for lo in (0, 100):
        sn.write_snapshot(_iv(spark, lo, lo + 100).coalesce(1), tdir)
    sn.delete_where_mor(spark, tdir, "i < 100")
    df = sn.read_snapshot(spark, tdir)
    assert _ids(df) == list(range(100, 200))
    assert len(df.inputFiles()) == 1  # the dead file is pruned, not scanned


def test_mor_delete_cdf_and_null_condition_rows_kept(spark, tdir):
    df = spark.createDataFrame([(1, 10), (2, 20), (None, 99)], "i long, v long")
    sn.write_snapshot(df.coalesce(1), tdir)
    v = sn.delete_where_mor(spark, tdir, "i >= 2")["version"]
    got = {(r.i, r.v, r._change_type) for r in
           sn.read_changes_cdf(spark, tdir, from_version=v - 1).collect()}
    assert got == {(2, 20, "delete")}
    left = {(r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()}
    assert left == {(1, 10), (None, 99)}  # NULL condition row survives


def test_materialize_dvs_folds_and_reenables_cow(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 100).coalesce(1), tdir, stats_cols=("i",))
    sn.delete_where_mor(spark, tdir, "i >= 90")
    with pytest.raises(ValueError, match="materialize_dvs"):
        sn.delete_where(spark, tdir, "i = 0")
    with pytest.raises(ValueError, match="materialize_dvs"):
        sn.update_where(spark, tdir, {"v": "0"}, "i = 0")
    with pytest.raises(ValueError, match="materialize_dvs"):
        sn.merge_into(spark, tdir, _iv(spark, 0, 1), ["i"])
    with pytest.raises(ValueError, match="materialize_dvs"):
        sn.metadata_agg(spark, tdir, cols=("i",))
    res = sn.materialize_dvs(spark, tdir)
    assert res["files_rewritten"] == 1 and res["rows_removed"] == 10
    info = sn.snapshot_info(spark, tdir, res["version"])
    assert "dvs" not in info and "dv_files" not in info
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(90))
    # stats were TIGHTENED at materialize: metadata MAX works and is exact
    assert sn.metadata_agg(spark, tdir, cols=("i",))["max"]["i"] == 89
    # CDF of the materialize commit is EMPTY (same logical rows) —
    # the deletes were reported when the vector was written
    cdf = sn.read_changes_cdf(
        spark, tdir, from_version=res["version"] - 1, to_version=res["version"]
    )
    assert cdf.count() == 0
    # COW delete works again
    assert sn.delete_where(spark, tdir, "i = 0")["rows_deleted"] == 1
    # idempotent: materialize with no DVs is a no-op
    again = sn.materialize_dvs(spark, tdir)
    assert again["files_rewritten"] == 0


def test_mor_count_where_and_metadata_count_stay_exact(spark, tdir):
    sn.write_snapshot(
        _batch(spark, 0, 300).repartitionByRange(3, "i"), tdir, stats_cols=("i",)
    )
    sn.delete_where_mor(spark, tdir, "i BETWEEN 110 AND 119")
    res = sn.count_where(spark, tdir, "i", 100, 199)
    assert res["n_rows"] == 90
    # the DV'd file cannot answer from stats — it must scan
    assert res["files_from_stats"] == 0 and res["files_scanned"] == 1
    assert res["files_skipped"] == 2
    # a range over clean files still answers from the manifest
    res2 = sn.count_where(spark, tdir, "i", 200, 299)
    assert res2["n_rows"] == 100 and res2["files_from_stats"] == 1


def test_mor_append_keeps_dvs_overwrite_drops_them(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)
    sn.delete_where_mor(spark, tdir, "i < 5")
    sn.write_snapshot(_iv(spark, 10, 20).coalesce(1), tdir)  # append
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(5, 20))
    sn.write_snapshot(_iv(spark, 0, 3).coalesce(1), tdir, mode="overwrite")
    info = sn.snapshot_info(spark, tdir, sn.current_version(spark, tdir))
    assert "dvs" not in info
    assert _ids(sn.read_snapshot(spark, tdir)) == [0, 1, 2]


def test_mor_rollback_resurrects_and_cdf_shows_inserts(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)  # v1
    sn.delete_where_mor(spark, tdir, "i >= 8")  # v2
    v3 = sn.rollback(spark, tdir, to_version=1)
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(10))
    got = {(r.i, r._change_type) for r in
           sn.read_changes_cdf(spark, tdir, from_version=2, to_version=v3).collect()}
    assert got == {(8, "insert"), (9, "insert")}
    # rolling forward to the DV version restores the deletes
    v4 = sn.rollback(spark, tdir, to_version=2)
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(8))
    assert sn.snapshot_info(spark, tdir, v4)["dvs"]


def test_mor_vacuum_cleans_unreferenced_sidecars(spark, tdir):
    import os

    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)  # v1
    sn.delete_where_mor(spark, tdir, "i = 0")  # v2
    sn.materialize_dvs(spark, tdir)  # v3: sidecar now unreferenced by head
    sn.write_snapshot(_iv(spark, 10, 20).coalesce(1), tdir)  # v4
    assert len(os.listdir(f"{tdir}/dv")) == 1
    sn.vacuum(spark, tdir, keep_last=2, grace_seconds=0)  # keeps v3..v4, drops v1..v2
    assert os.listdir(f"{tdir}/dv") == []
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(1, 20))


def test_mor_shallow_clone_carries_dvs(spark, tdir, tmp_path):
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)
    sn.delete_where_mor(spark, tdir, "i >= 7")
    dst = str(tmp_path / "clone")
    sn.shallow_clone(spark, tdir, dst)
    assert _ids(sn.read_snapshot(spark, dst)) == list(range(7))
    assert sn.metadata_agg(spark, dst)["n_rows"] == 7


def test_mor_prune_and_point_reads_still_skip(spark, tdir):
    sn.write_snapshot(
        _batch(spark, 0, 300).repartitionByRange(3, "i"), tdir, stats_cols=("i",)
    )
    sn.delete_where_mor(spark, tdir, "i = 150")
    df = sn.read_snapshot(spark, tdir, prune={"i": (0, 99)})
    assert len(df.inputFiles()) == 1 and df.count() == 100
    mid = sn.read_snapshot(spark, tdir, prune={"i": (100, 199)})
    assert mid.count() == 99  # DV applied on the pruned scan too


def test_mor_history_reports_logical_rows(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)
    sn.delete_where_mor(spark, tdir, "i < 3")
    h = {r.version: (r.action, r.n_rows)
         for r in sn.table_history(spark, tdir).collect()}
    assert h[1] == ("overwrite", 10) or h[1] == ("append", 10)
    assert h[2] == ("mor_delete", 7)


# ---------------------------------------------------- update_where_mor


def test_mor_update_rewrites_nothing_and_applies(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 50).coalesce(1), tdir)
    sn.write_snapshot(_iv(spark, 50, 100).coalesce(1), tdir)
    before = set(sn.snapshot_info(spark, tdir, 2)["files"])
    res = sn.update_where_mor(spark, tdir, {"v": "v + 1"}, "i % 10 = 0")
    assert res["rows_updated"] == 10 and res["files_rewritten"] == 0
    assert res["files_with_dvs"] == 2 and res["files_added"] >= 1
    # every pre-existing file is still in the manifest untouched
    info = sn.snapshot_info(spark, tdir, res["version"])
    assert before <= set(info["files"])
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    assert got == {i: i * 10 + (1 if i % 10 == 0 else 0) for i in range(100)}
    # time travel sees pre-update values; COUNT is unchanged
    old = {r.i: r.v for r in sn.read_snapshot(spark, tdir, version=2).collect()}
    assert old == {i: i * 10 for i in range(100)}
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 100


def test_mor_update_cdf_shows_delete_insert_pair(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 20).coalesce(1), tdir)
    v = sn.update_where_mor(spark, tdir, {"v": "v + 1000"}, "i = 5")["version"]
    got = {(r.i, r.v, r._change_type) for r in
           sn.read_changes_cdf(spark, tdir, from_version=v - 1).collect()}
    assert got == {(5, 50, "delete"), (5, 1050, "insert")}


def test_mor_update_works_on_already_vectored_table(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 30).coalesce(1), tdir)
    sn.delete_where_mor(spark, tdir, "i >= 20")
    res = sn.update_where_mor(spark, tdir, {"v": "0 - v"}, "i >= 10")
    assert res["rows_updated"] == 10  # deleted rows are not updated
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    assert got == {i: (i * 10 if i < 10 else -i * 10) for i in range(20)}
    # a second overlapping update only touches LIVE rows (no double-apply)
    res2 = sn.update_where_mor(spark, tdir, {"v": "v - 1"}, "i BETWEEN 9 AND 10")
    assert res2["rows_updated"] == 2
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    assert got[9] == 89 and got[10] == -101


def test_mor_update_constraints_and_cardinality_guard(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)
    sn.add_constraint(spark, tdir, "v_nonneg", "v >= 0")
    head = sn.current_version(spark, tdir)
    with pytest.raises(ValueError, match="v_nonneg"):
        sn.update_where_mor(spark, tdir, {"v": "0 - 5"}, "i = 3")
    import os

    assert sn.current_version(spark, tdir) == head
    assert not [d for d in os.listdir(tdir) if d.startswith("staging-")]
    # refused commit left no sidecar behind either
    assert not os.path.exists(f"{tdir}/dv") or os.listdir(f"{tdir}/dv") == []
    with pytest.raises(ValueError, match="do not exist"):
        sn.update_where_mor(spark, tdir, {"nope": "1"}, "i = 0")
    # no-match: nothing committed
    res = sn.update_where_mor(spark, tdir, {"v": "1"}, "i > 99")
    assert res["version"] == head and res["rows_updated"] == 0


def test_mor_update_then_materialize_round_trip(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 40).coalesce(1), tdir, stats_cols=("v",))
    sn.update_where_mor(spark, tdir, {"v": "v * 2"}, "i < 4")
    res = sn.materialize_dvs(spark, tdir)
    assert res["files_rewritten"] == 1 and res["rows_removed"] == 4
    info = sn.snapshot_info(spark, tdir, res["version"])
    assert "dvs" not in info
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    assert got == {i: i * 10 * (2 if i < 4 else 1) for i in range(40)}
    # metadata MIN/MAX exact again after the fold
    assert sn.metadata_agg(spark, tdir, cols=("v",))["max"]["v"] == 390


# ------------------------------------------- concurrent-writer stress


def test_concurrent_writers_serialize(spark, tdir):
    """Real thread races on one table: 6 appenders (disjoint key ranges)
    and 2 merge-on-read deleters hammer the optimistic commit loop
    concurrently. Any interleaving must serialize: every append lands
    exactly once, deleters may refuse on true conflicts (RuntimeError)
    but never corrupt, the version chain is contiguous with valid parent
    pointers, the manifest row-count law holds, and replaying the FULL
    CDF from v0 reproduces the final table exactly."""
    import threading
    from collections import Counter

    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)  # seed v1
    errors: list[Exception] = []
    refused = []

    def appender(lo):
        try:
            sn.write_snapshot(_iv(spark, lo, lo + 20).coalesce(1), tdir)
        except Exception as e:  # appends rebase, they must never refuse
            errors.append(e)

    def deleter(residue):
        try:
            sn.delete_where_mor(spark, tdir, f"i % 20 = {residue}")
        except RuntimeError as e:  # overlapping-vector conflict: legal
            refused.append(e)
        except Exception as e:
            errors.append(e)

    def merger(lo):
        # upserts: keys lo..lo+4 are fresh inserts (disjoint from every
        # appender range), keys 0..2 update the seed
        try:
            src = _iv(spark, lo, lo + 5).unionByName(
                spark.range(0, 3).select(
                    F.col("id").alias("i"), (F.col("id") * 10).alias("v")
                )
            )
            sn.merge_into_mor(spark, tdir, src, ("i",))
        except RuntimeError as e:  # vector conflict with a deleter: legal
            refused.append(e)
        except Exception as e:
            errors.append(e)

    threads = [
        threading.Thread(target=appender, args=(lo,))
        for lo in (100, 200, 300, 400, 500, 600)
    ] + [threading.Thread(target=deleter, args=(r,)) for r in (5, 7)] + [
        threading.Thread(target=merger, args=(700,))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

    head = sn.current_version(spark, tdir)
    # every commit landed: 1 seed + 6 appends + 1 merge + 2 deletes,
    # minus loudly-refused conflicts
    assert head == 7 + 3 - len(refused)

    got = Counter(r.i for r in sn.read_snapshot(spark, tdir).collect())
    # no duplicates anywhere, and no non-matching row lost
    assert all(n == 1 for n in got.values())
    expected_keys = set(range(10))
    for lo in (100, 200, 300, 400, 500, 600):
        expected_keys |= set(range(lo, lo + 20))
    expected_keys |= set(range(700, 705))  # merger inserts (if it won)
    assert set(got) <= expected_keys
    survivors_must_exist = {
        k for k in expected_keys - set(range(700, 705))
        if k % 20 not in (5, 7)
    }
    assert survivors_must_exist <= set(got)

    # manifest row-count law under arbitrary interleaving
    assert sn.metadata_agg(spark, tdir)["n_rows"] == sum(got.values())

    # contiguous version chain with valid parents
    for v in range(1, head + 1):
        info = sn.snapshot_info(spark, tdir, v)
        assert info["version"] == v
        assert info.get("parent") == v - 1 or (v == 1 and not info.get("parent"))

    # CDF replay law: inserts minus deletes from v0 == final state
    net = Counter()
    for r in sn.read_changes_cdf(spark, tdir, from_version=0).collect():
        net[r.i] += 1 if r._change_type == "insert" else -1
    assert +net == got


def test_cow_dml_carries_dvs_on_untouched_files(spark, tdir):
    """Regression: a COW DELETE/UPDATE whose prune excludes a DV-carrying
    file must CARRY the vectors through its commit — dropping the dvs
    keys would silently resurrect the deleted rows."""
    for lo in (0, 100):
        sn.write_snapshot(_iv(spark, lo, lo + 100).coalesce(1), tdir,
                          stats_cols=("i",))
    sn.delete_where_mor(spark, tdir, "i = 5")  # DV on the first file
    res = sn.delete_where(spark, tdir, "i = 150", prune={"i": (100, 199)})
    assert res["rows_deleted"] == 1
    ids = _ids(sn.read_snapshot(spark, tdir))
    assert 5 not in ids and 150 not in ids and len(ids) == 198
    info = sn.snapshot_info(spark, tdir, sn.current_version(spark, tdir))
    assert info["dvs"] and info["dv_files"]
    # and the COW update carries them too
    res = sn.update_where(spark, tdir, {"v": "v + 1"}, "i = 160",
                          prune={"i": (100, 199)})
    assert res["rows_updated"] == 1
    ids = _ids(sn.read_snapshot(spark, tdir))
    assert 5 not in ids and len(ids) == 198
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 198


def test_ivm_tracks_merge_on_read_commits(spark, tmp_path):
    """IVM consumes the CDF, and the CDF is DV-aware — so an aggregate
    table must stay exactly synced through MOR deletes, MOR updates,
    and the materialize fold (which must contribute NOTHING)."""
    from jobanalytics_bigdataproject_spark.operators import ivm

    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0), ("c", 5.0)],
        "k string, v double",
    )
    sn.write_snapshot(df.coalesce(1), src)

    def check():
        ivm.maintain_sum_agg(spark, src, agg, ("k",), "v")
        got = {(r.k, r.cnt, r.sum_cents)
               for r in sn.read_snapshot(spark, agg).collect()}
        want = {(r.k, r.cnt, r.sum_cents)
                for r in sn.read_snapshot(spark, src).groupBy("k").agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
                ).collect()}
        assert got == want

    check()
    sn.delete_where_mor(spark, src, "v <= 1.5")  # retracts one 'a'
    check()
    sn.update_where_mor(spark, src, {"v": "v + 10"}, "k = 'b'")
    check()
    sn.materialize_dvs(spark, src)  # same logical rows: delta is empty
    v_before = sn.current_version(spark, agg)
    check()
    # materialize advanced the source head; the aggregate absorbed the
    # empty delta as one bookkeeping commit with zero row changes
    assert sn.current_version(spark, agg) <= v_before + 1


# ---------------------------------------------------- delete_keys_mor


def test_delete_keys_mor_vectored_by_key_set(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 50).coalesce(1), tdir)
    sn.write_snapshot(_iv(spark, 50, 100).coalesce(1), tdir)
    keys = spark.createDataFrame(
        [(3,), (47,), (51,), (999,), (None,)], "i long"  # 999 absent, NULL no-op
    )
    res = sn.delete_keys_mor(spark, tdir, keys, "i")
    assert res["rows_deleted"] == 3 and res["files_rewritten"] == 0
    assert res["files_with_dvs"] == 2
    assert _ids(sn.read_snapshot(spark, tdir)) == [
        i for i in range(100) if i not in (3, 47, 51)
    ]
    # re-running the same key set is a no-op (rows already vectored)
    head = sn.current_version(spark, tdir)
    res2 = sn.delete_keys_mor(spark, tdir, keys, "i")
    assert res2["rows_deleted"] == 0 and res2["version"] == head
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 97


def test_delete_keys_mor_composes_with_dedup(spark, tdir):
    """The corpus-hygiene composition: exact-dup losers from the dedup
    operator fold into the snapshot table as one MOR commit."""
    from jobanalytics_bigdataproject_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc"), (5, "bb"), (6, "aa")],
        "doc_id long, text string",
    )
    sn.write_snapshot(df.coalesce(1), tdir)
    survivors = dedup.dedup_exact(df, text_col="text")
    losers = df.join(survivors.select("doc_id"), "doc_id", "left_anti")
    res = sn.delete_keys_mor(spark, tdir, losers.select("doc_id"), "doc_id")
    assert res["rows_deleted"] == 3  # docs 3, 5, 6
    got = sorted(r.doc_id for r in sn.read_snapshot(spark, tdir).collect())
    assert got == sorted(r.doc_id for r in survivors.collect()) == [1, 2, 4]


def test_mor_time_travel_after_materialize(spark, tdir):
    """Old versions keep their deletion vectors after the fold: the MOR
    version still reads deletes-applied, the pre-delete version reads
    complete, and vacuum retention governs the sidecar's lifetime."""
    import os

    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)   # v1
    sn.delete_where_mor(spark, tdir, "i >= 7")               # v2 (DV)
    sn.materialize_dvs(spark, tdir)                          # v3 (folded)
    assert _ids(sn.read_snapshot(spark, tdir, version=1)) == list(range(10))
    assert _ids(sn.read_snapshot(spark, tdir, version=2)) == list(range(7))
    assert _ids(sn.read_snapshot(spark, tdir, version=3)) == list(range(7))
    # retention keeping v2 keeps its sidecar on disk
    sn.vacuum(spark, tdir, keep_last=2, grace_seconds=0)  # keeps v2..v3
    assert len(os.listdir(f"{tdir}/dv")) == 1
    assert _ids(sn.read_snapshot(spark, tdir, version=2)) == list(range(7))
    # dropping v2 reaps the sidecar
    sn.write_snapshot(_iv(spark, 10, 12).coalesce(1), tdir)  # v4
    sn.vacuum(spark, tdir, keep_last=2, grace_seconds=0)  # keeps v3..v4
    assert os.listdir(f"{tdir}/dv") == []


def test_optimize_materializes_dvs_on_full_rewrite(spark, tdir):
    """Plain OPTIMIZE (and cluster_by) read through the DV-aware scan
    and overwrite — they double as a materializing optimize, Delta's
    OPTIMIZE-purges-DVs behavior."""
    for lo in (0, 50):
        sn.write_snapshot(_iv(spark, lo, lo + 50).coalesce(1), tdir,
                          stats_cols=("i",))
    sn.delete_where_mor(spark, tdir, "i % 2 = 1")
    v = sn.optimize_snapshot(spark, tdir)
    info = sn.snapshot_info(spark, tdir, v)
    assert "dvs" not in info
    assert _ids(sn.read_snapshot(spark, tdir)) == list(range(0, 100, 2))
    # metadata MIN/MAX exact again after the fold
    assert sn.metadata_agg(spark, tdir, cols=("i",))["max"]["i"] == 98
    # COW DML re-enabled
    assert sn.delete_where(spark, tdir, "i = 0")["rows_deleted"] == 1


def test_optimize_selective_skips_vectored_files(spark, tdir):
    """Selective compaction compacts only CLEAN small files; a
    DV-carrying small file keeps its vectors and is carried verbatim."""
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)    # tiny A
    sn.write_snapshot(_iv(spark, 10, 20).coalesce(1), tdir)   # tiny B
    sn.write_snapshot(_iv(spark, 20, 30).coalesce(1), tdir)   # tiny C
    sn.delete_where_mor(spark, tdir, "i = 5")                 # DV on A
    [dv_file] = sn.snapshot_info(spark, tdir, 4)["dvs"].keys()
    v = sn.optimize_snapshot(spark, tdir, min_file_mb=1)      # compacts B+C
    info = sn.snapshot_info(spark, tdir, v)
    assert info["dvs"] == {dv_file: 1} and dv_file in info["files"]
    assert len(info["removed"]) == 2  # only the clean tinies compacted
    assert _ids(sn.read_snapshot(spark, tdir)) == [
        i for i in range(30) if i != 5
    ]
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 29


# ------------------------------------------------------ merge_into_mor


def test_merge_into_mor_vector_plus_append(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 50).coalesce(1), tdir)
    sn.write_snapshot(_kv(spark, 50, 100).coalesce(1), tdir)
    before = set(sn.snapshot_info(spark, tdir, 2)["files"])
    src = _kv(spark, 48, 52, tag="b").unionByName(_kv(spark, 200, 202, tag="b"))
    res = sn.merge_into_mor(spark, tdir, src, ("i",))
    assert res["rows_updated"] == 4 and res["rows_inserted"] == 2
    assert res["files_rewritten"] == 0 and res["files_with_dvs"] == 2
    # every pre-existing file carried verbatim
    info = sn.snapshot_info(spark, tdir, res["version"])
    assert before <= set(info["files"])
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    want = {i: f"a-{i}" for i in range(100)}
    want.update({i: f"b-{i}" for i in (48, 49, 50, 51, 200, 201)})
    assert got == want
    assert sn.metadata_agg(spark, tdir)["n_rows"] == 102


def test_merge_into_mor_semantics_match_cow_twin(spark, tdir, tmp_path):
    """MOR and COW merges must produce identical logical tables on the
    same inputs — duplicated target keys keep multiplicity, NULL source
    values win, delete_condition drops matched + skips absent."""
    cow = str(tmp_path / "cow")
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (3, None)], "i long, v string"
    ).coalesce(1)
    for d in (tdir, cow):
        sn.write_snapshot(dup, d)
    src = spark.createDataFrame(
        [(1, None, "U"), (3, "w", "D"), (9, "ins", "U"), (8, "nop", "D")],
        "i long, v string, _op string",
    )
    r_mor = sn.merge_into_mor(spark, tdir, src, ("i",),
                              delete_condition="_op = 'D'")
    r_cow = sn.merge_into(spark, cow, src, ("i",),
                          delete_condition="_op = 'D'")
    for k in ("rows_updated", "rows_deleted", "rows_inserted"):
        assert r_mor[k] == r_cow[k], k
    m = sorted(((r.i, r.v) for r in sn.read_snapshot(spark, tdir).collect()),
               key=lambda t: (t[0], t[1] or ""))
    c = sorted(((r.i, r.v) for r in sn.read_snapshot(spark, cow).collect()),
               key=lambda t: (t[0], t[1] or ""))
    assert m == c == [(1, None), (1, None), (2, "z"), (9, "ins")]


_TWIN_DML = {
    # NULL-condition rows (i IS NULL) are kept and left untouched
    "delete": (
        lambda spark, t: sn.delete_where(spark, t, "i >= 3"),
        lambda spark, t: sn.delete_where_mor(spark, t, "i >= 3"),
        [(1, "x", "p"), (2, None, "q"), (None, "n", "m")],
    ),
    # a swap: SET expressions all see the OLD row
    "update": (
        lambda spark, t: sn.update_where(spark, t, {"a": "b", "b": "a"}, "i >= 3"),
        lambda spark, t: sn.update_where_mor(spark, t, {"a": "b", "b": "a"}, "i >= 3"),
        [(1, "x", "p"), (2, None, "q"), (3, None, "z"), (4, "r", "x"), (None, "n", "m")],
    ),
}


@pytest.mark.parametrize("op", sorted(_TWIN_DML))
def test_dml_mor_semantics_match_cow_twin(spark, tdir, tmp_path, op):
    """COW and MOR delete/update must produce identical row counts and
    logical tables on identical inputs, NULL-condition rows included."""
    cow_op, mor_op, want = _TWIN_DML[op]
    cow = str(tmp_path / "cow")
    for d in (tdir, cow):
        for rows in ([(1, "x", "p"), (2, None, "q"), (3, "z", None)],
                     [(4, "x", "r"), (None, "n", "m")]):
            sn.write_snapshot(
                spark.createDataFrame(rows, "i long, a string, b string").coalesce(1), d
            )
    r_cow, r_mor = cow_op(spark, cow), mor_op(spark, tdir)
    counts = {k for k in r_cow if k.startswith("rows_")}
    assert {k: r_mor[k] for k in counts} == {k: r_cow[k] for k in counts}
    assert sum(r_cow[k] for k in counts) == 2

    def rows(d):
        return sorted(repr(tuple(r)) for r in sn.read_snapshot(spark, d).collect())

    assert rows(tdir) == rows(cow) == sorted(map(repr, want))


def test_merge_into_mor_cdf_and_ambiguity(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 10).coalesce(1), tdir)
    src = _kv(spark, 5, 6, tag="n")
    v = sn.merge_into_mor(spark, tdir, src, ("i",))["version"]
    got = {(r.i, r.v, r._change_type) for r in
           sn.read_changes_cdf(spark, tdir, from_version=v - 1).collect()}
    assert got == {(5, "a-5", "delete"), (5, "n-5", "insert")}
    with pytest.raises(ValueError, match="ambiguous"):
        sn.merge_into_mor(
            spark, tdir, _kv(spark, 1, 2).unionByName(_kv(spark, 1, 2)), ("i",)
        )


def test_merge_into_mor_composes_with_existing_dvs_and_replays(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 20).coalesce(1), tdir)
    sn.delete_where_mor(spark, tdir, "i >= 15")
    # a merge touching a vectored row's key: the dead copy is NOT matched
    src = _kv(spark, 14, 16, tag="m")
    res = sn.merge_into_mor(spark, tdir, src, ("i",), idempotency_key="b7")
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 1  # 15 dead -> insert
    got = {r.i: r.v for r in sn.read_snapshot(spark, tdir).collect()}
    assert got[14] == "m-14" and got[15] == "m-15" and len(got) == 16
    # retried batch no-ops
    again = sn.merge_into_mor(spark, tdir, src, ("i",), idempotency_key="b7")
    assert again["version"] == res["version"]
    assert sn.current_version(spark, tdir) == res["version"]


def test_merge_into_mor_check_and_empty_source(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 10).coalesce(1), tdir)
    sn.add_constraint(spark, tdir, "v_nonneg", "v >= 0")
    head = sn.current_version(spark, tdir)
    bad = spark.createDataFrame([(3, -1)], "i long, v long")
    with pytest.raises(ValueError, match="v_nonneg"):
        sn.merge_into_mor(spark, tdir, bad, ("i",))
    import os

    assert sn.current_version(spark, tdir) == head
    assert not [d for d in os.listdir(tdir) if d.startswith("staging-")]
    assert not os.path.exists(f"{tdir}/dv") or os.listdir(f"{tdir}/dv") == []
    # empty source: nothing committed
    res = sn.merge_into_mor(spark, tdir, _iv(spark, 0, 0), ("i",))
    assert res["version"] == head and res["rows_inserted"] == 0


def test_apply_changes_mor_equivalent_to_cow(spark, tdir, tmp_path):
    """The MOR CDC apply must produce the same logical table as the COW
    apply on the same change batch — zero rewrites on the MOR side."""
    cow = str(tmp_path / "cow")
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)], "k long, v string, seq long"
    ).coalesce(1)
    for d in (tdir, cow):
        sn.write_snapshot(base, d)
    changes = spark.createDataFrame(
        [
            (2, "b1", 1, "U"), (2, "b2", 2, "U"),      # last-by-seq wins
            (3, None, 1, "D"),                          # delete
            (4, "new", 1, "I"),                         # insert
            (9, None, 1, "D"),                          # absent-key no-op
        ],
        "k long, v string, seq long, _op string",
    )
    r_mor = sn.apply_changes(spark, tdir, changes, ("k",), "seq", mode="mor")
    r_cow = sn.apply_changes(spark, cow, changes, ("k",), "seq", mode="cow")
    assert r_mor["files_rewritten"] == 0
    for key in ("rows_updated", "rows_deleted", "rows_inserted"):
        assert r_mor[key] == r_cow[key], key
    m = sorted((r.k, r.v, r.seq) for r in sn.read_snapshot(spark, tdir).collect())
    c = sorted((r.k, r.v, r.seq) for r in sn.read_snapshot(spark, cow).collect())
    assert m == c == [(1, "a", 0), (2, "b2", 2), (4, "new", 1)]


def test_cdc_sink_mor_stream_exactly_once(spark, tdir, tmp_path):
    """Streaming CDC into deletion vectors: each micro-batch is one MOR
    merge commit, retried batches no-op, and the final table equals the
    net of the feed with zero rewrites along the way."""
    base = spark.createDataFrame([(1, "a", 0), (2, "b", 0)],
                                 "k long, v string, seq long").coalesce(1)
    sn.write_snapshot(base, tdir)
    sink = sn.cdc_sink(tdir, ("k",), "seq", mode="mor")
    b0 = spark.createDataFrame([(1, "a1", 1, "U"), (3, "c", 1, "I")],
                               "k long, v string, seq long, _op string")
    b1 = spark.createDataFrame([(2, None, 2, "D")],
                               "k long, v string, seq long, _op string")
    sink(b0, 0)
    sink(b1, 1)
    v = sn.current_version(spark, tdir)
    sink(b0, 0)  # retry of an applied batch: idempotent no-op
    assert sn.current_version(spark, tdir) == v
    got = sorted((r.k, r.v) for r in sn.read_snapshot(spark, tdir).collect())
    assert got == [(1, "a1"), (3, "c")]
    # no data file was ever rewritten: every version only ADDS files
    for ver in range(2, v + 1):
        assert sn.snapshot_info(spark, tdir, ver)["removed"] == []


# ---------------------------------------- zorder optimize + describe


def test_optimize_zorder_prunes_on_both_dimensions(spark, tdir):
    """OPTIMIZE ZORDER BY gives every file a compact rectangle in 2-D:
    manifest pruning on EITHER column must skip most files — linear
    clustering can only do that for its leading column."""
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
        F.col("id").alias("payload"),
    )
    sn.write_snapshot(df.repartition(8), tdir, stats_cols=("x", "y"))
    v = sn.optimize_snapshot(spark, tdir, target_mb=0.003, zorder_by=("x", "y"))
    info = sn.snapshot_info(spark, tdir, v)
    n = len(info["files"])
    assert n >= 4
    fx = sn.read_snapshot(spark, tdir, prune={"x": (0, 7)})
    fy = sn.read_snapshot(spark, tdir, prune={"y": (0, 7)})
    # the 1/8-width strip on EITHER dimension skips at least a third of
    # the files (z-curve segments straddle strip borders, so exact
    # rectangles aren't guaranteed — a linear cluster_by("x") layout
    # prunes NOTHING on y, which is the property under test)
    assert len(fx.inputFiles()) <= 2 * n // 3
    assert fx.filter("x <= 7").count() == 8 * 64  # skipping is file-granular
    assert len(fy.inputFiles()) <= 2 * n // 3
    assert fy.filter("y <= 7").count() == 8 * 64
    with pytest.raises(ValueError, match="at most one"):
        sn.optimize_snapshot(spark, tdir, cluster_by=("x",), zorder_by=("x", "y"))


def test_optimize_zorder_materializes_dvs(spark, tdir):
    sn.write_snapshot(
        spark.range(0, 100).select(
            (F.col("id") % 10).alias("x"), F.floor(F.col("id") / 10).alias("y"),
            F.col("id").alias("i"),
        ).coalesce(1),
        tdir,
    )
    sn.delete_where_mor(spark, tdir, "i >= 90")
    v = sn.optimize_snapshot(spark, tdir, target_mb=1, zorder_by=("x", "y"))
    info = sn.snapshot_info(spark, tdir, v)
    assert "dvs" not in info
    assert sn.read_snapshot(spark, tdir).count() == 90
    # z-order recorded stats for both dims even though parent had none
    assert all("x" in s and "y" in s for s in info["stats"].values())


def test_describe_detail_reports_maintenance_signals(spark, tdir):
    sn.write_snapshot(_iv(spark, 0, 50).coalesce(1), tdir, stats_cols=("i",))
    sn.write_snapshot(_iv(spark, 50, 100).coalesce(1), tdir)
    sn.add_constraint(spark, tdir, "i_nonneg", "i >= 0")
    sn.delete_where_mor(spark, tdir, "i < 5")
    d = sn.describe_detail(spark, tdir)
    assert d["n_files"] == 2 and d["n_rows"] == 95
    assert d["n_dv_files"] == 1 and d["dv_rows"] == 5
    assert d["stats_cols"] == ["i"] and d["constraints"] == ["i_nonneg"]
    assert d["schema_fields"] == ["i", "v"]
    assert d["size_bytes"] > 0 and d["avg_file_mb"] > 0
    sn.materialize_dvs(spark, tdir)
    d2 = sn.describe_detail(spark, tdir)
    assert d2["n_dv_files"] == 0 and d2["dv_rows"] == 0 and d2["n_rows"] == 95


def _gate_table(spark):
    return spark.range(0, 40, 1, 2).select(
        F.col("id").alias("i"),
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v-"), F.col("id")).alias("v"),
    )


def _gate_write(spark, tdir):
    sn.write_snapshot(_gate_table(spark), tdir, stats_cols=("i",), bloom_cols=("k",))


# Spark jobs each op may launch on the small stats+bloom table, setup
# excluded. Every snapshot read passes its schema, so no op pays a
# footer-sampling inference job; a new job in these paths fails here
# instead of hiding in benchmark noise.
_GATE_OPS = {
    "write_snapshot": (lambda spark, tdir: None, _gate_write, 3),
    "merge_into": (
        _gate_write,
        lambda spark, tdir: sn.merge_into(
            spark, tdir, _gate_table(spark).filter("i % 10 = 0"), ["i"]
        ),
        10,
    ),
    "update_where": (
        _gate_write,
        lambda spark, tdir: sn.update_where(spark, tdir, {"v": "'x'"}, "i < 5"),
        5,
    ),
    "update_where_mor": (
        _gate_write,
        lambda spark, tdir: sn.update_where_mor(spark, tdir, {"v": "'x'"}, "i < 5"),
        6,
    ),
    "delete_where_mor": (
        _gate_write,
        lambda spark, tdir: sn.delete_where_mor(spark, tdir, "i < 5"),
        3,
    ),
    "materialize_dvs": (
        lambda spark, tdir: (
            _gate_write(spark, tdir), sn.delete_where_mor(spark, tdir, "i < 5")
        ),
        lambda spark, tdir: sn.materialize_dvs(spark, tdir),
        4,
    ),
    "read_snapshot_point": (
        _gate_write,
        lambda spark, tdir: sn.read_snapshot(spark, tdir, point={"k": 3}).collect(),
        2,
    ),
    "delete_where": (
        _gate_write,
        lambda spark, tdir: sn.delete_where(spark, tdir, "i < 5"),
        5,
    ),
    "merge_into_mor": (
        _gate_write,
        lambda spark, tdir: sn.merge_into_mor(
            spark, tdir, _gate_table(spark).filter("i % 10 = 0"), ["i"]
        ),
        13,
    ),
    "delete_keys_mor": (
        _gate_write,
        lambda spark, tdir: sn.delete_keys_mor(
            spark, tdir, _gate_table(spark).filter("i < 5"), "i"
        ),
        4,
    ),
    # one file straddles the range, the other is skipped by its stats
    "delete_range": (
        _gate_write,
        lambda spark, tdir: sn.delete_range(spark, tdir, "i", 0, 4),
        5,
    ),
    # selective compaction of the two small files _gate_write leaves
    "optimize_snapshot_selective": (
        _gate_write,
        lambda spark, tdir: sn.optimize_snapshot(spark, tdir, min_file_mb=1),
        3,
    ),
}


@pytest.mark.parametrize("op", sorted(_GATE_OPS))
def test_dml_job_count_gate(spark, tdir, op):
    setup, run, ceiling = _GATE_OPS[op]
    setup(spark, tdir)
    sc = spark.sparkContext
    group = f"gate-{op}-{id(tdir)}"
    sc.setJobGroup(group, op)
    try:
        run(spark, tdir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # status stores are fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    # a parquet write's stage carries the same "parquet at …" call site
    # as schema inference; inference is the one that runs outside any
    # SQL execution
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 100), 100)
    sql_jobs = set()
    for i in range(execs.size()):
        it = execs.apply(i).jobs().keys().iterator()
        while it.hasNext():
            sql_jobs.add(int(it.next()))
    def stage_names(j):
        infos = (st.getStageInfo(s) for s in st.getJobInfo(j).stageIds)
        return [i.name for i in infos if i is not None]

    inference = [
        j
        for j in jobs
        if j not in sql_jobs
        and any(n.startswith("parquet at ") for n in stage_names(j))
    ]
    assert not inference, f"{op} sampled parquet footers in jobs {inference}"
    assert len(jobs) <= ceiling, (op, len(jobs))


# ------------------------------------------- latent-defect regressions
# column mapping through constraint commits, DV-safe bucketed reads,
# NULL-safe CDF diffing, typed prune bounds, idempotency-key carry, NULL
# CDC ops, evolved-schema rewrites


def test_constraint_commits_keep_column_mapping(spark, tdir):
    """add/drop_constraint are metadata-only: they must carry the column
    mapping (and dropped_physical) or the table silently demaps — reads
    revert to physical names and the next append writes mixed name
    generations."""
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    sn.rename_column(spark, tdir, "v", "label")
    sn.add_constraint(spark, tdir, "pos", "i >= 0")
    got = sn.read_snapshot(spark, tdir)
    assert set(got.columns) == {"i", "label"}  # still logical names
    # append still translates logical -> physical
    extra = spark.range(5, 8).select(
        F.col("id").alias("i"), F.concat(F.lit("a-"), F.col("id")).alias("label")
    )
    sn.write_snapshot(extra, tdir)
    out = sn.read_snapshot(spark, tdir)
    assert out.count() == 8
    assert out.filter("label IS NULL").count() == 0  # no mixed generations
    sn.drop_constraint(spark, tdir, "pos")
    assert set(sn.read_snapshot(spark, tdir).columns) == {"i", "label"}
    # dropped_physical also survives a constraint commit
    d2 = tdir + "-drop"
    sn.write_snapshot(_kv(spark, 0, 5), d2)
    sn.drop_column(spark, d2, "v")
    sn.add_constraint(spark, d2, "pos", "i >= 0")
    man = sn.snapshot_info(spark, d2, sn.current_version(spark, d2))
    assert man.get("dropped_physical") == ["v"]
    assert set(sn.read_snapshot(spark, d2).columns) == {"i"}


def test_bucketed_read_refuses_mor_deleted_rows(spark, tdir):
    """A MOR delete keeps every file bucket-named, so bucket_by survives —
    but the bucketed catalog read scans RAW files with no DV anti-join
    and would resurrect the deleted rows: it must refuse."""
    df = spark.range(0, 100).selectExpr("id as k")
    sn.write_snapshot(df, tdir, bucket_by=("k", 4))
    res = sn.delete_where_mor(spark, tdir, "k < 10")
    assert res["rows_deleted"] == 10
    assert sn.read_snapshot(spark, tdir).count() == 90  # normal read: fine
    with pytest.raises(ValueError, match="deletion vectors"):
        sn.read_snapshot_bucketed(spark, tdir, "t_mor_b")


def test_cdf_null_rows_cancel_across_rewrites(spark, tdir):
    """read_changes_cdf diffs added vs removed rows: a row containing a
    NULL must cancel across an OPTIMIZE rewrite (null-SAFE equality) —
    the name-list join's EqualTo emitted a spurious insert+delete."""
    base = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None)], "i long, v string"
    )
    sn.write_snapshot(base.repartition(2), tdir)
    sn.write_snapshot(_kv(spark, 10, 14), tdir)  # small files to compact
    v = sn.optimize_snapshot(spark, tdir, target_mb=128, min_file_mb=1)
    cdf = sn.read_changes_cdf(spark, tdir, from_version=v, to_version=v)
    assert cdf.count() == 0, cdf.collect()  # pure rewrite: nothing changed


def test_prune_accepts_typed_date_bounds(spark, tdir):
    """Typed (date/datetime) prune and point bounds must compare against
    the manifest's string-stored stats instead of raising TypeError."""
    df = spark.range(0, 60).select(
        F.col("id").alias("i"),
        F.expr("date_add(date'2024-01-01', CAST(id AS INT))").alias("d"),
    )
    sn.write_snapshot(df.repartition(3), tdir, stats_cols=("d",))
    lo, hi = datetime.date(2024, 1, 10), datetime.date(2024, 1, 20)
    got = sn.read_snapshot(spark, tdir, prune={"d": (lo, hi)})
    assert got.filter("d BETWEEN date'2024-01-10' AND date'2024-01-20'").count() == 11
    got_p = sn.read_snapshot(spark, tdir, point={"d": datetime.date(2024, 1, 5)})
    assert got_p.filter("d = date'2024-01-05'").count() == 1
    # DML prune with typed bounds
    res = sn.delete_where(
        spark, tdir, "d < date'2024-01-03'", prune={"d": (None, lo)}
    )
    assert res["rows_deleted"] == 2


def test_mor_delete_does_not_replicate_idempotency_key(spark, tdir):
    """A MOR delete after an idempotent commit must not carry that
    commit's idempotency_key — a redelivered batch would otherwise
    resolve to the delete's version with wrong accounting."""
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    v2 = sn.write_snapshot(_kv(spark, 5, 9), tdir, idempotency_key="batch-7")
    sn.delete_where_mor(spark, tdir, "i = 1")
    man = sn.snapshot_info(spark, tdir, sn.current_version(spark, tdir))
    assert "idempotency_key" not in man
    # the redelivered batch still resolves to ITS version
    assert sn.write_snapshot(_kv(spark, 5, 9), tdir, idempotency_key="batch-7") == v2


def test_apply_changes_refuses_null_op(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    changes = spark.createDataFrame(
        [(1, "x", 1, "U"), (2, "y", 2, None)],
        "i long, v string, seq long, _op string",
    )
    with pytest.raises(ValueError):
        sn.apply_changes(spark, tdir, changes, ("i",), "seq", op_col="_op")


def test_optimize_preserves_evolved_schema(spark, tdir):
    """Full-rewrite OPTIMIZE on an additively-evolved table must keep the
    later-added columns (a plain multi-schema read samples one footer
    and would narrow the rewrite, silently dropping columns)."""
    sn.write_snapshot(_kv(spark, 0, 40).repartition(2), tdir)
    evolved = spark.range(40, 80).select(
        F.col("id").alias("i"),
        F.concat(F.lit("a-"), F.col("id")).alias("v"),
        (F.col("id") * 2).alias("extra"),
    )
    sn.write_snapshot(evolved.repartition(2), tdir, allow_schema_evolution=True)
    v = sn.optimize_snapshot(spark, tdir)  # full rewrite
    got = sn.read_snapshot(spark, tdir, version=v)
    assert "extra" in got.columns
    assert got.filter("extra IS NOT NULL").count() == 40
    assert got.count() == 80
    # COW delete across the evolution boundary keeps the columns too
    d2 = tdir + "-del"
    sn.write_snapshot(_kv(spark, 0, 40).coalesce(1), d2)
    sn.write_snapshot(evolved.coalesce(1), d2, allow_schema_evolution=True)
    sn.delete_where(spark, d2, "i in (5, 45)")  # hits BOTH generations
    out = sn.read_snapshot(spark, d2, merge_schema=True)
    assert out.count() == 78
    assert out.filter("extra IS NOT NULL").count() == 39


# --- decimal stats across a magnitude boundary ------------------------------
# String stats compare lexicographically ('9.5' > '10.00'), so numeric
# caller bounds must force exact-Decimal comparison in every stats tier.

D = decimal.Decimal


@pytest.fixture()
def dec_table(spark, tmp_path):
    """Two files of DECIMAL(10,2) prices, one per side of the 10.00
    magnitude boundary plus one straddler — the lexicographic trap."""
    t = str(tmp_path / "dec_tbl")
    lowf = spark.createDataFrame(
        [(1, D("8.10")), (2, D("8.90"))], "id int, price decimal(10,2)"
    ).repartition(1)
    straddle = spark.createDataFrame(
        [(3, D("9.50")), (4, D("10.50"))], "id int, price decimal(10,2)"
    ).repartition(1)
    highf = spark.createDataFrame(
        [(5, D("11.00")), (6, D("12.00"))], "id int, price decimal(10,2)"
    ).repartition(1)
    sn.write_snapshot(lowf, t, mode="overwrite", stats_cols=["price"])
    sn.write_snapshot(straddle, t, stats_cols=["price"])
    sn.write_snapshot(highf, t, stats_cols=["price"])
    return t


def test_decimal_prune_keeps_straddler(spark, dec_table):
    # ADVICE r6 (medium): min='9.50' > hi='10.00' lexicographically, so
    # the straddling file was silently pruned. prune is file-granular —
    # apply the row filter on top, like every caller must.
    got = (
        sn.read_snapshot(
            spark, dec_table, prune={"price": (D("9.80"), D("10.00"))}
        )
        .where(F.col("price").between(D("9.80"), D("10.00")))
        .collect()
    )
    # the straddler holds no row in [9.80, 10.00] but MUST be scanned;
    # widen slightly to prove rows actually survive
    got2 = (
        sn.read_snapshot(
            spark, dec_table, prune={"price": (D("9.40"), D("10.00"))}
        )
        .select("id")
        .where(F.col("price").between(D("9.40"), D("10.00")))
        .collect()
    )
    assert got == []
    assert sorted(r.id for r in got2) == [3]


def test_decimal_prune_still_skips_disjoint(spark, dec_table):
    # numeric-domain compare must still PRUNE what is provably disjoint:
    # only the low file overlaps [8.00, 8.95]
    df = sn.read_snapshot(spark, dec_table, prune={"price": (D("8.00"), D("8.95"))})
    assert sorted(r.id for r in df.collect()) == [1, 2]
    assert df.inputFiles() and len(df.inputFiles()) == 1


def test_decimal_count_where_magnitude_boundary(spark, dec_table):
    out = sn.count_where(spark, dec_table, "price", D("9.00"), D("11.50"))
    truth = (
        sn.read_snapshot(spark, dec_table)
        .where(F.col("price").between(D("9.00"), D("11.50")))
        .count()
    )
    assert out["n_rows"] == truth == 3
    # the fully-covered high file [11.00, 12.00] ⊄ [9.00, 11.50]; the low
    # file [8.10, 8.90] is provably disjoint and must be skipped
    assert out["files_skipped"] >= 1


def test_decimal_delete_range(spark, dec_table):
    res = sn.delete_range(spark, dec_table, "price", D("10.90"), D("12.50"))
    # [11.00, 12.00] is fully covered by [10.90, 12.50] → zero-I/O drop
    # (rows_deleted counts the dropped file's rows; nothing rewritten)
    assert res["files_dropped"] == 1 and res["files_rewritten"] == 0
    left = sorted(
        r.id for r in sn.read_snapshot(spark, dec_table).select("id").collect()
    )
    assert left == [1, 2, 3, 4]  # 11.00 and 12.00 gone, straddler kept
