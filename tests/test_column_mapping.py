"""Column rename/drop via Iceberg-style column mapping (VERDICT r4 #5):
metadata-only commits — no data file rewritten — with per-version
logical→physical resolution, so time travel shows each version's own
names over the same bytes. DML refuses on mapped tables until a full
rewrite materializes the mapping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.sources import snapshots as sn


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("i"),
        F.concat(F.lit("a-"), F.col("id")).alias("v"),
    )


def test_rename_is_metadata_only_and_time_travels(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 10), tdir, stats_cols=("i",))
    v1_files = sn.snapshot_info(spark, tdir, 1)["files"]
    v2 = sn.rename_column(spark, tdir, "v", "label")
    assert v2 == 2
    man = sn.snapshot_info(spark, tdir, 2)
    assert man["files"] == v1_files  # zero files rewritten
    assert man["column_mapping"] == {"label": "v"}
    got = sn.read_snapshot(spark, tdir)
    assert got.columns == ["i", "label"]
    assert sorted(r.label for r in got.collect())[0] == "a-0"
    # time travel: v1 resolves the OLD name over the SAME files
    old = sn.read_snapshot(spark, tdir, version=1)
    assert old.columns == ["i", "v"]
    assert old.count() == 10


def test_append_after_rename_keeps_files_uniform(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 5), tdir, stats_cols=("i",))
    sn.rename_column(spark, tdir, "v", "label")
    batch = spark.range(5, 8).select(
        F.col("id").alias("i"), F.concat(F.lit("a-"), F.col("id")).alias("label")
    )
    v3 = sn.write_snapshot(batch, tdir, stats_cols=("i",))
    got = sn.read_snapshot(spark, tdir, version=v3)
    assert got.columns == ["i", "label"]
    assert got.count() == 8
    assert {r.label for r in got.collect()} == {f"a-{i}" for i in range(8)}
    # the staged file physically carries the ORIGINAL name: a v1 read
    # through the OLD schema still works (files stay uniform)
    assert sn.read_snapshot(spark, tdir, version=1).columns == ["i", "v"]


def test_prune_point_and_metadata_ops_translate(spark, tdir):
    df = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
    sn.write_snapshot(df.repartitionByRange(4, "k"), tdir,
                      stats_cols=("k",), bloom_cols=("k",))
    sn.rename_column(spark, tdir, "k", "key")
    pruned = sn.read_snapshot(spark, tdir, prune={"key": (0, 10)})
    assert 0 < len(pruned.inputFiles()) < 4
    assert pruned.filter("key <= 10").count() == 11
    pointed = sn.read_snapshot(spark, tdir, point={"key": 42})
    assert pointed.filter("key = 42").count() == 1
    m = sn.metadata_agg(spark, tdir, cols=("key",))
    assert (m["min"]["key"], m["max"]["key"]) == (0, 99)
    cw = sn.count_where(spark, tdir, "key", 10, 19)
    assert cw["n_rows"] == 10


def test_rename_refusals(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 5), tdir)
    with pytest.raises(ValueError, match="no column"):
        sn.rename_column(spark, tdir, "zzz", "y")
    with pytest.raises(ValueError, match="already exists"):
        sn.rename_column(spark, tdir, "v", "i")
    sn.add_constraint(spark, tdir, "nonneg", "i >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        sn.rename_column(spark, tdir, "i", "key")
    # unconstrained column still renames, constraint keeps validating
    sn.rename_column(spark, tdir, "v", "label")
    with pytest.raises(ValueError, match="CHECK constraint"):
        sn.write_snapshot(
            spark.range(1).select(
                F.lit(-1).cast("long").alias("i"), F.lit("x").alias("label")
            ),
            tdir,
        )


def test_dml_refuses_until_materialized(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 10).repartition(2, "i"), tdir)
    sn.rename_column(spark, tdir, "v", "label")
    for op in (
        lambda: sn.delete_where(spark, tdir, "i < 2"),
        lambda: sn.update_where(spark, tdir, {"label": "'x'"}, "i = 1"),
        lambda: sn.delete_where_mor(spark, tdir, "i < 2"),
        lambda: sn.update_where_mor(spark, tdir, {"label": "'x'"}, "i = 1"),
        lambda: sn.merge_into(spark, tdir, _kv(spark, 0, 1), ("i",)),
        lambda: sn.merge_into_mor(spark, tdir, _kv(spark, 0, 1), ("i",)),
        lambda: sn.delete_range(spark, tdir, "i", 0, 2),
        lambda: sn.optimize_snapshot(spark, tdir, target_mb=1),
        lambda: sn.read_changes_cdf(spark, tdir, 1),
    ):
        with pytest.raises(ValueError, match="column-mapped|materialize"):
            op()
    # materialize: full rewrite with logical names resets the mapping
    v = sn.write_snapshot(
        sn.read_snapshot(spark, tdir), tdir, mode="overwrite"
    )
    man = sn.snapshot_info(spark, tdir, v)
    assert "column_mapping" not in man
    assert sn.read_snapshot(spark, tdir).columns == ["i", "label"]
    sn.delete_where(spark, tdir, "i < 2")  # DML works again
    assert sn.read_snapshot(spark, tdir).count() == 8


def test_drop_column_projects_away_but_time_travels(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 6), tdir)
    v2 = sn.drop_column(spark, tdir, "v")
    got = sn.read_snapshot(spark, tdir)
    assert got.columns == ["i"]
    assert got.count() == 6
    # bytes still there for the old version
    assert sn.read_snapshot(spark, tdir, version=1).columns == ["i", "v"]
    man = sn.snapshot_info(spark, tdir, v2)
    assert man["dropped_physical"] == ["v"]
    # re-adding a column on a mapped table refuses (silent resurrection
    # of the old bytes is the failure mode)
    with pytest.raises(ValueError, match="column-mapped|materialize"):
        sn.write_snapshot(
            _kv(spark, 6, 8), tdir, allow_schema_evolution=True
        )


def test_drop_refusals(spark, tdir):
    df = spark.range(0, 12).select(
        F.col("id").alias("i"), (F.col("id") % 3).alias("p")
    )
    sn.write_snapshot(df, tdir, partition_by=("p",))
    with pytest.raises(ValueError, match="partition spec"):
        sn.drop_column(spark, tdir, "p")
    sn.add_constraint(spark, tdir, "nonneg", "i >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        sn.drop_column(spark, tdir, "i")
    single = tdir + "-single"
    sn.write_snapshot(spark.range(3).select(F.col("id").alias("i")), single)
    with pytest.raises(ValueError, match="last column"):
        sn.drop_column(spark, single, "i")


def test_chained_renames_resolve(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 4), tdir)
    v1_rows = sorted(sn.read_snapshot(spark, tdir).collect())
    sn.rename_column(spark, tdir, "v", "b")
    sn.rename_column(spark, tdir, "b", "c")
    man = sn.snapshot_info(spark, tdir, 3)
    assert man["column_mapping"] == {"c": "v"}  # maps to the BYTES' name
    got = sn.read_snapshot(spark, tdir)
    assert got.columns == ["i", "c"]
    assert {r.c for r in got.collect()} == {f"a-{i}" for i in range(4)}
    # rename + drop: the head reads the renamed survivor, and time travel
    # to the pre-rename version returns the same rows as before
    sn.drop_column(spark, tdir, "i")
    head = sn.read_snapshot(spark, tdir)
    assert head.columns == ["c"]
    assert sorted(r.c for r in head.collect()) == sorted(r.v for r in v1_rows)
    old = sn.read_snapshot(spark, tdir, version=1)
    assert old.columns == ["i", "v"]
    assert sorted(old.collect()) == v1_rows


def test_rename_on_mor_table_reads_through_dvs(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 10).repartition(2, "i"), tdir)
    sn.delete_where_mor(spark, tdir, "i < 3")
    sn.rename_column(spark, tdir, "v", "label")
    got = sn.read_snapshot(spark, tdir)
    assert got.columns == ["i", "label"]
    assert sorted(r.i for r in got.collect()) == list(range(3, 10))


def test_read_changes_resolves_per_version_names(spark, tdir):
    sn.write_snapshot(_kv(spark, 0, 3), tdir)
    sn.rename_column(spark, tdir, "v", "label")
    batch = spark.range(3, 5).select(
        F.col("id").alias("i"), F.concat(F.lit("a-"), F.col("id")).alias("label")
    )
    sn.write_snapshot(batch, tdir)
    ch = sn.read_changes(spark, tdir, 2)  # only the post-rename append
    assert set(ch.columns) == {"i", "label", "_commit_version"}
    assert ch.count() == 2


def test_rename_partition_column_keeps_split_and_prune(spark, tdir):
    """Renaming a partition-spec column updates the spec to the new
    logical name; appends still split by it (translated back to the
    physical name at staging) and pruning on the new name stays
    file-exact."""
    df = spark.range(0, 40).select(
        F.col("id").alias("i"), (F.col("id") % 4).alias("p")
    )
    sn.write_snapshot(df, tdir, partition_by=("p",))
    sn.rename_column(spark, tdir, "p", "bucket")
    man = sn.snapshot_info(spark, tdir, 2)
    assert man["partition_spec"] == ["bucket"]
    # append speaks the NEW logical name; files stay split one-value-each
    batch = spark.range(40, 60).select(
        F.col("id").alias("i"), (F.col("id") % 4).alias("bucket")
    )
    v3 = sn.write_snapshot(batch, tdir)
    man3 = sn.snapshot_info(spark, tdir, v3)
    assert man3["partition_spec"] == ["bucket"]
    for rel in man3["added"]:
        st = man3["stats"][rel]["p"]  # stats stay keyed PHYSICAL
        assert st[0] == st[1]
    pruned = sn.read_snapshot(spark, tdir, prune={"bucket": (2, 2)})
    assert pruned.columns == ["i", "bucket"]
    assert pruned.filter("bucket = 2").count() == 15
    exp = [r for r in man3["files"] if man3["stats"][r]["p"][0] == 2]
    assert len(pruned.inputFiles()) == len(exp)
