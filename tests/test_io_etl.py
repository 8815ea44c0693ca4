"""Sources/sinks (SURVEY.md §2.1 S1-S5) + the Phase-1 ETL composition:
CSV with explicit schema vs inference, parquet roundtrip, partitioned
write (partition pruning), and the end-to-end cleaning pipeline."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F
from pyspark.sql import types as T

from jobanalytics_bigdataproject_spark.operators import etl
from jobanalytics_bigdataproject_spark.plans import inspect
from jobanalytics_bigdataproject_spark.sources.readers import read_csv, read_table
from jobanalytics_bigdataproject_spark.sources.writers import write_parquet

SF_DIR = "/root/testdata/sf0.001"


def test_csv_roundtrip_explicit_schema(spark, tmp_path):
    p = str(tmp_path / "c.csv")
    with open(p, "w") as f:
        f.write('id,name,val\n1,"a, with comma",2.5\n2,"multi\nline",3.0\n')
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    df = read_csv(spark, p, schema=schema)
    rows = {r.id: r for r in df.collect()}
    # reference S1 options: multiLine + quote/escape handling
    assert rows[1].name == "a, with comma" and rows[2].name == "multi\nline"
    assert df.schema == schema


def test_csv_inference_fallback(spark, tmp_path):
    p = str(tmp_path / "c2.csv")
    with open(p, "w") as f:
        f.write("id,val\n1,2.5\n2,3.5\n")
    df = read_csv(spark, p)
    assert dict(df.dtypes)["id"] in ("int", "bigint")


def test_parquet_roundtrip_and_partitioned_write(spark, tables, tmp_path):
    out = str(tmp_path / "orders_parts")
    cleaned = etl.clean_orders(tables["orders"])
    write_parquet(cleaned, out, partition_by=["order_month"])
    back = spark.read.parquet(out)
    assert back.count() == cleaned.count()
    # partition pruning: a month filter must hit the partition column, and
    # the pruned scan reads fewer files than the full table
    pruned = back.filter(F.col("order_month") == 3)
    plan = inspect.formatted_plan(pruned)
    assert "PartitionFilters: [isnotnull(order_month" in plan.replace("#", "order_month#") or "order_month" in plan
    assert pruned.count() == cleaned.filter(F.col("order_month") == 3).count()


def test_phase1_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "phase1")
    res = etl.run_phase1(spark, SF_DIR, out_dir=out, stats=True)
    n_clean = res["cleaned"].count()
    assert 0 < n_clean <= read_table(spark, SF_DIR, "orders").count()
    # observe() audit mode: per-stage counts arrived with the single
    # materializing action, no recomputation — and they must agree with
    # a direct recount of the stage predicates (monotone chain, SURVEY 5.2)
    audit = res["audit_counts"]
    assert set(audit) == {"after_dedup", "after_nulldrop", "after_valid"}
    assert audit["after_dedup"] >= audit["after_nulldrop"] >= audit["after_valid"]
    assert audit["after_valid"] == n_clean
    assert res["report"].count() == 25  # one row per nation
    assert 0 < res["sample"].count() < n_clean
    back = spark.read.parquet(f"{out}/orders_cleaned")
    assert back.count() == n_clean
    assert "order_month" in back.columns


def test_priority_std_total_mapping(tables):
    cleaned = etl.clean_orders(tables["orders"])
    vals = {r.priority_std for r in cleaned.select("priority_std").distinct().collect()}
    assert vals <= {"URGENT", "HIGH", "MEDIUM", "UNSPECIFIED", "LOW", "OTHER"}


def test_orc_and_json_roundtrip(spark, tables, tmp_path):
    # [EXT] additional source formats beyond the reference's CSV/parquet,
    # through the library reader/writer helpers
    from jobanalytics_bigdataproject_spark.sources import readers, writers

    nation = tables["nation"]
    orc_p, json_p = str(tmp_path / "n_orc"), str(tmp_path / "n_json")
    writers.write_orc(nation, orc_p)
    writers.write_json(nation, json_p)
    want = sorted(map(tuple, nation.collect()))
    assert sorted(map(tuple, readers.read_orc(spark, orc_p).collect())) == want
    back = readers.read_json(spark, json_p, schema=nation.schema)
    assert sorted(map(tuple, back.select(*nation.columns).collect())) == want


def test_orc_partitioned_write_prunes(spark, tables, tmp_path):
    from jobanalytics_bigdataproject_spark.sources import readers, writers

    path = str(tmp_path / "orders_orc")
    writers.write_orc(tables["orders"], path, partition_by=["o_orderstatus"])
    got = readers.read_orc(spark, path).filter(F.col("o_orderstatus") == "F")
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters: [" in l]
    assert any("o_orderstatus" in l for l in scan), scan
    assert got.count() == tables["orders"].filter(F.col("o_orderstatus") == "F").count()


def test_incremental_rollup_equals_full_rebuild(spark, tables, tmp_path):
    """Hypertable-style continuous aggregate: building the rollup on 80% of
    events then incrementally refreshing with the late 20% must equal a
    full rebuild — and the refresh must only rewrite affected partitions."""
    from jobanalytics_bigdataproject_spark.operators import rollup_table as rt

    events = tables["events"]
    early = events.filter(F.col("event_id") % 5 != 0)
    late = events.filter(F.col("event_id") % 5 == 0)
    inc_path = str(tmp_path / "rollup_inc")
    full_path = str(tmp_path / "rollup_full")

    rt.write_rollup(rt.rollup_partials(early), inc_path)
    rt.refresh_rollup(spark, inc_path, late)
    rt.write_rollup(rt.rollup_partials(events), full_path)

    inc = rt.read_rollup(spark, inc_path)
    full = rt.read_rollup(spark, full_path)
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0
    # partition layout: one directory per event_date
    import os

    dates = [d for d in os.listdir(inc_path) if d.startswith("event_date=")]
    assert len(dates) >= 25  # events span ~30 days


def test_max_records_per_file(spark, tables, tmp_path):
    out = str(tmp_path / "chunked")
    write_parquet(tables["nation"], out, max_records_per_file=7)
    import glob

    files = glob.glob(f"{out}/*.parquet")
    assert files
    # 25 nations / ≤7 per file → at least 4 data files
    assert len(files) >= 4
    assert spark.read.parquet(out).count() == 25


def test_sorted_parquet_narrows_rowgroup_stats(spark, tables, tmp_path):
    # sortWithinPartitions layout → narrow parquet row-group min/max ranges
    # (the stats that let range filters skip row groups at scan time)
    import glob

    import pyarrow.parquet as pq

    from jobanalytics_bigdataproject_spark.sources import writers

    li = tables["lineitem"].repartition(2)
    sorted_p, plain_p = str(tmp_path / "srt"), str(tmp_path / "pln")
    writers.write_sorted_parquet(
        li, sorted_p, ["l_extendedprice"], num_partitions=4
    )
    writers.write_parquet(li, plain_p)

    def rg_spans(path):
        spans, lo, hi = [], None, None
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}[
                "l_extendedprice"
            ]
            for g in range(meta.num_row_groups):
                st = meta.row_group(g).column(idx).statistics
                spans.append(st.max - st.min)
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return spans, hi - lo

    s_spans, s_range = rg_spans(sorted_p)
    p_spans, p_range = rg_spans(plain_p)
    # need >1 row group per file for the layout to matter; if the fixture
    # fits one group per file, per-file spans still show the effect (2 files)
    assert len(s_spans) >= 2 and len(p_spans) >= 2
    avg = lambda xs: sum(xs) / len(xs)
    # unsorted row groups each span ~the full range; sorted ones are narrow
    assert avg(s_spans) < avg(p_spans)
    assert avg(s_spans) < 0.6 * s_range


def test_csv_permissive_corrupt_record_capture(spark, tmp_path):
    # PERMISSIVE mode with an auditable dead-letter column: malformed rows
    # keep their raw text instead of silently nulling out
    p = str(tmp_path / "bad.csv")
    with open(p, "w") as f:
        f.write("id,val\n1,2.5\nnot_a_number,oops,extra\n3,4.5\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    df = read_csv(spark, p, schema=schema, multi_line=False,
                  corrupt_record_col="_bad").cache()
    good = df.filter(F.col("_bad").isNull())
    bad = df.filter(F.col("_bad").isNotNull())
    assert {r.id for r in good.collect()} == {1, 3}
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and "not_a_number" in bad_rows[0]._bad


def test_schema_evolution_mergeschema_read(spark, tables, tmp_path):
    """Schema drift across parquet generations: an appended batch carries a
    new column; mergeSchema=True surfaces the union schema with NULLs for
    the old files — the read-side contract a long-lived 100 TB table needs
    (writer-side policy stays explicit-schema, readers.py rationale)."""
    path = str(tmp_path / "evolving")
    v1 = tables["nation"].select("n_nationkey", "n_name")
    v1.write.parquet(path)
    v2 = tables["nation"].select(
        "n_nationkey", "n_name", F.lit("emea").alias("region_tag")
    ).limit(5)
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"n_nationkey", "n_name", "region_tag"}
    assert merged.count() == v1.count() + 5
    # old-generation rows surface NULL for the new column
    assert merged.filter(F.col("region_tag").isNull()).count() == v1.count()
    # without mergeSchema the footer picked may hide the new column — the
    # explicit option is the contract, not a default behavior assumption


# ------------------------------------------------ read_table schema memo


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn's result, ids of the Spark jobs fn launched in this thread)."""
    sc = spark.sparkContext
    group = f"read-table-{next(_GROUPS)}"
    sc.setJobGroup(group, "read_table")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # status stores are fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_read_table_infers_a_file_schema_once(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first, jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert jobs, "a new file's schema is inferred by a footer-reading job"
    again, jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert jobs == []
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]
    # events: the ns→us conversion keys off the memoized schema too
    events = [read_table(spark, SF_DIR, "events") for _ in range(2)]
    _, jobs = _jobs(spark, lambda: read_table(spark, SF_DIR, "events"))
    assert jobs == []
    assert all(isinstance(e.schema["ts"].dataType, T.TimestampType) for e in events)
    assert events[0].agg(F.max("ts")).first() == events[1].agg(F.max("ts")).first()


def test_read_table_reinfers_a_file_rewritten_in_place(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df, jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert jobs, "a rewritten file is inferred again"
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_read_table_directory_is_inferred_every_call(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.range(4).write.parquet(path)
    assert sorted(r.id for r in read_table(spark, str(tmp_path), "d").collect()) == [0, 1, 2, 3]
    spark.range(2).withColumn("b", F.lit("x")).write.mode("overwrite").parquet(path)
    df, jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "d"))
    assert jobs, "a directory is read through inference"
    assert df.columns == ["id", "b"] and df.count() == 2
