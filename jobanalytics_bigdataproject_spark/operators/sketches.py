"""[EXT] Mergeable-sketch operators: persisted per-partition HyperLogLog
sketches and the rollups that merge them — the third member of this
engine's persisted-index family (IVF cells for ANN in
``similarity.ivf_build_index``, MinHash band buckets for dedup in
``dedup.build_signature_store``), here covering COUNT(DISTINCT).

The 100 TB story: an exact 30-day distinct-users query re-shuffles a
month of raw events on user_id every time it runs. A sketch store pays
one linear scan per day at ingest, persists a few KB per (day) cell, and
answers any date-range distinct by unioning that many kilobyte sketches
— no re-scan, no shuffle of history, and sketches of disjoint days merge
associatively so the rollup is a tiny all-to-one agg. Spark ships the
Apache DataSketches HLL family as built-ins (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``), all JVM-side.

Estimates are approximate (rows-only driver check per SURVEY.md §5.3 —
DuckDB's HLL is a different implementation), but MERGING is lossless:
the union of per-day sketches is byte-equivalent to a single-pass sketch
of the union, which the tests assert as exact estimate equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.session import fixture
from jobanalytics_bigdataproject_spark.sources.readers import read_table

DEFAULT_LGK = 12  # DataSketches lgConfigK: 2^12 buckets, ~1.6% RSE


def daily_user_sketches(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    lg_k: int = DEFAULT_LGK,
) -> DataFrame:
    """One HLL sketch per day over *key_col*: the ingest-side linear pass.
    One shuffle on the day key; partial sketch aggregation happens
    map-side (sketches merge associatively), so the exchange moves
    |days| × ~KB, never rows."""
    return events.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch"),
        F.count("*").alias("n_events"),
    )


def write_sketch_store(
    events: DataFrame, path: str, ts_col: str = "ts", key_col: str = "user_id",
    lg_k: int = DEFAULT_LGK,
) -> None:
    """Persist the per-day sketch cells as parquet. Idempotent overwrite;
    a production ingest would dynamic-partition-overwrite only the days
    present in the batch (the rollup_table.py pattern)."""
    daily_user_sketches(events, ts_col, key_col, lg_k).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd")
    ).write.mode("overwrite").parquet(path)


def merge_distinct_over_range(
    spark: SparkSession, path: str, start: str | None = None, end: str | None = None
) -> DataFrame:
    """Answer ``COUNT(DISTINCT key) BETWEEN start AND end`` from the store
    alone: prune day cells by the range predicate (partition-pruning-
    shaped: the filter lands on the tiny store scan, the raw events are
    never touched), union the survivors' sketches, estimate."""
    store = spark.read.parquet(path)
    if start is not None:
        store = store.filter(F.col("day") >= start)
    if end is not None:
        store = store.filter(F.col("day") <= end)
    return store.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_distinct"),
        F.sum("n_events").alias("n_events"),
        F.count("*").alias("n_days"),
    )


def daily_distinct_report(
    events: DataFrame, ts_col: str = "ts", key_col: str = "user_id",
    lg_k: int = DEFAULT_LGK,
) -> DataFrame:
    """Per-day sketch estimate vs exact distinct, with the signed error in
    basis points — the operability report that makes the sketch's accuracy
    dial measurable (same rationale as the ANN recall report: an estimator
    without a measured error is not operable). Rows-only by design: the
    estimate is DataSketches-implementation-specific."""
    daily = events.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(key_col, F.lit(lg_k))).alias(
            "approx_users"
        ),
        F.countDistinct(key_col).alias("exact_users"),
    )
    err_bp = F.round(
        10000.0 * (F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    ).cast("long")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "approx_users",
        "exact_users",
        err_bp.alias("err_bp"),
    ).orderBy("day")


def hll_distinct_users_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: build the sketch store for the events fixture
    (once per process+sf_dir in a fresh tempdir — same staleness-proof
    pattern as the persisted IVF index: a fixed path would silently serve
    sketches of an older fixture generation), then answer a mid-month
    range rollup from the store without touching the events table."""

    def build(root: str) -> str:
        write_sketch_store(read_table(spark, sf_dir, "events"), root + "/store")
        return root + "/store"

    path = fixture("hll_store", sf_dir, build)
    return merge_distinct_over_range(spark, path, start="2024-01-08", end="2024-01-21")


def audience_overlap(
    events: DataFrame,
    type_col: str = "event_type",
    key_col: str = "user_id",
    lg_k: int = DEFAULT_LGK,
) -> DataFrame:
    """Pairwise audience overlap between event types via sketch
    inclusion-exclusion: |A∩B| ≈ |A| + |B| − |A∪B|, where each term is an
    HLL estimate — the segment-overlap matrix marketing/analytics teams
    ask for, computed WITHOUT ever shuffling user ids per pair.

    One linear scan builds a KB-sized sketch per type; the pairwise stage
    is a self-join of the |types|-row sketch frame (metadata-scale) whose
    union estimates run on broadcast-sized state. Exact distinct per pair
    would be |types|² shuffles of the fact — this is the difference
    between feasible and not at 100 TB. Overlap error compounds three
    estimate errors (intersection of near-disjoint sets can even go
    negative — clamped at 0); rows-only by design.
    """
    per_type = events.groupBy(F.col(type_col).alias("t")).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sk"),
        F.hll_sketch_estimate(F.hll_sketch_agg(key_col, F.lit(lg_k))).alias("n"),
    )
    a = per_type.select(
        F.col("t").alias("type_a"), F.col("sk").alias("sk_a"), F.col("n").alias("users_a")
    )
    b = per_type.select(
        F.col("t").alias("type_b"), F.col("sk").alias("sk_b"), F.col("n").alias("users_b")
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    union_est = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    inter = F.greatest(
        F.lit(0).cast("long"),
        (F.col("users_a") + F.col("users_b") - union_est).cast("long"),
    )
    return (
        pairs.select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            union_est.cast("long").alias("users_union"),
            inter.alias("users_overlap"),
        )
        .orderBy("type_a", "type_b")
    )


# --- deterministic mergeable quantile store --------------------------------


def daily_value_histograms(
    events: DataFrame,
    lo_cents: int = 0,
    hi_cents: int = 100000,
    n_buckets: int = 256,
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Per-(day, bucket) counts of *val_col* on a FIXED equi-width
    cent-bucket grid — the quantile member of the persisted-store family.
    Unlike t-digest/KLL this histogram is fully deterministic and merges
    by integer addition, so daily ingest and any later rollup are exactly
    reproducible (and oracle-checkable); the price is a fixed resolution:
    the reported edge is within one bucket width ((hi−lo)/n cents) of the
    TYPE-1 (order-statistic) quantile — the ceil(p·n)-th smallest value
    (an interpolated percentile can sit further away when the tail is
    sparse). One shuffle of |days|×|buckets| count rows, map-side
    combined."""
    c = F.round(F.col(val_col) * 100).cast("long")
    b = F.width_bucket(c, F.lit(lo_cents), F.lit(hi_cents), F.lit(n_buckets))
    return events.groupBy(
        F.to_date(ts_col).alias("day"), b.cast("long").alias("bucket")
    ).agg(F.count("*").alias("cnt"))


def write_quantile_store(events: DataFrame, path: str, **kw) -> None:
    """Persist the histogram cells (same idempotent-overwrite contract as
    ``write_sketch_store``; production = dynamic partition overwrite)."""
    daily_value_histograms(events, **kw).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd")
    ).write.mode("overwrite").parquet(path)


def quantiles_from_store(
    spark: SparkSession,
    path: str,
    probabilities: tuple = (0.5, 0.95, 0.99),
    start: str | None = None,
    end: str | None = None,
    lo_cents: int = 0,
    hi_cents: int = 100000,
    n_buckets: int = 256,
) -> DataFrame:
    """Answer approximate quantiles over a date range from the store
    alone: prune day cells, SUM counts per bucket (integer merge), then
    pick each probability's bucket by running-count threshold and report
    its LOWER EDGE in currency units — every step integer-deterministic.
    The raw events are never re-read; the rollup frame is ≤ n_buckets
    rows. Error ≤ one bucket width by construction (tested)."""
    store = spark.read.parquet(path)
    if start is not None:
        store = store.filter(F.col("day") >= start)
    if end is not None:
        store = store.filter(F.col("day") <= end)
    merged = store.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = merged.select(
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
    )
    width = (hi_cents - lo_cents) / n_buckets
    cols = []
    for p in probabilities:
        # threshold = ceil(p·total) in exact integer arithmetic. All-positive
        # (a+b-1) div b form: Spark's `div` truncates toward zero but
        # DuckDB's `//` floors — identical only when operands are positive
        thr = F.expr(
            f"(CAST({int(p * 10000)} AS BIGINT) * total + 9999) div 10000"
        )
        edge = (
            F.lit(lo_cents)
            + (F.min(F.when(F.col("cum") >= thr, F.col("bucket"))) - 1) * F.lit(width)
        ) / F.lit(100.0)
        cols.append(edge.alias(f"p{int(p * 100)}"))
    return cum.agg(*cols)


def _quantile_store(spark: SparkSession, sf_dir: str) -> str:
    """The events histogram store, built once per process and shared by
    ``quantile_rollup_query`` and ``store_drift_query``."""

    def build(root: str) -> str:
        write_quantile_store(read_table(spark, sf_dir, "events"), root + "/store")
        return root + "/store"

    return fixture("qstore", sf_dir, build)


def quantile_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: persisted-histogram quantile rollup over the
    mid-month range. Fully deterministic integer pipeline, so unlike the
    HLL queries this one IS oracle-checked — the DuckDB oracle rebuilds
    the same fixed-bucket histogram and picks the same bucket edges."""
    path = _quantile_store(spark, sf_dir)
    return quantiles_from_store(spark, path, start="2024-01-08", end="2024-01-21")


def quantile_store_streaming_sink(
    events_stream,
    path: str,
    lo_cents: int = 0,
    hi_cents: int = 100000,
    n_buckets: int = 256,
    ts_col: str = "ts",
    val_col: str = "value",
):
    """Streaming maintenance of the quantile store: each micro-batch's
    histogram cells MERGE into the persisted store by integer addition —
    the store stays exactly equal to a batch build over everything seen
    (stream==batch equivalence is exact, not approximate, and tested).

    Same durability discipline as ``scd2_streaming_sink``: existence is an
    explicit FileSystem probe (a read error must abort the batch, not be
    mistaken for first-batch), and the rewrite is write-to-temp-then-swap
    so a crash mid-write leaves the current store intact. Per-batch cost
    is the batch scan + a |days×buckets|-row merge — independent of how
    much history the store summarizes. Returns a DataStreamWriter."""

    def _apply(batch_df, _batch_id):
        sp = batch_df.sparkSession
        fresh = daily_value_histograms(
            batch_df, lo_cents, hi_cents, n_buckets, ts_col, val_col
        ).withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        jvm = sp._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(sp._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            merged = (
                sp.read.parquet(path)
                .unionByName(fresh)
                .groupBy("day", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = fresh
        tmp = path.rstrip("/") + "__tmp"
        htmp = jvm.org.apache.hadoop.fs.Path(tmp)
        if fs.exists(htmp):
            fs.delete(htmp, True)
        merged.write.mode("overwrite").parquet(tmp)
        if fs.exists(hpath):
            fs.delete(hpath, True)
        if not fs.rename(htmp, hpath):
            raise IOError(f"quantile_store_streaming_sink: rename {tmp} -> {path} failed")

    return events_stream.writeStream.foreachBatch(_apply)


# ---------------------------------------------------------------------------
# Count-min sketch: the FREQUENCY member of the persisted-sketch family
# (HLL = distincts, fixed-bucket histograms = quantiles, CMS = per-key
# counts). Public construction per Cormode & Muthukrishnan, "An improved
# data stream summary: the count-min sketch and its applications" (2005).
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sparse count-min sketch of ``key_col`` frequencies: rows
    (*group_cols, row_i, bucket, n) with bucket = xxhash64(key, row_i) mod
    width.  Deterministic (seeded xxhash64 — same reasoning as the MinHash
    store), mergeable by integer addition, bounded at depth·width rows per
    group regardless of input size.

    Scale: the posexplode fans depth rows per input row, but they flow
    straight into a map-side-combined hash aggregate whose key space is
    ≤ depth·width — the exchange moves the sketch, never the data."""
    buckets = F.array(
        *[F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(width)) for i in range(depth)]
    )
    return (
        df.select(*group_cols, F.posexplode(buckets).alias("row_i", "bucket"))
        .groupBy(*group_cols, "row_i", "bucket")
        .agg(F.count("*").alias("n"))
    )


def write_cms_store(
    events: DataFrame,
    path: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> None:
    """Persist one CMS per day, partitioned by day — ingest pays one linear
    scan, any date-range frequency question is then answered from
    ≤ days·depth·width integer rows without re-scanning history."""
    sk = cms_sketch(
        events.withColumn("day", F.to_date(ts_col)),
        key_col,
        depth,
        width,
        group_cols=("day",),
    )
    sk.write.mode("overwrite").partitionBy("day").parquet(path)


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-estimate each key's frequency from a (possibly rolled-up)
    sparse CMS: est(k) = min_i n[i, h_i(k)], with absent buckets = 0.
    Guarantees: est ≥ true count always; est ≤ true + e/width·N with
    probability 1−e^−depth (classic CMS bound).

    Scale: keys explode ×depth, join the depth·width-row sketch
    (broadcast), min-reduce per key — cost is O(|keys|·depth), independent
    of the event volume the sketch summarizes."""
    probes = keys.select(
        F.col(key_col),
        F.posexplode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(width))
                    for i in range(depth)
                ]
            )
        ).alias("row_i", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row_i", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("cms_est"))
    )


def cms_rollup(store: DataFrame, start: str, end: str) -> DataFrame:
    """Merge daily sketches over [start, end): integer sums per
    (row_i, bucket) — associative, so the rollup of any partitioning of
    the days equals the single-pass sketch (tested exactly)."""
    return (
        store.filter((F.col("day") >= start) & (F.col("day") < end))
        .groupBy("row_i", "bucket")
        .agg(F.sum("n").alias("n"))
    )


def cms_heavy_hitters_report(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    top_k: int = 20,
) -> DataFrame:
    """Measured-accuracy report (the ann_recall_report /
    hll_daily_report pattern): exact top-k user counts side-by-side with
    the CMS estimates from the persisted store, plus the overestimate in
    basis points. est ≥ exact must hold for every row (tested); the
    overestimate scales as N/width."""
    from jobanalytics_bigdataproject_spark.functions.exact import exact_div

    events = read_table(spark, sf_dir, "events")
    exact = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(top_k)
    )
    merged = cms_rollup(
        spark.read.parquet(store_path), "1900-01-01", "2100-01-01"
    )
    est = cms_estimate(merged, exact.select("user_id"), "user_id")
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (
                exact_div(
                    F.lit(10000) * (F.col("cms_est") - F.col("exact_n")),
                    F.col("exact_n"),
                    0,
                )
            ).alias("overest_bp"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


def cms_heavy_hitters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: per-process-fresh persisted CMS store (same
    staleness-proof tempdir pattern as the HLL store above), then the
    heavy-hitters measured-accuracy report answered from the store."""

    def build(root: str) -> str:
        write_cms_store(read_table(spark, sf_dir, "events"), root + "/store")
        return root + "/store"

    return cms_heavy_hitters_report(spark, sf_dir, fixture("cms_store", sf_dir, build))


def bloom_bits_from_keys(
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = 4096,
) -> list[int]:
    """Counting-Bloom membership bits from the CMS machinery (a CMS cell
    with n>0 IS a Bloom bit): returns ``depth·width/64`` packed int64
    words.  The collect is metadata-scale (KBs — this is exactly the
    broadcast Spark's own runtime bloom-join filters do); everything
    upstream is the map-side-combined cms_sketch aggregate."""
    rows = cms_sketch(keys, key_col, depth, width).collect()
    words = [0] * (depth * width // 64 + (1 if (depth * width) % 64 else 0))
    for r in rows:
        pos = r.row_i * width + r.bucket
        words[pos // 64] |= 1 << (pos % 64)
    return words


def bloom_might_contain(
    key_col: str,
    words: list[int],
    depth: int = CMS_DEPTH,
    width: int = 4096,
):
    """Zero-shuffle membership predicate: the packed words ride as ONE
    array literal in the expression (256 longs at the default dial) and
    each of the ``depth`` probes is an element_at + bit test — pure
    codegen projection, no join, no exchange. Guarantee: never a false
    negative; false-positive rate ~(1-e^(-kn/m))^k."""
    probes = []
    # bit 63 set -> unsigned word exceeds the signed int64 literal range;
    # emit two's-complement signed literals
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    arr = "array(" + ",".join(f"{w}L" for w in signed) + ")"
    for i in range(depth):
        pos = f"(( {i}L * {width}L ) + pmod(xxhash64({key_col}, {i}), {width}))"
        probes.append(
            f"(shiftright(element_at({arr}, cast({pos} div 64 as int) + 1), "
            f"cast(pmod({pos}, 64) as int)) & 1L) = 1L"
        )
    return F.expr(" AND ".join(probes))


def bloom_prefilter_report(
    spark: SparkSession,
    sf_dir: str,
    min_acctbal: float = 9000.0,
    depth: int = CMS_DEPTH,
    width: int = 4096,
) -> DataFrame:
    """Measured-accuracy report for Bloom pre-filtering — the pre-shuffle
    reduction every 100 TB semi-join wants: filter the orders fact by a
    broadcast-literal Bloom of the selective customer keys BEFORE any
    exchange, then compare against the exact semi-join.

    Columns: fact rows, bloom-kept rows, exact semi-join rows, false
    positives, false-positive basis points vs the REJECTED population.
    False negatives are impossible by construction (tested)."""
    from jobanalytics_bigdataproject_spark.functions.exact import exact_div

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    keys = customer.filter(F.col("c_acctbal") >= min_acctbal).select("c_custkey")
    words = bloom_bits_from_keys(keys, "c_custkey", depth, width)
    pred = bloom_might_contain("o_custkey", words, depth, width)

    kept = orders.filter(pred)
    exact = orders.join(
        F.broadcast(keys), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    )
    counts = (
        orders.agg(F.count("*").alias("n_fact"))
        .crossJoin(kept.agg(F.count("*").alias("bloom_kept")))
        .crossJoin(exact.agg(F.count("*").alias("exact_kept")))
    )
    return counts.select(
        "n_fact",
        "bloom_kept",
        "exact_kept",
        (F.col("bloom_kept") - F.col("exact_kept")).alias("false_pos"),
        exact_div(
            F.lit(10000) * (F.col("bloom_kept") - F.col("exact_kept")),
            F.col("n_fact") - F.col("exact_kept"),
            0,
        ).alias("fp_bp"),
    )


def cms_store_streaming_sink(
    events_stream,
    path: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
):
    """Streaming maintenance of the CMS store: each micro-batch's sketch
    cells MERGE into the persisted store by integer addition — like the
    quantile store, stream==batch equality is EXACT (integer sums are
    associative), not approximate; only the CMS→truth relationship is
    approximate.

    Same durability discipline as the other sinks: explicit FileSystem
    existence probe (a read error aborts the batch rather than being
    mistaken for first-batch) and write-to-temp-then-swap.  Per-batch
    cost: batch scan + a ≤ |days·depth·width|-row merge, independent of
    summarized history.  Returns a DataStreamWriter."""

    def _apply(batch_df, _batch_id):
        sp = batch_df.sparkSession
        fresh = cms_sketch(
            batch_df.withColumn("day", F.date_format(F.to_date(ts_col), "yyyy-MM-dd")),
            key_col,
            depth,
            width,
            group_cols=("day",),
        )
        jvm = sp._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(sp._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            merged = (
                sp.read.parquet(path)
                .unionByName(fresh)
                .groupBy("day", "row_i", "bucket")
                .agg(F.sum("n").alias("n"))
            )
        else:
            merged = fresh
        tmp = path.rstrip("/") + "__tmp"
        htmp = jvm.org.apache.hadoop.fs.Path(tmp)
        if fs.exists(htmp):
            fs.delete(htmp, True)
        merged.write.mode("overwrite").parquet(tmp)
        if fs.exists(hpath):
            fs.delete(hpath, True)
        if not fs.rename(htmp, hpath):
            raise IOError(f"cms_store_streaming_sink: rename {tmp} -> {path} failed")

    return events_stream.writeStream.foreachBatch(_apply)


def drift_from_store(
    spark: SparkSession,
    path: str,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
) -> DataFrame:
    """Distribution drift between two date ranges answered from the
    persisted histogram store ALONE — the streaming-maintained twin of
    ``profile.drift_report``: because the per-day cells are integer
    counts on a FIXED bucket grid, any two time windows merge by integer
    addition and compare exactly; the raw events are never re-read. This
    is what makes "did this week's value distribution drift from
    baseline week?" an O(|days|×|buckets|) question on a 100 TB log.

    Same output law as ``drift_report``: per-bucket counts for both
    windows (zero-filled on the side missing the bucket), shares in
    truncating-integer basis points of each window's own total, signed
    delta. Buckets observed in neither window are omitted (the store
    has no row to resurrect them from — callers needing the dense grid
    join against a range frame). Fully oracle-checkable: every number
    is integer arithmetic on a deterministic bucket law.

    Scale: two pruned scans of the tiny store, two ≤|buckets|-row
    merges; the join and share windows run on ≤|buckets| rows.
    """
    store = spark.read.parquet(path)

    def side(start: str, end: str, alias: str) -> DataFrame:
        return (
            store.filter((F.col("day") >= start) & (F.col("day") <= end))
            .groupBy("bucket")
            .agg(F.sum("cnt").alias(alias))
        )

    joined = (
        side(a_start, a_end, "base_n")
        .join(side(b_start, b_end, "cur_n"), "bucket", "full_outer")
        .na.fill(0, ["base_n", "cur_n"])
    )
    w = Window.partitionBy()  # ≤ |buckets| rows
    return (
        joined.select(
            "bucket",
            "base_n",
            "cur_n",
            F.expr("CAST(10000 * base_n AS BIGINT)").alias("__b"),
            F.expr("CAST(10000 * cur_n AS BIGINT)").alias("__c"),
            F.sum("base_n").over(w).alias("__bt"),
            F.sum("cur_n").over(w).alias("__ct"),
        )
        .select(
            "bucket",
            "base_n",
            "cur_n",
            F.expr("__b div nullif(__bt, 0)").alias("base_share_bp"),
            F.expr("__c div nullif(__ct, 0)").alias("cur_share_bp"),
            F.expr(
                "(__c div nullif(__ct, 0)) - (__b div nullif(__bt, 0))"
            ).alias("delta_bp"),
        )
        .orderBy("bucket")
    )


def store_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: week-1 vs week-3 value-distribution drift from
    the persisted histogram store (shared with ``quantile_rollup_query``
    via the per-process cache — ingest once, answer quantiles AND drift).
    Fully oracle-checked: DuckDB rebuilds both windows' histograms from
    the raw events with the identical bucket law."""
    return drift_from_store(
        spark, _quantile_store(spark, sf_dir), "2024-01-01", "2024-01-07", "2024-01-15", "2024-01-21"
    )
