"""Readers: CSV/Parquet sources + star-schema loader (SURVEY.md §2.1 S1-S4).

The reference ingests one CSV with inference + permissive parsing
(reference code/01_DataPreprocessing.scala:14-21) and thereafter reads
parquet (02:14, 03:13, 04:10). Our engine keeps those two sources, but:

- CSV takes an *explicit* ``StructType`` by default — at 100 TB a schema
  inference pass is a full extra scan of the input; inference stays
  available as an opt-in fallback.
- Parquet reads go through one helper so column pruning / predicate
  pushdown can be asserted in tests (``.explain`` shows ``PushedFilters``
  and a narrowed ``ReadSchema``).

``read_table`` infers a table's schema once per process. Inference is a
Spark job that reads a parquet footer, and a declared query reads its
tables on every call. The inferred ``StructType`` is kept per regular
local file, keyed by ``(realpath, st_mtime_ns, st_size)``, so a file
rewritten in place is inferred again; a hit passes the schema to the
reader and launches no job. Anything else (a directory, a non-local URI,
a path that cannot be ``stat``-ed) is inferred on every call. Only the
schema is kept: each call still builds a fresh relation with fresh
attribute ids (see the self-join note in ``fan_out_scan``).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fan_out_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Scale-adaptive input fan-out for CPU-heavy per-row operators
    (guide §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read").

    A parquet file is splittable only at row-group boundaries, so a
    small input (or a badly-written single-row-group file) plans as ONE
    scan task and serializes the whole explode/hash/decode stage while
    the rest of the cluster idles — measured at sf0.1:
    ``shingle_positions`` 3.3 s serial vs 0.7 s fanned out on local[32].

    This is deliberately CONDITIONAL: when the scan already carries at
    least ``target`` partitions (any real-scale input — at 100 TB a scan
    is hundreds of thousands of splits) the function is an identity and
    adds NO exchange, so heavy payloads are never re-shuffled just for
    parallelism. Only callers whose downstream is provably
    partitioning-independent may use it (no seeded ``rand`` sampling, no
    ``first``/``limit`` without total order downstream); each call site
    documents why.

    ``target`` defaults to the session's default parallelism (= cores in
    local mode, total executor cores on a cluster). Streaming frames are
    returned untouched (``.rdd`` is illegal on them; micro-batch inputs
    arrive pre-partitioned by the source anyway).

    Known blind spot (ADVICE r10): the probe reads the PRE-AQE physical
    partition count, so at a post-shuffle call site it sees
    ``spark.sql.shuffle.partitions`` — even when AQE will coalesce the
    exchange to one runtime partition — and silently no-ops. Use this
    helper on SCAN-ROOTED frames (every current call site); a frame whose
    lineage already contains an exchange gains nothing from it anyway
    (the shuffle itself spreads the rows).
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = int(target or sc.defaultParallelism)
    # NOT memoized per DataFrame object: returning the SAME repartitioned
    # frame object to several consuming subtrees turns downstream joins
    # into analyzer-level self-joins, whose attribute re-aliasing defeats
    # exchange reuse — measured 5 s → 9-20 s on the MinHash self-join
    # pipelines. Distinct-but-equal repartition subtrees canonicalize
    # identically and ARE collapsed by runtime exchange reuse instead.
    try:
        current = df.rdd.getNumPartitions()
    except Exception as exc:  # pragma: no cover — unanalyzable frame
        # leave the frame as-is but say so: a real analysis error in the
        # caller's plan must not be mistaken for "already parallel enough"
        # (ADVICE r10 — it will resurface at the caller's action anyway)
        import logging

        logging.getLogger(__name__).debug(
            "fan_out_scan: partition probe failed (%s); leaving frame as-is", exc
        )
        return df
    if current >= target:
        return df
    return df.repartition(target)


def right_size_for_iterations(
    df: DataFrame, n_rows: int, rows_per_partition: int = 2048
) -> DataFrame:
    """Right-size a frame that an ITERATIVE fit will re-scan many times
    (guide §2.2 "fewer, larger partitions"): every LBFGS/EM/ALS round
    schedules one task per partition, so partition count is a per-round
    latency tax — a 2 700-row training set spread over 32 partitions pays
    32 task launches × 50 iterations for microseconds of compute each.

    Deterministic round-robin repartition to ``n_rows //
    rows_per_partition`` partitions (≥1), capped at the session's default
    parallelism so a large input still uses the whole cluster. The caller
    supplies ``n_rows`` (it usually counts anyway to materialize a cache).
    Not locality-based ``coalesce``: its parent-grouping is
    nondeterministic run-to-run, which changes float-sum order inside
    seed-pinned fits."""
    sc = df.sparkSession.sparkContext
    n_parts = max(
        1, min(sc.defaultParallelism, int(n_rows) // max(1, int(rows_per_partition)))
    )
    return df.repartition(n_parts)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    multi_line: bool = True,
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """CSV scan mirroring reference S1 options (01_DataPreprocessing.scala:14-21):
    header, multiLine, quote/escape = '"', PERMISSIVE. Explicit schema
    preferred; ``inferSchema`` only when none is given.

    ``corrupt_record_col`` makes PERMISSIVE mode auditable: rows that fail
    the schema land with their raw text in that column (added to the
    schema automatically) instead of silently becoming nulls — at scale,
    `filter(col.isNotNull())` is the dead-letter queue."""
    reader = (
        spark.read.option("header", header)
        .option("multiLine", multi_line)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
    )
    if corrupt_record_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
        if schema is not None and corrupt_record_col not in schema.fieldNames():
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(corrupt_record_col, T.StringType())]
            )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multi_line: bool = False,
) -> DataFrame:
    """[EXT] JSON-lines scan (one object per line — the streaming-friendly
    layout; ``multi_line=True`` for whole-file documents). Explicit schema
    preferred for the same reason as CSV: inference is an extra full scan,
    and at 100 TB schema drift should fail loudly, not widen silently."""
    reader = spark.read.option("multiLine", multi_line).option("mode", "PERMISSIVE")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """[EXT] ORC scan — same columnar pushdown/pruning properties as
    parquet (vectorized reader, predicate pushdown, column projection)."""
    return spark.read.orc(path)


def _ensure_session_conf(spark: SparkSession) -> None:
    """Defensive session conf for externally-created sessions (the driver
    passes its own SparkSession to the contract functions): nanos-parquet
    reads and UTC timestamp rendering are required for correct results;
    both are runtime-settable."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - conf locked down
        pass


_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def _schema_key(path: str) -> tuple[str, int, int] | None:
    """``(realpath, st_mtime_ns, st_size)`` of a regular local file, else
    None (a directory, a non-local URI, a failed ``stat``)."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return real, st.st_mtime_ns, st.st_size


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one star-schema table (reference S2).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as an epoch-ns long
    and is converted here to a microsecond timestamp with exact integer
    ``div`` (``/`` would go through double and lose precision above 2^53 —
    epoch-ns is ~1.7e18). DuckDB performs the same ns→us truncation, so
    both engines see identical timestamps."""
    _ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _schema_key(path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        if key:
            _SCHEMAS[key] = schema
    else:
        df = spark.read.schema(schema).parquet(path)
    ts_type = schema["ts"].dataType if "ts" in schema.fieldNames() else None
    if name == "events" and isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and isinstance(ts_type, T.TimestampNTZType):
        # Parquet TIMESTAMP(isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ;
        # with the session pinned to UTC the cast is value-preserving, and it
        # restores the TIMESTAMP(LTZ) type that unix_micros/window() require.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_star(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES
) -> dict[str, DataFrame]:
    """Load the star-schema tables as a dict of DataFrames."""
    return {name: read_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES
) -> None:
    """Register each table as a temp view (reference S4,
    03_SQLOperations.scala:16) so `spark.sql` entry points resolve them."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
