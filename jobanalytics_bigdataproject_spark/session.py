"""SparkSession factory.

The reference runs an ambient spark-shell session with default conf
(/root/reference/code/01_DataPreprocessing.scala:14 — no spark-submit conf
anywhere). Our engine pins the settings that matter at scale:

- AQE on (runtime re-plan: partition coalescing, skew-join split, broadcast
  demotion) — on a 1000-executor cluster this is the difference between a
  static 200-partition shuffle plan and one sized to the actual data.
- ``spark.sql.shuffle.partitions`` sized to the parallelism of the target
  (locally: #cores; on a cluster: 2-3× total executor cores — callers
  override via env/kwarg).
- UTC session timezone so timestamp semantics are reproducible against the
  DuckDB oracle and across clusters.
- Arrow enabled for the few pandas-interop paths (similarity/multimodal).
- A Catalyst codegen cache of 512 compiled classes. Spark's default of
  100 is smaller than the working set of a short query mix (the 13 ops of
  perfbench's ``queries`` workload generate 184 classes), so every call
  recompiled its generated code (Janino) and the JIT then warmed the
  fresh classes again. The cache is not sized for every declared query
  (one pass over all 225 at sf0.001 compiles 2,965 classes): each cached
  class pins its own class loader, and a long-lived process that holds
  4096 of them ran the test suite about 15% slower than one that holds
  100.

``fixture`` is the other piece of process-scoped state: the tables,
indexes, models and sketch stores that queries build once per process
and then query.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(
    app_name: str = "jobanalytics-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    Local mode is a single JVM; on a real cluster the same conf applies,
    with master/memory supplied by spark-submit instead.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = str(
        shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "24g")

    # SPARK_GRAFT_MASTER overrides for real clusters (spark-submit sets
    # spark.master itself; a hardcoded local master would clobber it)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join pruning: build a bloom filter from the
        # selective side of a shuffle join and push it into the other
        # side's scan — at 100 TB this skips row groups that cannot match
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert in the reader
        # (sources/readers.py) — DuckDB truncates ns→us the same way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # static; holds a 184-class query mix with room to spare in each
        # of the cache's 4 segments (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # in-memory derby metastore + tmp warehouse: bucketed-table support
        # (sources/writers.write_bucketed_table) without littering the repo
        .config(
            "spark.hadoop.javax.jdo.option.ConnectionURL",
            "jdbc:derby:memory:metastore;create=true",
        )
        .config("spark.sql.warehouse.dir", f"/tmp/spark-warehouse-{os.getpid()}")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_FIXTURES: dict[tuple[str, str], object] = {}
_FIXTURE_ROOT: str | None = None
_FIXTURE_LOCK = threading.RLock()  # re-entrant: a build may use another fixture


def fixture(name: str, sf_dir: str, build: Callable[[str], T]) -> T:
    """What ``build(root)`` returns for ``(name, sf_dir)``, built at most
    once per process.

    ``root`` is a fresh directory named after the fixture under one
    process root, which the first build creates under
    ``tempfile.gettempdir()`` (so it follows ``TMPDIR``) and registers for
    removal at exit — a process that builds nothing creates nothing. A
    ``build`` that raises is not remembered: the next call rebuilds into a
    new directory, so a half-built table is never served."""
    global _FIXTURE_ROOT
    key = (name, sf_dir)
    with _FIXTURE_LOCK:
        if key not in _FIXTURES:
            if _FIXTURE_ROOT is None:
                _FIXTURE_ROOT = tempfile.mkdtemp(prefix="spark_graft_fixtures_")
                atexit.register(shutil.rmtree, _FIXTURE_ROOT, ignore_errors=True)
            root = tempfile.mkdtemp(prefix=name + "_", dir=_FIXTURE_ROOT)
            _FIXTURES[key] = build(root)
        return _FIXTURES[key]
