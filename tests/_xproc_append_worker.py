"""Worker for the CROSS-PROCESS commit stress test
(test_snapshots_hardening.py::test_two_process_writers_serialize).

Launched as ``python _xproc_append_worker.py <table_dir> <worker_id>
<n_commits>``: builds its own SparkSession (own JVM — a genuinely
separate writer process) and appends ``n_commits`` distinctively-tagged
batches to the shared table. Prints the committed version list as JSON
on success; any exception exits non-zero (a LOUD refusal, which the
parent test treats as acceptable; silent row loss is the failure mode
under test)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    table_dir, worker_id, n_commits = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])

    from pyspark.sql import functions as F

    from jobanalytics_bigdataproject_spark.session import get_spark
    from jobanalytics_bigdataproject_spark.sources import snapshots as sn

    spark = get_spark(
        f"xproc-worker-{worker_id}",
        cpus=2,
        shuffle_partitions=2,
        driver_memory="2g",
        extra_conf={"spark.ui.enabled": "false"},
    )
    versions = []
    for j in range(n_commits):
        base = worker_id * 100_000 + j * 100
        batch = spark.range(base, base + 10).select(
            F.col("id").alias("i"),
            F.lit(worker_id).alias("w"),
            F.lit(j).alias("j"),
        )
        versions.append(sn.write_snapshot(batch, table_dir))
    print(json.dumps({"worker": worker_id, "versions": versions}))
    spark.stop()


if __name__ == "__main__":
    main()
