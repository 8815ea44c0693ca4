"""[EXT] Incremental view maintenance over the snapshot CDF: keep a
grouped COUNT/SUM aggregate table exactly in sync with a versioned
source table by consuming the row-level change feed — the source history
is NEVER rescanned, whatever mix of appends, copy-on-write DELETEs,
duplicates, and rollbacks produced it.

Why this composition is exact: ``read_changes_cdf`` emits the multiset-
precise logical diff of each commit ('insert'/'delete' rows), and COUNT/
SUM are group-wise linear — applying the diff with signed weights
(+1 insert, −1 delete) to the stored partials reproduces the aggregate
of the current snapshot bit-for-bit (sums kept in integer cents, the
repo-wide exactness discipline). Aggregates that are not linear (MIN/
MAX, DISTINCT) are deliberately out of scope — under deletes they need
per-group re-scan or sketch stores (operators/sketches.py covers the
approximate family).

Exactly-once: each refresh commits the merged aggregate with
``idempotency_key = "ivm-<source version>"``; the consumed position is
recovered from the aggregate table's own history (``table_history``), so
a crashed-and-retried refresh no-ops instead of double-applying a delta
— the same batchId-dedup contract the streaming sinks use, state and
data in one atomic commit.

Scale: refresh cost is O(source files changed since the last refresh) +
O(aggregate size) for the merge rewrite. At 100 TB the source side is
the point (a day's churn, never the table); if the aggregate itself is
huge, the merge becomes a partition-wise dynamic overwrite exactly like
``rollup_table.refresh_rollup`` — same law, bigger page.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.sources import snapshots as sn


def _last_maintained_version(spark: SparkSession, agg_dir: str) -> int:
    """Source version the aggregate table last absorbed, recovered from
    its own commit history (ivm-N idempotency keys). 0 = never."""
    if sn.current_version(spark, agg_dir) == 0:
        return 0
    best = 0
    for r in sn.table_history(spark, agg_dir).collect():
        k = r.idempotency_key
        if k and k.startswith("ivm-"):
            try:
                best = max(best, int(k[4:]))
            except ValueError:
                continue
    return best


def maintain_sum_agg(
    spark: SparkSession,
    src_dir: str,
    agg_dir: str,
    keys: tuple[str, ...] | list[str],
    value_col: str,
    derived: dict[str, str] | None = None,
) -> int:
    """Bring the aggregate table ``SELECT keys, COUNT(*) AS cnt,
    SUM(round(value*100)) AS sum_cents GROUP BY keys`` up to date with
    the source snapshot table, consuming only the CDF since the last
    refresh. Returns the source version now reflected (no-op when
    already current). NULL group keys are real groups (null-safe merge,
    matching SQL GROUP BY); groups whose count reaches zero are dropped.

    ``derived`` maps extra group-key names to SQL expressions evaluated
    on the CDF rows (e.g. ``{"day": "CAST(ts AS DATE)"}``) — the
    delete-correct continuous-aggregate form: a retraction lands in
    exactly the bucket its row left, because the bucket is derived from
    the retracted row itself. Names in ``keys`` may reference source
    columns or ``derived`` names.
    """
    keys = list(keys)
    last = _last_maintained_version(spark, agg_dir)
    head = sn.current_version(spark, src_dir)
    if head == last:
        return last

    cdf = sn.read_changes_cdf(spark, src_dir, last, head)
    for name, expr in (derived or {}).items():
        cdf = cdf.withColumn(name, F.expr(expr))
    w = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    cents = F.round(F.col(value_col) * 100).cast("long")
    delta = cdf.groupBy(*keys).agg(
        F.sum(w).cast("long").alias("d_cnt"),
        F.sum(w * F.coalesce(cents, F.lit(0))).cast("long").alias("d_sum"),
    )

    if last > 0:
        cur = sn.read_snapshot(spark, agg_dir)
        cond = reduce(
            lambda a, b: a & b, [cur[k].eqNullSafe(delta[k]) for k in keys]
        )
        merged = cur.join(delta, cond, "full_outer").select(
            *[F.coalesce(cur[k], delta[k]).alias(k) for k in keys],
            (
                F.coalesce(cur["cnt"], F.lit(0))
                + F.coalesce(delta["d_cnt"], F.lit(0))
            ).alias("cnt"),
            (
                F.coalesce(cur["sum_cents"], F.lit(0))
                + F.coalesce(delta["d_sum"], F.lit(0))
            ).alias("sum_cents"),
        )
    else:
        merged = delta.select(
            *keys,
            F.col("d_cnt").alias("cnt"),
            F.col("d_sum").alias("sum_cents"),
        )
    merged = merged.filter(F.col("cnt") != 0)
    sn.write_snapshot(
        merged, agg_dir, mode="overwrite", idempotency_key=f"ivm-{head}"
    )
    return head

