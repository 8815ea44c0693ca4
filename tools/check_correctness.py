"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row-count + schema-width + order-insensitive values.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# the checkout this file lives in: run from a second checkout, the gate
# checks that checkout's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, stringify values (floats to 6dp, NaN/None
    canonical), sort rows — order-insensitive comparable form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb

    import __spark_entry__ as mod
    from jobanalytics_bigdataproject_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    if os.environ.get("CHECK_HOSTILE"):
        # simulate a driver-created session with none of our engine confs
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .appName("hostile-driver")
            .config("spark.sql.session.timeZone", "America/Chicago")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = mod.queries()
    oracles = mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            # stringifying in normalize() hides engine type differences the
            # driver's hash is sensitive to (round 1: HUGEINT SUM vs BIGINT
            # COUNT hashed differently on an identical value) — so flag any
            # oracle column whose DuckDB type won't map 1:1 onto a Spark type
            otypes = con.execute("DESCRIBE " + oracles[name]).fetchall()
            hazards = [
                f"{cname}:{ctype}"
                for cname, ctype, *_ in otypes
                if ctype.upper().startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
            ]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        status = []
        if hazards:
            status.append(
                "oracle type hazard (cast to BIGINT/DOUBLE in the SQL): "
                + ", ".join(hazards)
            )
        if len(srows) != len(orows):
            status.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            status.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if not status:
            sn = normalize([tuple(r) for r in srows], scols)
            on = normalize(orows, ocols)
            if sn != on:
                ndiff = sum(1 for a, b in zip(sn, on) if a != b)
                status.append(f"values differ ({ndiff}/{len(sn)} rows)")
                for a, b in list(zip(sn, on))[:200]:
                    if a != b:
                        print(f"      spark : {a}")
                        print(f"      oracle: {b}")
                        break
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
