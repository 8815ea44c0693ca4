"""The benchmark's two workloads and their output checks.

An *op* is one declared query (``queries()[name](spark, data_dir)``,
written to the ``noop`` sink) or one public ``sources.snapshots`` call.
Each op has a ``build`` step (Python-side construction, or the whole
call for a write) and an optional ``action`` step (the Spark action that
consumes the built frame). A *pass* runs every op of the workload once,
in an order fixed by the seed. Pass 0 is the untimed priming pass.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import stat
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from perfbench.datagen import TABLES  # every table the oracle SQL may name

# The reference's JVM-only surface: its own SQL-phase shapes, TPC-H,
# the streaming windows/sessions/interval joins and the SQL feature
# queries. No Python workers, no writes.
SQL_OPS = (
    "q1_pricing_summary", "q2_top_nations", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue", "tpch_q18_large_volume", "events_tumbling_10m",
    "events_sessionize", "window_running_totals", "exists_high_value_orders",
)
SQL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

# The Python/Arrow-heavy surface: a pandas/Arrow UDF plan, LSH, MinHash
# and an ml fit with eager driver-side collects.
LLM_OPS = (
    "multimodal_image", "embedding_near_dups_lsh", "docs_minhash_signatures",
    "events_frequent_itemsets",
)
LLM_TABLES = ("documents", "embeddings", "events")

# The ``queries`` workload runs both surfaces in one seeded pass: a run
# has time for two workloads' set-ups, not three (see README.md).
QUERY_OPS = SQL_OPS + LLM_OPS
QUERY_TABLES = SQL_TABLES + tuple(t for t in LLM_TABLES if t not in SQL_TABLES)

# Rows-only ops have no DuckDB twin (RNG-, hash- or MLlib-based by
# design); their contract is a non-empty frame with exactly these columns.
ROWS_ONLY_COLUMNS = {
    "multimodal_image": ["doc_id", "width", "height", "mean_r", "mean_g", "mean_b"],
    "embedding_near_dups_lsh": ["id_a", "id_b", "sim"],
    "docs_minhash_signatures": ["doc_id", "minhash"],
    "events_frequent_itemsets": ["itemset", "n_users_with_set", "support_bp"],
}



@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    action: Callable[[Any], Any] | None = None
    frame: bool = False  # build returns a DataFrame (Catalyst phases apply)
    dml: bool = False
    expect: Callable[[Any], Any] | None = None  # replay step (lakehouse)
    table: str | None = None  # table dir the op reads or writes (lakehouse)


@dataclass
class Record:
    name: str
    pass_no: int
    t0: float
    t1: float
    build_s: float = 0.0
    action_s: float = 0.0
    catalyst_ms: dict = field(default_factory=dict)
    result: Any = None
    error: str | None = None
    dml: bool = False

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _norm_value(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return v


def normalized(rows, cols, normalize) -> list:
    return normalize([tuple(_norm_value(v) for v in r) for r in rows], list(cols))


def order_for(seed: int, pass_no: int, names) -> list:
    rng = np.random.default_rng([seed, pass_no])
    return [names[i] for i in rng.permutation(len(names))]


# ---------------------------------------------------------------------------
# queries: declared queries
# ---------------------------------------------------------------------------


class QueryWorkload:
    def __init__(self, names, tables, spark, data_dir, seed, entry):
        self.names, self.spark, self.data_dir, self.seed = names, spark, data_dir, seed
        self.tables = tables  # read once during set-up
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.samples: dict[str, tuple[list, list]] = {}
        self.prime_s: dict[str, float] = {}

    def _op(self, name) -> Op:
        fn = self.queries[name]
        return Op(name, lambda: fn(self.spark, self.data_dir), noop, frame=True)

    def pass_ops(self, pass_no: int) -> list[Op]:
        return [self._op(n) for n in order_for(self.seed, pass_no, self.names)]

    def prime(self) -> None:
        """One pass that collects each op's rows for the output check."""
        for name in order_for(self.seed, 0, self.names):
            t = time.time()
            try:
                df = self.queries[name](self.spark, self.data_dir)
                self.samples[name] = (df.collect(), df.columns)
            except Exception as e:  # noqa: BLE001 - reported by check()
                self.samples[name] = error_text(e)
            self.prime_s[name] = time.time() - t

    def end_pass(self, pass_no: int, records) -> None:
        pass

    def check(self, normalize) -> dict[tuple, str]:
        """Failure reason per ``(None, op name)`` (every pass of the op);
        oracle ops hash-match DuckDB."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        bad: dict[tuple, str] = {}
        for name, sample in self.samples.items():
            if isinstance(sample, str):
                bad[None, name] = sample
                continue
            rows, cols = sample
            if name in self.oracles:
                res = con.execute(self.oracles[name])
                ocols = [d[0] for d in res.description]
                if normalized(rows, cols, normalize) != normalized(res.fetchall(), ocols, normalize):
                    bad[None, name] = "rows differ from the DuckDB oracle"
            elif not rows:
                bad[None, name] = "no rows"
            elif list(cols) != ROWS_ONLY_COLUMNS.get(name):
                bad[None, name] = f"columns {list(cols)}"
        con.close()
        return bad


# ---------------------------------------------------------------------------
# lakehouse_dml: the sources.snapshots write path, with reads between
# ---------------------------------------------------------------------------

ORDER_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority",
)
_WRITE_FILES = 8  # range-clustered files of a fresh write (fixed, not core-count)
_STATS = ("o_orderkey", "o_totalprice", "o_custkey")


class LakehouseWorkload:
    """Each pass writes a fresh table from ``orders`` and then runs, in a
    seeded order within each phase, copy-on-write DML, merge-on-read DML
    and maintenance, with reads between the writes. Batches come from the
    seed; a DuckDB replay of the same batches checks every read and the
    final table."""

    tables = ("orders",)
    N_UPDATE, N_INSERT, N_CUST = 150, 50, 8

    def __init__(self, spark, data_dir, seed, work_dir, snapshots, read_table):
        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.work_dir = work_dir
        self.sn = snapshots
        self.orders = read_table(spark, data_dir, "orders").select(*ORDER_COLS)
        self.n_orders = self.orders.count()
        self.n_cust = self.orders.agg({"o_custkey": "max"}).first()[0] + 1
        self.passes: dict[int, tuple[str, list[Op], list]] = {}

    # -- batches -----------------------------------------------------------

    def _merge_source(self, keys, new_keys, status, delta, key_offset):
        from pyspark.sql import functions as F

        upd = self.orders.filter(F.col("o_orderkey").isin(keys)).select(
            "o_orderkey", "o_custkey", F.lit(status).alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(delta)).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority",
        )
        ins = self.orders.filter(F.col("o_orderkey").isin(new_keys)).select(
            (F.col("o_orderkey") + F.lit(key_offset)).alias("o_orderkey"),
            "o_custkey", F.lit("N").alias("o_orderstatus"), "o_totalprice",
            "o_orderdate", "o_orderpriority",
        )
        return upd.unionByName(ins)

    @staticmethod
    def _merge_sql(keys, new_keys, status, delta, key_offset) -> str:
        return (
            f"SELECT o_orderkey, o_custkey, '{status}' AS o_orderstatus, "
            f"o_totalprice + {delta!r} AS o_totalprice, o_orderdate, o_orderpriority "
            f"FROM orders WHERE o_orderkey IN ({_csv(keys)}) UNION ALL "
            f"SELECT o_orderkey + {key_offset}, o_custkey, 'N', o_totalprice, "
            f"o_orderdate, o_orderpriority FROM orders WHERE o_orderkey IN ({_csv(new_keys)})"
        )

    def _ops(self, table: str, pass_no: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, pass_no, 7])
        sn, spark = self.sn, self.spark

        def keys(n):
            return sorted(int(k) for k in rng.choice(self.n_orders, n, replace=False))

        def custs():
            return sorted(int(c) for c in rng.choice(self.n_cust, self.N_CUST, replace=False))

        def merge(name, fn, status, delta, offset):
            k, new = keys(self.N_UPDATE), keys(self.N_INSERT)
            sql = self._merge_sql(k, new, status, delta, offset)
            return Op(
                name,
                lambda: fn(spark, table, self._merge_source(k, new, status, delta, offset),
                           key_cols=("o_orderkey",)),
                dml=True,
                expect=lambda con: con.execute(
                    f"CREATE OR REPLACE TEMP TABLE src AS {sql}; "
                    "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM src); "
                    "INSERT INTO t SELECT * FROM src"
                ),
            )

        def update(name, fn, status, delta):
            cond = f"o_custkey IN ({_csv(custs())})"
            sets = {"o_orderstatus": f"'{status}'", "o_totalprice": f"o_totalprice + {delta!r}"}
            return Op(name, lambda: fn(spark, table, sets, cond), dml=True,
                      expect=lambda con: con.execute(
                          f"UPDATE t SET o_orderstatus = '{status}', "
                          f"o_totalprice = o_totalprice + {delta!r} WHERE {cond}"))

        def delete(name, fn):
            cond = f"o_custkey IN ({_csv(custs())})"
            return Op(name, lambda: fn(spark, table, cond), dml=True,
                      expect=lambda con: con.execute(f"DELETE FROM t WHERE {cond}"))

        def count_where(name):
            lo = round(float(rng.uniform(1000.0, 400_000.0)), 2)
            hi = lo + 100_000.0
            return Op(name, lambda: sn.count_where(spark, table, "o_totalprice", lo, hi)["n_rows"],
                      expect=lambda con: con.execute(
                          f"SELECT COUNT(*) FROM t WHERE o_totalprice BETWEEN {lo!r} AND {hi!r}"
                      ).fetchone()[0])

        def metadata_agg(name):
            def run():
                m = sn.metadata_agg(spark, table, cols=("o_totalprice",))
                return (m["n_rows"], m["min"]["o_totalprice"], m["max"]["o_totalprice"])

            return Op(name, run, expect=lambda con: con.execute(
                "SELECT COUNT(*), MIN(o_totalprice), MAX(o_totalprice) FROM t").fetchone())

        def point(name):
            cust = int(rng.integers(self.n_cust))
            return Op(
                name,
                lambda: sn.read_snapshot(spark, table, point={"o_custkey": cust})
                .filter(f"o_custkey = {cust}").select(*ORDER_COLS),
                lambda df: sorted(tuple(_norm_value(v) for v in r) for r in df.collect()),
                frame=True,
                expect=lambda con: sorted(tuple(_norm_value(v) for v in r) for r in con.execute(
                    f"SELECT * FROM t WHERE o_custkey = {cust}").fetchall()),
            )

        def scan(name):
            return Op(name, lambda: sn.read_snapshot(spark, table), noop, frame=True)

        def seeded(ops):
            return [ops[i] for i in rng.permutation(len(ops))]

        write = Op("write_snapshot", lambda: sn.write_snapshot(
            self.orders.repartitionByRange(_WRITE_FILES, "o_orderkey"), table,
            mode="overwrite", stats_cols=_STATS, bloom_cols=("o_custkey",)), dml=True)
        # Point lookups are the commonest read, so every phase has some.
        # Op latencies form clusters with gaps between them; the six
        # copy-on-write-phase lookups make the 12th of the 23 (the median)
        # fall inside the cluster of fast reads, not on the edge of one.
        cow = seeded([
            merge("merge_into", sn.merge_into, "U", 1.0, 10_000_000),
            update("update_where", sn.update_where, "V", 2.0),
            delete("delete_where", sn.delete_where),
            count_where("count_where"), metadata_agg("metadata_agg"),
            *(point(f"point_lookup_cow_{i}") for i in range(1, 7)),
        ])
        mor = seeded([
            merge("merge_into_mor", sn.merge_into_mor, "M", 3.0, 20_000_000),
            update("update_where_mor", sn.update_where_mor, "W", 4.0),
            delete("delete_where_mor", sn.delete_where_mor),
            scan("read_snapshot"), point("point_lookup_dv"),
        ])
        # retention keeps the last two versions, so the pre-optimize files
        # stay on disk and space_amp shows what a rewrite leaves behind
        maint = [
            Op("materialize_dvs", lambda: sn.materialize_dvs(spark, table), dml=True),
            Op("optimize_snapshot", lambda: sn.optimize_snapshot(
                spark, table, cluster_by=("o_orderkey",)), dml=True),
            Op("expire_snapshots", lambda: sn.expire_snapshots(
                spark, table, older_than_ts=time.time(), keep_last=2, grace_seconds=0),
                dml=True),
            Op("vacuum", lambda: sn.vacuum(spark, table, keep_last=2, grace_seconds=0), dml=True),
            scan("read_snapshot_after_optimize"), point("point_lookup_after_optimize"),
        ]
        return [write, *cow, *mor, *maint]

    def pass_ops(self, pass_no: int) -> list[Op]:
        table = os.path.join(self.work_dir, f"pass{pass_no}", "tbl")
        ops = self._ops(table, pass_no)
        for op in ops:
            op.table = table
        self.passes[pass_no] = (table, ops, [])
        return ops

    def prime(self) -> None:
        for op in self.pass_ops(0):
            rec = Record(op.name, 0, 0.0, 0.0)
            try:
                out = op.build()
                rec.result = op.action(out) if op.action else out
            except Exception as e:  # noqa: BLE001 - check() stops the replay here
                rec.error = error_text(e)
            self.passes[0][2].append(rec)

    def end_pass(self, pass_no: int, records) -> None:
        self.passes[pass_no][2][:] = records

    def check(self, normalize) -> dict[tuple, str]:
        """Replay each pass's batches in DuckDB: every read must return
        what the replay holds at that point and the final table must
        hash-match it. Failure reasons are keyed ``(pass, op name)``, a
        final-table mismatch as ``(pass, "final_table")``. Also measures
        ``space_amp`` of the passes that ran to the end."""
        import duckdb

        bad: dict[tuple, str] = {}
        self.space_amp: list[float] = []
        orders = f"{self.data_dir}/orders.parquet"
        for pass_no, (table, ops, records) in sorted(self.passes.items()):
            con = duckdb.connect()
            con.execute(f"CREATE VIEW orders AS SELECT {', '.join(ORDER_COLS)} FROM '{orders}'")
            con.execute("CREATE TABLE t AS SELECT * FROM orders")
            ran = {r.name: r for r in records}
            for op in ops:
                rec = ran.get(op.name)
                if rec is None:
                    break  # the window ended inside this pass
                if rec.error:
                    if pass_no == 0:
                        bad[pass_no, op.name] = rec.error
                    break  # the table's state is unknown from here on
                if op.expect is None:
                    continue
                want = op.expect(con)
                if not op.dml and not _same(rec.result, want):
                    bad[pass_no, op.name] = f"got {rec.result!r}, replay {want!r}"
            else:
                got = self.sn.read_snapshot(self.spark, table).select(*ORDER_COLS).collect()
                want = con.execute(f"SELECT {', '.join(ORDER_COLS)} FROM t").fetchall()
                if normalized(got, ORDER_COLS, normalize) != normalized(want, ORDER_COLS, normalize):
                    bad[pass_no, "final_table"] = "differs from the DuckDB replay"
                else:
                    self.space_amp.append(self._space_amp(table))
            con.close()
            shutil.rmtree(os.path.dirname(table), ignore_errors=True)
        return bad

    def _space_amp(self, table: str) -> float:
        fresh = os.path.join(os.path.dirname(table), "fresh")
        self.sn.write_snapshot(
            self.sn.read_snapshot(self.spark, table).repartitionByRange(_WRITE_FILES, "o_orderkey"),
            fresh, mode="overwrite", stats_cols=_STATS, bloom_cols=("o_custkey",),
        )
        return space_amp(table, fresh)


def error_text(e: Exception) -> str:
    first = str(e).splitlines()[0][:200] if str(e) else ""
    return f"{type(e).__name__}: {first}"


def _csv(values) -> str:
    return ", ".join(str(v) for v in values)


def _same(got, want) -> bool:
    if isinstance(got, tuple) and isinstance(want, tuple):
        return len(got) == len(want) and all(_same(a, b) for a, b in zip(got, want))
    if isinstance(got, float) or isinstance(want, float):
        return math.isclose(float(got), float(want), rel_tol=0, abs_tol=1e-6)
    return got == want


def space_amp(table: str, fresh: str) -> float:
    """Bytes under ``table`` per byte of a fresh write of its rows."""
    return dir_bytes(table) / dir_bytes(fresh)


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (links are not followed)."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(base, f))
            if stat.S_ISREG(st.st_mode):
                total += st.st_size
    return total
