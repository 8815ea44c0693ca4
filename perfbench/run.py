"""Benchmark command: one workload, one process, one client.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Starts its own session at ``local[<half the cores>]``, sets up (session, table
warm-up, one untimed priming pass), then runs the workload as a closed
loop — one op at a time — for ``--seconds``, checks every output and
prints the metrics as one JSON line, last on stdout. ``--trace 1`` runs
the same workload instrumented and prints the per-layer metrics instead.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "jobanalytics_bigdataproject_spark"
SF = 0.01
WORKLOADS = ("queries", "lakehouse_dml")
# operator modules the workloads call; one self-time metric each
OPERATOR_LAYERS = ("analytics", "tpch", "dedup", "multimodal", "similarity")
TAIL_Q = 0.9
HEAP = "1g"


def spark_cores() -> int:
    """Half the cores this process may run on, at least one. The other
    half keeps the driver, the JVM's JIT and GC threads and the Python
    workers off the cores that run Spark tasks, so one neighbour's burst
    on a shared host does not stall every task of a stage."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def op_latencies(records) -> dict[str, float]:
    """Each op's median latency over its runs in the window."""
    by_name: dict[str, list[float]] = {}
    for r in records:
        by_name.setdefault(r.name, []).append(r.seconds)
    return {k: statistics.median(v) for k, v in by_name.items()}


def quantile_hd(values, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a weighted mean of all
    the order statistics, with weights from Beta(q(n+1), (1-q)(n+1)).
    With a few dozen ops whose latencies form clusters, a single order
    statistic jumps between clusters when one op gets a little slower or
    faster; this estimate moves with every op near the quantile."""
    xs = sorted(values)
    n = len(xs)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [_beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def _beta_cdf(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):  # the fraction converges fast only below
        return 1.0 - _beta_cdf(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return front * h


def _source_digest() -> str:
    """Digest of the program's sources (the checkout may not be a git repo)."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _, files in os.walk(os.path.join(ROOT, PKG)):
        paths += [os.path.join(base, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


class Bench:
    def __init__(self, args, run_dir: str, data_dir: str):
        self.args, self.run_dir, self.data_dir = args, run_dir, data_dir
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = None
        self.snapshot_files = [0, 0, 0]  # files added, bytes added, files removed

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from perfbench import trace

        if self.trace:
            self.tracer = trace.Tracer()
            self.tracer.install()
        import __spark_entry__ as entry
        from jobanalytics_bigdataproject_spark.session import get_spark
        from jobanalytics_bigdataproject_spark.sources import readers, snapshots
        from perfbench import workloads

        if self.tracer:
            self.tracer.rebind([entry])
            self.tracer.deactivate()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            # a fixed-size heap fills early in the run, so the JVM's share of
            # peak_rss_mb does not hinge on when its heap last grew
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tempfile.gettempdir()}",
        }
        if self.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf |= {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + self.event_dir,
                     "spark.eventLog.rolling.enabled": "false",  # one plain JSON file
                     "spark.eventLog.compress": "false"}
        t0 = time.time()
        self.spark = get_spark("perfbench", cpus=spark_cores(), driver_memory=HEAP, extra_conf=conf)
        t1 = time.time()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        name = self.args.workload
        if name == "lakehouse_dml":
            self.work = workloads.LakehouseWorkload(
                self.spark, self.data_dir, self.args.seed,
                os.path.join(self.run_dir, "tables"), snapshots, readers.read_table)
        else:
            self.work = workloads.QueryWorkload(
                workloads.QUERY_OPS, workloads.QUERY_TABLES, self.spark, self.data_dir,
                self.args.seed, entry)
            for t in self.work.tables:  # table warm-up: listing and footers
                readers.read_table(self.spark, self.data_dir, t).count()
        self.warmup_s = time.time() - t1
        self.work.prime()
        t2 = time.time()
        self.setup_times = {"session.get_spark_s": t1 - t0, "session.prime_s": t2 - t1}

    # -- the closed loop ---------------------------------------------------

    def run_op(self, op, pass_no: int, catalyst: bool):
        from perfbench.workloads import Record, error_text

        listed = _listing(op.table) if catalyst and op.table else None
        rec = Record(op.name, pass_no, time.time(), 0.0, dml=op.dml)
        try:
            out = op.build()
            rec.build_s = time.time() - rec.t0
            if catalyst and op.frame:
                rec.catalyst_ms = _catalyst_ms(out)
            if op.action:
                t = time.time()
                out = op.action(out)
                rec.action_s = time.time() - t
            rec.result = out
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            rec.error = error_text(e)
        rec.t1 = time.time()
        if listed is not None:
            after = _listing(op.table)
            added = after.keys() - listed.keys()
            self.snapshot_files[0] += len(added)
            self.snapshot_files[1] += sum(after[f] for f in added)
            self.snapshot_files[2] += len(listed.keys() - after.keys())
        return rec

    def window(self, seconds: float, first_pass: int, traced: bool = False):
        """Run passes until ``seconds`` have elapsed. The first pass always
        completes; later ones stop at the deadline between ops."""
        records = []
        start = time.time()
        deadline = start + seconds
        p = first_pass
        while True:
            done = []
            ops = self.work.pass_ops(p)
            self.ops_per_pass = len(ops)
            for op in ops:
                if p > first_pass and time.time() >= deadline:
                    break
                done.append(self.run_op(op, p, traced))
            self.work.end_pass(p, done)
            records += done
            p += 1
            if time.time() >= deadline:
                break
        return records, time.time() - start, p

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, records, elapsed) -> dict:
        """Every metric of the window comes from each op's median latency
        over its runs, so every op weighs the same wherever the deadline
        cut the last pass, and a neighbour's burst on the host that slows
        one run of an op does not move it."""
        lat = op_latencies(records)
        self.info["window_s"] = elapsed
        self.info["op_s_samples"] = len(records)
        self.info["op_s_tail_percentile"] = 100 * TAIL_Q
        self.info["op_s_tail_over_ops"] = len(lat)
        self.info["op_s_median_by_name"] = {k: round(v, 3) for k, v in lat.items()}
        self.info["op_s_runs_by_name"] = {
            k: [round(r.seconds, 3) for r in records if r.name == k] for k in lat}
        amp = getattr(self.work, "space_amp", None)
        return {
            "setup_s": (sum(self.setup_times.values()), "s"),
            "ops_per_s": (len(lat) / sum(lat.values()), "1/s"),
            "op_s_p50": (quantile_hd(lat.values(), 0.5), "s"),
            "op_s_tail": (quantile_hd(lat.values(), TAIL_Q), "s"),
            "peak_rss_mb": (self.peak_rss, "MB"),
            # a read-only workload leaves no table behind: nothing amplified
            "space_amp": (statistics.median(amp) if amp else 1.0, "ratio"),
        }

    def run(self) -> tuple[dict, dict]:
        from perfbench import trace

        args = self.args
        self.info = {}
        self.setup()
        self.info["setup_parts_s"] = {**self.setup_times, "warmup_s": self.warmup_s}
        self.info["prime_op_s"] = {k: round(v, 3) for k, v in getattr(self.work, "prime_s", {}).items()}
        procs = lambda: [os.getpid(), self.jvm_pid, *trace.descendants(self.jvm_pid)]  # noqa: E731
        if not self.trace:
            steal0 = _steal_s()
            records, elapsed, _ = self.window(args.seconds, 1)
            self.info["window_steal_share"] = round(
                (_steal_s() - steal0) / (elapsed * len(os.sched_getaffinity(0))), 4)
        else:
            half = args.seconds / 2.0
            plain, plain_s, nxt = self.window(half, 1)
            ps = procs()
            before = (trace.cpu_seconds([self.jvm_pid]), trace.cpu_seconds(ps[2:]),
                      trace.cpu_seconds([os.getpid()]), trace.write_bytes(ps))
            self.tracer.activate()
            records, elapsed, _ = self.window(half, nxt, traced=True)
            self.tracer.deactivate()
            ps = procs()
            after = (trace.cpu_seconds([self.jvm_pid]), trace.cpu_seconds(ps[2:]),
                     trace.cpu_seconds([os.getpid()]), trace.write_bytes(ps))
            self.proc_delta = [b - a for a, b in zip(before, after)]
            self.untraced_ops_per_s = len(plain) / plain_s
        self.peak_rss = trace.peak_rss_mb(procs())
        saved = list(sys.path)
        from tools.check_correctness import normalize

        sys.path[:] = saved  # the tool prepends its own checkout path on import

        bad = self.work.check(normalize)
        failed = [r for r in records if _failed(r, bad)]
        self.info["failed_share"] = len(failed) / len(records)
        self.info["failures"] = sorted(
            {f"{k[1]} (pass {k[0]})" if k[0] is not None else k[1]: v for k, v in bad.items()}.items()
        ) + sorted({r.name: r.error for r in records if r.error}.items())
        self.traced = (records, elapsed)
        metrics = {} if self.trace else self.end_to_end(records, elapsed)
        result = {
            "correct": not failed and not bad,
            "attempted": len(records),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, self.info

    def finish_trace(self, result: dict) -> None:
        """Per-pass layer metrics of the traced window. Runs after the
        session stops, which completes the event log."""
        from perfbench import trace

        records, elapsed = self.traced
        n_pass = len(records) / self.ops_per_pass
        windows = [(r.t0, r.t1) for r in records]
        self_s, calls = trace.layer_totals(self.tracer.spans, windows)
        [log_path] = [os.path.join(self.event_dir, f) for f in os.listdir(self.event_dir)]
        log = trace.parse_event_log(log_path)
        per_op = trace.jobs_in(log, windows)
        counters = trace.scheduler_totals(log, [j for js in per_op.values() for j in js])
        ops_per_s = len(records) / elapsed
        jvm_cpu, py_cpu, drv_cpu, wbytes = self.proc_delta
        snap = self.snapshot_files
        m = {
            "session.get_spark_s": (self.setup_times["session.get_spark_s"], "s", False),
            "session.prime_s": (self.setup_times["session.prime_s"], "s", False),
            "entry.build_s": (sum(r.build_s for r in records), "s", True),
            "entry.action_s": (sum(r.action_s for r in records), "s", True),
            "driver.nojob_s": (trace.nojob_seconds(log, windows, per_op), "s", True),
            "sources.readers.self_s": (self_s.get("sources.readers", 0.0), "s", True),
            "sources.readers.calls": (calls.get("sources.readers", 0), "count", True),
            "sources.snapshots.self_s": (self_s.get("sources.snapshots", 0.0), "s", True),
            "sources.snapshots.calls": (calls.get("sources.snapshots", 0), "count", True),
            "sources.snapshots.files_added": (snap[0], "count", True),
            "sources.snapshots.bytes_added": (snap[1], "B", True),
            "sources.snapshots.files_removed": (snap[2], "count", True),
            "proc.io_write_bytes": (wbytes, "B", True),
            **{f"operators.{o}.self_s": (self_s.get(f"operators.{o}", 0.0), "s", True)
               for o in OPERATOR_LAYERS},
            "ml.self_s": (self_s.get("ml", 0.0), "s", True),
            "functions.self_s": (self_s.get("functions", 0.0), "s", True),
            "streaming.self_s": (self_s.get("streaming", 0.0), "s", True),
            **{f"catalyst.{ph}_ms": (sum(r.catalyst_ms.get(ph, 0) for r in records), "ms", True)
               for ph in ("analysis", "optimization", "planning")},
            **{k: (v, _unit(k), not k.endswith("_share")) for k, v in counters.items()},
            "proc.jvm_cpu_s": (jvm_cpu, "s", True),
            "proc.python_cpu_s": (py_cpu, "s", True),
            "proc.driver_cpu_s": (drv_cpu, "s", True),
            "trace.overhead_share": (1.0 - ops_per_s / self.untraced_ops_per_s, "ratio", False),
        }
        result["metrics"] = {
            k: {"value": v / n_pass if per_pass else v, "unit": u}
            for k, (v, u, per_pass) in m.items()
        }
        self.info["traced_passes"] = n_pass

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for every process."""
        from perfbench import trace

        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        pids = [self.jvm_pid, *trace.descendants(self.jvm_pid)]
        spark, self.spark = self.spark, None
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "B"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def _steal_s() -> float:
    """Seconds the hypervisor ran something else while our cores wanted to
    run (the ``steal`` column of /proc/stat, summed over our cores)."""
    ours = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    ticks = 0
    with open("/proc/stat") as f:
        for line in f:
            fields = line.split()
            if fields and fields[0] in ours and len(fields) > 8:
                ticks += int(fields[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def _failed(rec, bad) -> bool:
    return bool(
        rec.error
        or (None, rec.name) in bad
        or (rec.pass_no, rec.name) in bad
        or (rec.dml and (rec.pass_no, "final_table") in bad)
    )


def _listing(table: str) -> dict[str, int]:
    """Relative path -> size of every file under ``table``."""
    out = {}
    for base, _, files in os.walk(table):
        for f in files:
            path = os.path.join(base, f)
            out[os.path.relpath(path, table)] = os.lstat(path).st_size
    return out


def _catalyst_ms(df) -> dict:
    """Analysis/optimization/planning ms of the frame's own query
    execution; forcing its physical plan records the last two."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            out[ph] = opt.get().durationMs()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, PKG))):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from bench import _foreign_spark_jvms  # noqa: E402 - needs ROOT on sys.path
    from perfbench import datagen

    os.environ["TZ"] = "UTC"
    time.tzset()
    work_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable

    import pyspark

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "spark_cores": spark_cores(), "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__, "commit": _commit(), "source": _source_digest(),
        "foreign_spark_jvms": [pid for pid, _ in _foreign_spark_jvms()],
    }
    bench = Bench(args, run_dir, datagen.ensure(os.path.join(work_root, "data"), SF))
    try:
        result, run_info = bench.run()
        bench.stop()
        if bench.trace:
            bench.finish_trace(result)
        info |= run_info
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    info["loadavg_end"] = os.getloadavg()
    if info["foreign_spark_jvms"]:
        print(f"perfbench: WARNING another Spark JVM was running: {info['foreign_spark_jvms']}",
              file=sys.stderr)
    for name, reason in info["failures"]:
        print(f"perfbench: FAILED {name}: {reason}", file=sys.stderr)
    print(json.dumps({"perfbench_info": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
