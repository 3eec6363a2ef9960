"""Benchmark entry point.

    python3 perfbench/run.py --workload {sql_select,sql_dml,push_cycles}
        --seed N --seconds S --trace {0,1}

Run from the repository root: the engine package is imported from the
current directory, and all working files go under ``.perfbench/`` there.

One closed-loop client drives one Spark session pinned to ``local[N]``
(N = min(4, usable CPUs)) with N shuffle partitions. A run:

1. set-up: session start, input generation from the seed and the DuckDB
   oracle, store seeding (repeated ``SEED_REPS`` times into fresh stores;
   set-up time counts the median repetition), the workload's initial
   sync, and ``warm_ops`` untimed warm-up ops. The count is fixed per
   workload, so every run times the same stretch of the JIT's warm-up
   curve. On sql_select and sql_dml it is where op latency had fallen to
   within about 15% of later ops in calibration runs on a 4-core host;
   push_cycles gets its initial sync and one more cycle. Longer warm-ups
   would not fit the time budget of a full set of runs;
2. timed ops for ``--seconds`` seconds (at least ``min_ops``), each one
   checked against the oracle outside its timed span, with
   ``gc.collect()`` between ops;
3. the last line of stdout: ``{"correct", "attempted", "failed",
   "metrics"}``. ``--trace 0`` reports the end-to-end metrics: set-up
   time, op latency and throughput relative to a calibration job (see
   ``CALIBRATION``), Spark jobs per op, store size and the share of ops
   whose check passed; the wall-clock latencies and host figures are
   printed on the lines before. ``--trace 1`` alternates untraced and
   traced ops and reports the per-layer metrics from the traced ones
   (``tracing.py``).

Exit code 0 when every check passed, 1 when a check failed, 2 when the
engine package cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import gc
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
sys.path.insert(0, ROOT)

SEED_REPS = 3
# A fixed plain-Spark job that does not go through the engine. Every op
# runs right after one run of it, and one more run follows the last op;
# an op's relative latency is its latency over the geometric mean of the
# calibration runs on either side. On a shared host whose speed drifts
# (CPU steal, busy neighbours), both move alike: in calibration on a
# 4-core VM, a 3-process CPU hog slowed sql_dml ops by 64% and moved
# their relative latency by 1%.
CALIBRATION = (
    "select id % 97 as k, count(*) as c, sum(id) as s "
    "from range(0, 200000, 1, {n}) group by 1",
    "select a.k, count(*) as c "
    "from (select id % 13 as k from range(0, 50000, 1, {n})) a "
    "join (select id % 13 as k from range(0, 500, 1, {n})) b on a.k = b.k "
    "group by 1",
)
CALIBRATION_WARM_UP = 8  # untimed runs of it during set-up
MAX_RUN_S = 150.0  # stop timed ops early rather than pass the 180 s limit
MAX_CORES = 4
WORKLOAD_NAMES = ("sql_select", "sql_dml", "push_cycles")


def _host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def _loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return 0.0


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 of ``n`` samples above
    it; 100 (the maximum) when no percentile above the median has that."""
    if n < 20:
        return 100
    return math.floor(100 * (n - 10) / n)


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def start_spark(work: str, cores: int):
    from dbt_omnata_push_spark.engine.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # Spark's shuffle and block files
    # Python workers import the engine and the timing connectors by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temporary files (and its hsperfdata file) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # The JVM exits when its stdin closes; its Python workers follow.
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def spark_counts(sc, group: str) -> dict[str, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped: its output was reused
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed": failed}


def inode_sizes(root: str) -> dict[int, int]:
    """inode -> size of every file under ``root``; hard links count once."""
    out: dict[int, int] = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            out[st.st_ino] = st.st_size
    return out


@dataclasses.dataclass
class Op:
    """What the loop keeps about one op."""

    n: int  # op number, counting warm-up ops
    seconds: float
    cal: float  # seconds of the calibration run just before the op
    ok: bool
    rows: int
    traced: bool
    group: str  # Spark job group of the timed span


class Run:
    """One benchmark run: set-up, warm-up, timed loop and the report."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.ok = True
        self.tracer = None

    def tracer_span(self, name: str):
        """A span around benchmark-side work, when the op is traced."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def fail(self, msg: str) -> None:
        self.ok = False
        print(f"check failed: {msg}", file=sys.stderr, flush=True)

    def execute(self) -> dict:
        spark = start_spark(self.work, self.cores)
        try:
            return self._measure(spark)
        finally:
            stop_spark(spark)

    def _measure(self, spark) -> dict:
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS

        args = self.args
        wl = WORKLOADS[args.workload](spark, self.work, args.seed, self)
        wl.prepare()
        reps = []
        for r in range(SEED_REPS):
            t = time.perf_counter()
            wl.seed_store(os.path.join(self.work, f"store{r}"))
            reps.append(time.perf_counter() - t)
        if args.trace:
            self.tracer = Tracer()
            self.tracer.install(wl.engine)
        wl.start()

        for _ in range(CALIBRATION_WARM_UP):
            self._calibrate(spark)
        warm = [self._op(spark, wl, n, traced=False) for n in range(wl.warm_ops)]
        setup_s = time.perf_counter() - T_START - sum(reps) + statistics.median(reps)

        steal0, total0 = _host_cpu()
        timed: list[Op] = []
        store_mb = None
        written = user_bytes = 0
        min_ops = wl.min_ops * (2 if self.tracer else 1)
        t_loop = time.perf_counter()
        while (
            time.perf_counter() - t_loop < args.seconds or len(timed) < min_ops
        ) and time.perf_counter() - T_START < MAX_RUN_S:
            n = len(warm) + len(timed)
            traced = self.tracer is not None and len(timed) % 2 == 1
            before = inode_sizes(wl.store_root) if traced else None
            op = self._op(spark, wl, n, traced)
            timed.append(op)
            if traced:
                written += sum(
                    size for ino, size in inode_sizes(wl.store_root).items()
                    if ino not in before
                )
                user_bytes += wl.user_bytes(op.rows)
            if len(timed) == 1:  # a fixed point, whatever the run's length
                store_mb = sum(inode_sizes(wl.store_root).values()) / 1e6
        cal_end = self._calibrate(spark)
        steal1, total1 = _host_cpu()
        cals = [op.cal for op in timed] + [cal_end]
        rel = [op.seconds / math.sqrt(a * b) for op, a, b in zip(timed, cals, cals[1:])]
        if not wl.finish():
            self.fail(f"{args.workload}: final state differs from the oracle")
        time.sleep(0.2)  # let the listener bus catch up before reading counts
        counts = {op.n: spark_counts(spark.sparkContext, op.group) for op in timed}
        host = {
            "host.steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "host.loadavg_1m": _loadavg(),
            "host.nproc": os.cpu_count(),
            "host.spark_cores": self.cores,
        }
        print("host: " + " ".join(f"{k}={v}" for k, v in host.items()), flush=True)
        print(
            f"seed reps: {_fmt(reps, 1)} s; warm-up ops: {_fmt(warm)} ms; "
            f"timed ops: {_fmt(timed)} ms; calibration: {_fmt(cals, scale=1e3)} ms",
            flush=True,
        )
        ok_ops = sum(op.ok for op in timed)
        if self.tracer:
            self.tracer.dump(
                os.path.join(
                    os.path.dirname(self.work),
                    f"spans-{args.workload}-seed{args.seed}.jsonl",
                )
            )
            metrics = self._layer_metrics(
                wl, timed, cals, counts, host, written, user_bytes
            )
        else:
            metrics = self._e2e_metrics(wl, timed, rel, counts, setup_s, store_mb)
        return {
            "correct": self.ok and ok_ops == len(timed),
            "attempted": len(timed),
            "failed": len(timed) - ok_ops,
            "metrics": metrics,
        }

    def _op(self, spark, wl, n: int, traced: bool) -> Op:
        """Run op ``n``: untimed input arrival, the timed op under its own
        job group, then the untimed check."""
        sc = spark.sparkContext
        sc.setJobGroup("perfbench-untimed", "untimed")
        wl.before_op(n)
        gc.collect()
        cal = self._calibrate(spark)
        group = f"perfbench-op-{n}"
        sc.setJobGroup(group, "timed op")
        if traced:
            self.tracer.op_id = n
            self.tracer.open("op")
        t = time.perf_counter()
        try:
            raw = wl.op(n)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            raw = e
        seconds = time.perf_counter() - t
        if traced:
            self.tracer.close("op")
            self.tracer.op_id = None
        sc.setJobGroup("perfbench-untimed", "untimed")
        ok, rows = self._check(wl, n, raw)
        return Op(n, seconds, cal, ok, rows, traced, group)

    def _calibrate(self, spark) -> float:
        t = time.perf_counter()
        for q in CALIBRATION:
            spark.sql(q.format(n=self.cores)).collect()
        return time.perf_counter() - t

    def _check(self, wl, n: int, raw) -> tuple[bool, int]:
        if isinstance(raw, Exception):
            self.fail(f"op {n} raised {type(raw).__name__}: {raw}")
            return False, 0
        try:
            problem, rows = wl.check(n, raw)
        except Exception as e:  # noqa: BLE001 — a broken check is a failure
            problem, rows = f"check raised {type(e).__name__}: {e}", 0
        if problem:
            self.fail(f"op {n}: {problem}")
            return False, rows
        return True, rows

    def _e2e_metrics(self, wl, timed, rel, counts, setup_s, store_mb) -> dict:
        # The percentile follows the workload's op count, not this run's,
        # so that runs of one workload report the same percentile.
        p = tail_percentile(wl.min_ops)
        lat = [op.seconds for op in timed]
        rows = sum(op.rows for op in timed)
        print(
            f"wall clock: op_p50_ms={statistics.median(lat) * 1e3} "
            f"op_tail_ms={percentile(lat, p) * 1e3} ops_per_s={len(lat) / sum(lat)} "
            f"rows_per_s={rows / sum(lat)}; tails are p{p} of {len(timed)} timed ops",
            flush=True,
        )
        m = {
            "setup_s": (setup_s, "s"),
            "op_p50_rel": (statistics.median(rel), "ratio"),
            "op_tail_rel": (percentile(rel, p), "ratio"),
            "ops_per_cal": (len(rel) / sum(rel), "1/cal"),
            "rows_per_cal": (rows / sum(rel), "rows/cal"),
            "jobs_per_op": (statistics.median(c["jobs"] for c in counts.values()), "count"),
            "store_mb_end": (store_mb, "MB"),
            "ok_ops_frac": (sum(op.ok for op in timed) / len(timed), "frac"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _layer_metrics(self, wl, timed, cals, counts, host, written, user_bytes) -> dict:
        from perfbench.tracing import STORE_METHODS

        per_op = self.tracer.per_op()
        traced = [op.n for op in timed if op.traced]

        def med(fn):
            return statistics.median(fn(n) for n in traced)

        def self_ms(name):
            return med(lambda n: per_op[n].get(name, {}).get("self_ms", 0.0))

        def calls(name):
            return med(lambda n: per_op[n].get(name, {}).get("calls", 0))

        m: dict[str, tuple[float, str]] = {
            "sqlfront.transpile_ms": (self_ms("sqlfront.transpile"), "ms"),
            "sqlfront.calls_per_op": (calls("sqlfront.transpile"), "count"),
            "dag.query_self_ms": (self_ms("dag.query"), "ms"),
            "dag.run_self_ms": (self_ms("dag.run"), "ms"),
        }
        for kind in ("insert", "update", "merge", "delete"):
            m[f"dml.{kind}_ms"] = (self_ms(f"dml.{kind}"), "ms")
        for meth in STORE_METHODS:
            m[f"store.{meth}_ms"] = (self_ms(f"store.{meth}"), "ms")
            m[f"store.{meth}_calls"] = (calls(f"store.{meth}"), "count")
        m["store.bytes_written_per_user_byte"] = (
            written / user_bytes if user_bytes else 0.0, "ratio"
        )
        m["store.versions_end"] = (wl.versions(), "count")
        for kind in ("incremental", "omnata_push"):
            m[f"materialize.{kind}_ms"] = (self_ms(f"materialize.{kind}"), "ms")
        conn = wl.connector_stats(traced)
        m["connector.load_batch_calls"] = (conn["load_batch_calls"], "count")
        m["connector.records_sent"] = (conn["records_sent"], "count")
        m["connector.batch_ms"] = (conn["batch_ms"], "ms")
        m["push.sent_per_logged"] = (conn["sent_per_logged"], "ratio")
        for key in ("jobs", "stages", "tasks"):
            m[f"spark.{key}_per_op"] = (med(lambda n: counts[n][key]), "count")
        m["spark.failed_tasks"] = (sum(c["failed"] for c in counts.values()), "count")
        m["spark.collect_ms"] = (self_ms("spark.collect"), "ms")
        m["host.steal_frac"] = (host["host.steal_frac"], "frac")
        m["host.calibration_ms"] = (statistics.median(cals) * 1e3, "ms")
        m["host.loadavg_1m"] = (host["host.loadavg_1m"], "load")
        untraced = [op.seconds for op in timed if not op.traced]
        m["op.wall_p50_ms"] = (statistics.median(untraced) * 1e3, "ms")
        m["trace.overhead_frac"] = (
            statistics.median(op.seconds for op in timed if op.traced)
            / statistics.median(untraced) - 1.0,
            "frac",
        )
        # Self times of all spans sum to the op's time by construction;
        # this is the share that falls inside an engine-layer span.
        m["trace.accounted_frac"] = (
            med(lambda n: 1.0 - per_op[n]["op"]["self_ms"] / per_op[n]["op"]["total_ms"]),
            "frac",
        )
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _fmt(values, digits: int = 0, scale: float = 1.0) -> str:
    xs = [v.seconds * 1e3 if isinstance(v, Op) else v * scale for v in values]
    return ", ".join(f"{x:.{digits}f}" for x in xs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import dbt_omnata_push_spark  # noqa: F401
    except ImportError as e:
        print(
            f"perfbench: cannot import the engine package from {ROOT}: {e}",
            file=sys.stderr,
        )
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"wall: {time.perf_counter() - T_START:.1f} s", flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
