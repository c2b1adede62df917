"""AQP benchmark: time-to-answer, approximate-vs-exact cost and answer
quality through the engine's public API.

    python3 perfbench/run.py --workload interactive_sf0.1 --seed 1 \
        --seconds 20 --trace 0

One client drives ``AQEngine`` in a closed loop on ``local[<cores>]``
(see README.md in this directory for the workloads, the metric → layer
map and the protocol). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the full report (every metric, the failed ops by
name and the run-validity record); a copy with per-op records is written
to ``perfbench/.cache/out/``. The exit code is 0 when a result was
printed, 2 when the benchmark could not run at all.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
# A byte-for-byte copy of the engine's sf0.1 test fixture (TESTDATA.md),
# kept here because a run reads nothing outside its checkout.
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
DATA_ROWS = {
    "customer": 15_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
    "lineitem": 600_000,
    "nation": 25,
    "orders": 150_000,
    "part": 20_000,
    "region": 5,
    "supplier": 1_000,
}

# Two set-ups: the first launches the JVM, the second restarts the
# SparkContext inside it. Their median (the mean) keeps the JVM launch in
# setup_s and is as steady across runs as the median of three.
SETUP_REPEATS = 2
OP_TIMEOUT_S = 90.0
IDLE_LOAD = 1.0  # loadavg(1m) at or below which a start counts as idle
DRIVER_MEMORY = "1g"

# Metrics on the contract line (every workload reports each of them).
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "approx_over_exact": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "warmup_s": "s",
    "engine.run_s": "s",
    "engine.driver_s": "s",
    "engine.driver_share": "fraction",
    "plans.py4j_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.max_task_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.input_rows": "count",
}
# Every end-to-end metric of the full report, with its unit.
ALL_END_TO_END = {
    "setup_s": "s",
    "setup_wall_s": "s",
    "ops_per_s": "ops/s",
    "cpu_s_per_op": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "approx_over_exact": "ratio",
    "within_budget_s": "s",
    "build_s": "s",
    "rel_error_p50_pct": "%",
    "ci_halfwidth_p50_pct": "%",
    "ci_coverage": "fraction",
    "ops_failed_frac": "fraction",
    "peak_rss_mb": "MB",
}


class BenchError(Exception):
    """The benchmark cannot run (missing package, bad arguments)."""


# ---------------------------------------------------------------------------
# small helpers
# ---------------------------------------------------------------------------


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def mean(xs):
    xs = [x for x in xs if x is not None]
    return statistics.fmean(xs) if xs else None


TAIL_BEYOND = 10


def tail(xs: list[float]) -> tuple[float | None, float | None, int]:
    """Highest percentile with at least ten samples beyond it:
    ``(value, percentile, samples_beyond)``. Not measured (``None``)
    unless more than ten samples lie beyond the median: below that the
    "tail" would be the median or a lower percentile."""
    s = sorted(xs)
    if len(s) // 2 <= TAIL_BEYOND:
        return None, None, 0
    return s[len(s) - TAIL_BEYOND - 1], 100.0 * (len(s) - TAIL_BEYOND) / len(s), TAIL_BEYOND


def verify_data(data_dir: str) -> None:
    """Raise if an input table is missing or has the wrong row count."""
    import pyarrow.parquet as pq

    for name, n in DATA_ROWS.items():
        path = os.path.join(data_dir, f"{name}.parquet")
        if not os.path.isfile(path):
            raise BenchError(f"benchmark input {path} is missing")
        got = pq.ParquetFile(path).metadata.num_rows
        if got != n:
            raise BenchError(f"{path}: {got} rows, expected {n}")


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings: the co-tenant load no loadavg shows."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else None


def vm_hwm_kb(pid: int | str = "self") -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a /proc stat file."""
    try:
        with open(path) as fh:
            head, _, rest = fh.read().rpartition(")")
    except OSError:
        return None
    return head.partition("(")[2], rest.split()


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (read from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat(f"/proc/{d}/stat")
        if st is not None:
            children.setdefault(int(st[1][1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; SIGKILL the ones that outlive
    ``timeout`` and wait for those too."""
    import signal

    for last in (False, True):
        deadline = time.time() + (5.0 if last else timeout)
        while pids and time.time() < deadline:
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.05)
        if not pids or last:
            return
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


class WorkCpu:
    """A reading of the CPU ticks (user + system) of this process and
    every process below it, less those of the JVM's JIT compiler threads.

    Summed over the tree, every process is counted once: an exited
    child's time is in its parent's. The JIT compiles in the background,
    on invocation counts and queue lengths, so how much of its work lands
    in a window changes from run to run: 1-4 of the 4-8 CPU seconds of a
    set-up, more when the hypervisor steals CPU. The other threads do
    the work the window asked for."""

    JIT = ("C1 Compiler", "C2 Compiler")  # thread names (/proc comm)

    def __init__(self):
        pids = [os.getpid()] + _descendants(os.getpid())
        self.ticks = 0
        self.jit: dict[tuple[int, str], int] = {}
        for pid in pids:
            st = _stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            self.ticks += sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and st[0].startswith(self.JIT):
                    self.jit[(pid, tid)] = int(st[1][11]) + int(st[1][12])

    def since(self, start: "WorkCpu") -> float:
        """CPU seconds from ``start`` to this reading, JIT threads left
        out. A compiler thread that exits in between (the JVM stops idle
        ones) is not seen, and its time in the window counts as work."""
        jit = sum(t - start.jit.get(k, 0) for k, t in self.jit.items())
        return (self.ticks - start.ticks - jit) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    st = _stat(f"/proc/{pid}/stat")
    return st is not None and st[1][0] != "Z"


def _prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout and put the
    package on the Python workers' path (``mapInArrow`` kernels import it
    in the worker)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable to spark.local.dir when it is set.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    import tempfile

    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # No hsperfdata files in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------------------
# one operation
# ---------------------------------------------------------------------------


class Runner:
    """Owns the session, the engine and the instruments of one run."""

    def __init__(self, data_dir: str, run_dir: str, trace: bool):
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.eventlog_dir = os.path.join(run_dir, "eventlog")
        self.spark = None
        self.engine = None
        self.counter = None
        from perfbench.trace import Spans

        self.spans = Spans()
        self.op_root: dict[str, int] = {}

    # -- session -------------------------------------------------------------

    def start(self) -> dict:
        from approximatequeryengine_spark import AQEngine, get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        self.spark = get_spark(app_name="aqe-perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        self.engine = AQEngine(self.spark, self.data_dir)
        t2 = time.time()
        return {"session_start_s": t1 - t0, "catalog_register_s": t2 - t1}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.engine = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def shutdown_jvm(self) -> None:
        """Stop the gateway JVM, wait for it, then wait for the Python
        worker processes it started (they exit when it does)."""
        import subprocess

        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        workers = _descendants(proc.pid) if proc is not None else []
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        _wait_gone(workers, timeout=15.0)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- operations ----------------------------------------------------------

    def parse_frontend(self, sql: str) -> None:
        """The frontend calls ``AQEngine.run`` makes on ``sql``, made
        directly so their cost is measured apart from the run."""
        from approximatequeryengine_spark.catalog import TABLES
        from approximatequeryengine_spark.frontend.approx_sql import (
            parse_within_marker,
            rewrite_approx_sql,
        )
        from approximatequeryengine_spark.frontend.dialect import parse_query

        if parse_query(sql) is None:
            keys = dict(TABLES)
            keys.update(self.engine.catalog._extra_keys)
            if parse_within_marker(sql, keys) is None:
                rewrite_approx_sql(sql, keys)

    def execute(self, op, timed: bool) -> dict:
        """Send one op; returns its record (wall, answer rows, error).

        ``marks`` collects the op's child spans: ``frontend.parse`` (traced
        queries only), ``engine.run`` (the API call) and ``result.collect``."""
        from approximatequeryengine_spark.workload import QUERIES

        sc = self.spark.sparkContext
        rec: dict = {"op": op.id, "kind": op.kind, "check": op.check,
                     "loadavg1": os.getloadavg()[0]}
        traced = self.trace and timed
        marks: list[tuple[str, float, float]] = []

        def timed_call(name: str, fn, *args, **kwargs):
            a = time.time()
            out = fn(*args, **kwargs)
            marks.append((name, a, time.time()))
            return out

        sc.setJobGroup(op.id, op.id)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [op.id])
        timer.start()
        if traced:
            self.counter.take()
            self.counter.active = True
        df = None
        t0 = time.time()
        try:
            if op.kind == "query":
                if traced:
                    timed_call("frontend.parse", self.parse_frontend, op.call["sql"])
                res = timed_call("engine.run", self.engine.run, op.call["sql"],
                                 **op.call["kwargs"])
                df = res.df
                if res.value is None:
                    rec["rows"] = [r.asDict() for r in timed_call("result.collect", df.collect)]
                else:
                    rec["rows"] = [{op.value_col: res.value, "ci_lower": res.ci_lower,
                                    "ci_upper": res.ci_upper, "n_samples": res.samples_used}]
                rec.update(fraction=res.fraction, iterations=res.iterations, method=res.method)
            elif op.kind == "build":
                rec["path"] = timed_call("engine.run", getattr(self.engine, op.call["method"]),
                                         *op.call["args"], **op.call["kwargs"])
            else:
                if op.kind == "probe":
                    df = timed_call("engine.run", getattr(self.engine, op.call["method"]),
                                    *op.call["args"], **op.call["kwargs"])
                else:
                    df = timed_call("engine.run", QUERIES[op.call["entry"]],
                                    self.spark, self.data_dir)
                rows = timed_call("result.collect", df.collect)
                rec["rows"] = [r.asDict() for r in rows] if op.kind == "probe" else rows
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            rec["timed_out"] = not timer.is_alive()
        t1 = time.time()
        timer.cancel()
        rec.update(wall_s=t1 - t0, start=t0, end=t1)
        durations = {name: b - a for name, a, b in marks}
        rec["run_s"] = durations.get("engine.run")
        if traced:
            self.counter.active = False
            rec["py4j_calls"] = self.counter.take()
            rec["parse_s"] = durations.get("frontend.parse")
            root = self.spans.add("op", op.id, t0, t1)
            self.op_root[op.id] = root
            for name, a, b in marks:
                self.spans.add(name, op.id, a, b, root)
        if df is not None and "error" not in rec:
            if op.kind == "entry":
                rec["columns"] = df.columns
                rec["dtypes"] = dict(df.dtypes)
            if traced:
                from perfbench.trace import catalyst_phases

                rec["catalyst"] = catalyst_phases(df)
        return rec


# ---------------------------------------------------------------------------
# references and checks
# ---------------------------------------------------------------------------


class _Collected:
    """A registry entry's answer, collected inside the timed span, in the
    shape ``tools/check_entry.check_query`` reads from a DataFrame, so the
    answer is compared without running the entry a second time."""

    def __init__(self, rec: dict):
        self.columns, self.dtypes, self._rows = rec["columns"], rec["dtypes"], rec["rows"]

    def collect(self):
        return self._rows


class _OracleCache:
    """A DuckDB connection whose registry-oracle answers are kept next to
    the run outputs. Entries take no seeded constant, so an answer is a
    function of the oracle text and the (fixed) data; computing the five
    oracles costs several seconds a run."""

    def __init__(self, con):
        self.con = con
        self.table = None

    def execute(self, sql: str):
        import hashlib

        import pyarrow.parquet as pq

        key = hashlib.sha1(sql.encode()).hexdigest()[:16]
        path = os.path.join(CACHE, "oracle", f"{key}.parquet")
        if os.path.exists(path):
            self.table = pq.read_table(path)
        else:
            self.table = self.con.execute(sql).fetch_arrow_table()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp{os.getpid()}"
            pq.write_table(self.table, tmp)
            os.replace(tmp, path)
        return self

    def fetch_arrow_table(self):
        return self.table


def check_all(ops: dict, recs: list[dict], data_dir: str) -> None:
    """Fill ``rec['failures']`` and ``rec['estimates']`` for every record."""
    from approximatequeryengine_spark.workload import ORACLE
    from perfbench import gate
    from tools.check_entry import check_query, make_duck

    con = make_duck(data_dir)
    con.execute("SET enable_progress_bar = false")
    oracles = _OracleCache(con)
    ref_cache: dict[str, list[dict]] = {}

    def ref_rows(sql: str) -> list[dict]:
        if sql not in ref_cache:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            ref_cache[sql] = [dict(zip(names, r)) for r in cur.fetchall()]
        return ref_cache[sql]

    by_id = {r["op"]: r for r in recs}
    for rec in recs:
        op = ops[rec["op"]]
        if "error" in rec:
            rec["failures"] = [("timed out: " if rec.get("timed_out") else "raised: ")
                               + rec["error"]]
            continue
        if op.check == "build":
            v = gate.check_build(rec["path"])
        elif op.check == "entry":
            name = op.call["entry"]
            reason, _ = check_query(None, oracles, name, lambda *_: _Collected(rec),
                                    ORACLE.get(name), data_dir)
            v = gate.Verdict([reason] if reason else [])
        elif op.check.startswith("index"):
            twin = by_id.get(op.twin or "")
            twin_value = None
            if twin and "error" not in twin and twin.get("rows"):
                tv = twin["rows"][0].get(ops[twin["op"]].value_col)
                twin_value = float(tv) if tv is not None else None
            v = gate.check_index(rec["rows"], ref_rows(op.ref_sql), op.check, twin_value)
            if op.check == "index_route":
                rec["route"] = rec["rows"][0].get("path") if rec["rows"] else None
        elif op.check == "exact":
            v = gate.check_exact(rec["rows"], op.value_col, op.group_cols, ref_rows(op.ref_sql))
        else:
            v = gate.check_approx(rec["rows"], op.value_col, op.group_cols,
                                  ref_rows(op.ref_sql), op.budget_pct, rec.get("fraction"))
            rec["n_samples"] = sum(int(r.get("n_samples") or 0) for r in rec["rows"])
        rec["failures"] = v.failures
        rec["estimates"] = [(e.estimate, e.lo, e.hi, e.exact) for e in v.estimates]
    con.close()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(ops: dict, recs: list[dict], setups: list[dict], rss_mb: float,
               measure_cpu_s: float) -> dict:
    from perfbench.gate import Estimate

    done = [r for r in recs if "error" not in r]
    answers = [r["wall_s"] for r in done if ops[r["op"]].kind != "build"]
    by_id = {r["op"]: r for r in done}
    approx_w = exact_w = 0.0
    for r in done:
        twin = ops[r["op"]].twin
        # Budgeted answers are timed by within_budget_s: their wall is set
        # by how many rungs the seeded budget needs, not by a fraction.
        if twin and twin in by_id and ops[r["op"]].check != "within":
            approx_w += r["wall_s"]
            exact_w += by_id[twin]["wall_s"]
    ests = [Estimate(*e) for r in recs for e in r.get("estimates", [])]
    rel = [abs(e.estimate - e.exact) / abs(e.exact) * 100.0 for e in ests if e.exact]
    hw = [e.halfwidth / abs(e.estimate) * 100.0 for e in ests if e.estimate]
    failed = sum(1 for r in recs if r.get("failures"))
    t, pct, beyond = tail(answers)
    timed_wall = sum(r["wall_s"] for r in recs)
    return {
        "setup_s": median([s["setup_cpu_s"] for s in setups]),
        "setup_wall_s": median([s["setup_wall_s"] for s in setups]),
        "ops_per_s": len(done) / timed_wall if timed_wall else None,
        "cpu_s_per_op": measure_cpu_s / len(done) if done else None,
        "latency_p50_s": median(answers),
        "latency_tail_s": t,
        "latency_tail_pct": pct,
        "latency_tail_beyond": beyond,
        "latency_samples": len(answers),
        "approx_over_exact": approx_w / exact_w if exact_w else None,
        "within_budget_s": median([r["wall_s"] for r in done if ops[r["op"]].check == "within"]),
        "build_s": median([r["wall_s"] for r in done if ops[r["op"]].kind == "build"]),
        "rel_error_p50_pct": median(rel),
        "ci_halfwidth_p50_pct": median(hw),
        "ci_coverage": sum(e.covered for e in ests) / len(ests) if ests else None,
        "ops_failed_frac": failed / len(recs) if recs else None,
        "peak_rss_mb": rss_mb,
    }


def per_layer(ops: dict, recs: list[dict], setups: list[dict], stats: dict,
              jobs: dict, data_dir: str) -> dict:
    from perfbench.trace import EXEC_KEYS, clip, union_length

    done = [r for r in recs if "error" not in r]
    by_id = {r["op"]: r for r in done}
    zero = dict.fromkeys(EXEC_KEYS, 0.0)
    ex = {r["op"]: stats.get(r["op"], zero) for r in done}
    for r in done:
        busy = union_length(clip([(j["start"], j["end"]) for j in jobs.get(r["op"], [])],
                                 r["start"], r["end"]))
        r["driver_s"] = r["wall_s"] - busy
    out: dict = {
        "session.start_s": median([s["session_start_s"] for s in setups]),
        "catalog.register_s": median([s["catalog_register_s"] for s in setups]),
        "warmup_s": median([s["warmup_s"] for s in setups]),
        "frontend.parse_s": median([r.get("parse_s") for r in done]),
        "engine.run_s": median([r["run_s"] for r in done]),
        "engine.driver_s": median([r["driver_s"] for r in done]),
        "engine.driver_share": median([r["driver_s"] / r["wall_s"] for r in done
                                       if r["wall_s"] > 0]),
        "plans.py4j_calls": median([r.get("py4j_calls") for r in done]),
    }
    # Catalyst phases and task durations come in whole milliseconds, so
    # their per-op median often repeats exactly; the mean does not.
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = mean([r.get("catalyst", {}).get(phase) for r in done])
    out["exec.max_task_s"] = mean([ex[r["op"]]["max_task_s"] for r in done])
    for k in ("jobs", "stages", "tasks", "job_s", "task_s", "task_cpu_s",
              "input_bytes", "input_rows", "shuffle_write_bytes"):
        out[f"exec.{k}"] = median([ex[r["op"]][k] for r in done])
    # GC time is summed over the run: per-op medians are almost always 0.
    out["exec.gc_s"] = sum(ex[r["op"]]["gc_s"] for r in done)

    def with_twin(r):
        t = ops[r["op"]].twin
        return by_id.get(t) if t else None

    sampled = [r for r in done if ops[r["op"]].check == "approx" and r.get("n_samples")]
    out["sampling.read_amplification"] = median(
        [ex[r["op"]]["input_rows"] / r["n_samples"] for r in sampled])
    out["sampling.input_bytes_frac"] = median(
        [ex[r["op"]]["input_bytes"] / ex[t["op"]]["input_bytes"]
         for r in sampled if (t := with_twin(r)) and ex[t["op"]]["input_bytes"]])
    within = [r for r in done if ops[r["op"]].check == "within"]
    out["adaptive.rungs"] = median([r.get("iterations") for r in within])
    out["adaptive.final_fraction"] = median([r.get("fraction") for r in within])
    out["adaptive.jobs"] = median([ex[r["op"]]["jobs"] for r in within])
    out["adaptive.read_amplification"] = median(
        [ex[r["op"]]["input_rows"] / r["n_samples"] for r in within if r.get("n_samples")])

    builds = [r for r in done if ops[r["op"]].kind == "build"]
    for kind in sorted({ops[r["op"]].tags["kind"] for r in builds}):
        out[f"sources.build_s.{kind}"] = median(
            [r["wall_s"] for r in builds if ops[r["op"]].tags["kind"] == kind])
    if builds:
        sizes = []
        for r in builds:
            n_bytes = n_files = 0
            for dirpath, _, files in os.walk(r["path"]):
                n_files += len(files)
                n_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            base = os.path.getsize(os.path.join(data_dir, ops[r["op"]].tags["base"] + ".parquet"))
            sizes.append((n_bytes, n_files, n_bytes / base))
        out["sources.bytes_written"] = median([s[0] for s in sizes])
        out["sources.files_written"] = median([s[1] for s in sizes])
        out["sources.write_amplification"] = median([s[2] for s in sizes])
    probes = [r for r in done if ops[r["op"]].kind == "probe"]
    if probes:
        out["sources.probe_input_bytes"] = median([ex[r["op"]]["input_bytes"] for r in probes])
        out["sources.probe_skip_frac"] = median(
            [1.0 - ex[r["op"]]["input_bytes"] / ex[t["op"]]["input_bytes"]
             for r in probes if (t := with_twin(r)) and ex[t["op"]]["input_bytes"]])
    entries = [r for r in done if ops[r["op"]].kind == "entry"]
    for name in sorted({ops[r["op"]].tags["entry"] for r in entries}):
        out[f"operators.entry_s.{name}"] = median(
            [r["wall_s"] for r in entries if ops[r["op"]].tags["entry"] == name])
    if entries:
        out["operators.python_rows"] = median([ex[r["op"]]["python_rows"] for r in entries])
        out["operators.python_bytes"] = median([ex[r["op"]]["python_bytes"] for r in entries])
    return out


NOT_MEASURED = {
    "latency_tail_s": f"no more than {TAIL_BEYOND} query, probe or entry walls lie beyond "
                      "the median in this run",
    "sampling.read_amplification": "only sampled dialect/marker queries have n_samples",
    "sampling.input_bytes_frac": "only sampled queries with an exact twin",
    "adaptive.rungs": "only WITHIN / error_pct queries climb rungs",
    "adaptive.final_fraction": "only WITHIN / error_pct queries climb rungs",
    "adaptive.jobs": "only WITHIN / error_pct queries climb rungs",
    "adaptive.read_amplification": "only WITHIN / error_pct queries climb rungs",
    "within_budget_s": "the workload sends no WITHIN / error_pct query",
    "build_s": "the workload builds no index",
    "rel_error_p50_pct": "the workload returns no answer with a CI",
    "ci_halfwidth_p50_pct": "the workload returns no answer with a CI",
    "ci_coverage": "the workload returns no answer with a CI",
}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool,
        all_designs: bool = False) -> tuple[dict, dict]:
    from perfbench import workloads

    if workload not in workloads.WORKLOADS:
        raise BenchError(f"unknown workload {workload!r}; one of {list(workloads.WORKLOADS)}")
    load_before = os.getloadavg()
    run_dir = os.path.join(CACHE, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir)
    try:
        import approximatequeryengine_spark  # noqa: F401
    except ImportError as e:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise BenchError(f"the engine package is not importable: {e}") from e
    data_dir = DATA_DIR
    verify_data(data_dir)
    build_root = os.path.join(run_dir, "builds")
    os.makedirs(build_root, exist_ok=True)

    runner = Runner(data_dir, run_dir, trace)
    setups: list[dict] = []
    warm_errors: list[str] = []
    recs: list[dict] = []
    ops: dict = {}
    jvm_hwm = self_hwm = None
    phases: dict[str, float] = {}
    setup_start = time.time()
    try:
        for i in range(SETUP_REPEATS):
            t0 = time.time()
            cpu0 = WorkCpu()
            s = runner.start()
            a = time.time()
            s["warm_ops"] = {}
            for op in workloads.warm_ops(workload):
                r = runner.execute(op, timed=False)
                s["warm_ops"][op.id] = r["wall_s"]
                if "error" in r:
                    warm_errors.append(f"{op.id}: {r['error']}")
            s["warmup_s"] = time.time() - a
            s["setup_wall_s"] = time.time() - t0
            s["setup_cpu_s"] = WorkCpu().since(cpu0)
            setups.append(s)
            if i < SETUP_REPEATS - 1:
                runner.stop()
        if trace:
            from perfbench.trace import Py4jCounter

            runner.counter = Py4jCounter()
        measure_start = time.time()
        cpu_start = WorkCpu()
        ticks_start = cpu_ticks()
        # A fixed number of whole rounds for the requested time: counting
        # rounds by the clock would let a slow round change what is measured.
        n_rounds = max(1, round(seconds / workloads.ROUND_SECONDS[workload]))
        designs = workloads.DESIGNS + (workloads.DEFECTIVE_DESIGNS if all_designs else ())
        for round_ops in itertools.islice(
                workloads.rounds(workload, seed, build_root, designs), n_rounds):
            for op in round_ops:
                ops[op.id] = op
                recs.append(runner.execute(op, timed=True))
        measure_wall = time.time() - measure_start
        measure_cpu = WorkCpu().since(cpu_start)
        measure_steal = steal_frac(ticks_start, cpu_ticks())
        # Peak RSS of the measured work only: read before the gate loads
        # DuckDB and the references into this process.
        self_hwm = vm_hwm_kb()
        phases["setup_s"] = measure_start - setup_start
        phases["measure_s"] = measure_wall
        if runner.counter is not None:
            runner.counter.close()
        jvm_pid = runner.jvm_pid()
        runner.stop()
        jvm_hwm = vm_hwm_kb(jvm_pid) if jvm_pid else None
    finally:
        runner.stop()
        runner.shutdown_jvm()

    a = time.time()
    check_all(ops, recs, data_dir)
    phases["check_s"] = time.time() - a
    rss_mb = ((self_hwm or 0) + (jvm_hwm or 0)) / 1024.0
    e2e = end_to_end(ops, recs, setups, rss_mb, measure_cpu)
    layers: dict = {}
    if trace:
        from perfbench.trace import parse_event_log

        stats, jobs = parse_event_log(runner.eventlog_dir)
        layers = per_layer(ops, recs, setups, stats, jobs, data_dir)
        runner.spans.attach_jobs(runner.op_root, jobs)
    load_after = os.getloadavg()
    failed = [{"op": r["op"], "why": r["failures"]} for r in recs if r.get("failures")]
    report = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "all_designs": all_designs,
        "attempted": len(recs),
        "failed": len(failed),
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in ALL_END_TO_END.items()},
        "latency_tail": {"percentile": e2e["latency_tail_pct"],
                         "samples_beyond": e2e["latency_tail_beyond"],
                         "samples": e2e["latency_samples"]},
        "failed_ops": failed,
        "warm_errors": warm_errors,
        "validity": {
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in load_after],
            "idle_start": load_before[0] <= IDLE_LOAD,
            "steal_frac": measure_steal,
            "vm_hwm_kb": {"driver": self_hwm, "jvm": jvm_hwm},
            "cores": runner.cores,
            "setups": setups,
            "measure_wall_s": measure_wall,
            "measure_cpu_s": measure_cpu,
            "phase_s": phases,
            "rounds": n_rounds,
        },
    }
    tag = "-all-designs" if all_designs else ""
    if trace:
        report["per_layer"] = layers
        untraced = os.path.join(CACHE, "out", f"{workload}-seed{seed}{tag}-trace0.json")
        if os.path.exists(untraced) and e2e["latency_p50_s"] is not None:
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["latency_p50_s"]["value"]
            report["tracing_overhead_s"] = e2e["latency_p50_s"] - base
    values = {**e2e, **layers}
    report["not_measured"] = {k: why for k, why in NOT_MEASURED.items()
                              if k in values and values[k] is None}
    out_dir = os.path.join(CACHE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-seed{seed}{tag}-trace{int(trace)}")
    with open(stem + ".json", "w") as fh:
        json.dump({**report, "ops": [
            {**{k: v for k, v in r.items() if k != "rows"},
             "call": ops[r["op"]].call, "tags": ops[r["op"]].tags} for r in recs]},
            fh, default=str)
    if trace:
        runner.spans.write(stem + "-spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    wanted = PER_LAYER if trace else END_TO_END
    src = layers if trace else e2e
    missing = [k for k in wanted if src.get(k) is None or not math.isfinite(src[k])]
    if missing:
        raise BenchError(f"metrics not measured: {missing}; see {stem}.json")
    result = {
        "correct": not failed and not warm_errors,
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": {k: {"value": float(src[k]), "unit": u} for k, u in wanted.items()},
    }
    return report, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-designs", action="store_true",
                    help="also send the sampling designs with known defects "
                         "(workloads.DEFECTIVE_DESIGNS); their failing ops are reported")
    args = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        report, result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                             args.all_designs)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    except Exception:  # noqa: BLE001 - report, print no result
        traceback.print_exc()
        return 2
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
