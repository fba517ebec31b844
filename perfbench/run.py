"""Benchmark entry point: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 16 --trace 0

A run generates its input tables from one fixed data seed inside a
scratch directory of its own under the repository root, starts one Spark
session on ``local[<cores>]``, warms up with one pass over the workload's
queries (each result collected and checked against its DuckDB
``oracle_sql``) and then with four or five untimed noop passes, then
runs timed passes back to back until ``--seconds`` have passed.
Each timed execution is forced to its full result with
``df.write.format("noop")``.  ``--seed`` only permutes the query order
of every pass.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it records the run's provenance (seed, query orders,
engine versions, canary, per-query samples).  The scratch directory is
removed when the run ends.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nyc_taxi_data_prediction_pyspark_spark"
DRIVER_MEM = "1g"
DATA_SEED = 42  # the inputs are the same for every --seed
# warm-up: at least SETTLE_MIN untimed noop passes, then more until two in
# a row agree within SETTLE_TOL, at most SETTLE_MAX in all
SETTLE_MIN = 4
SETTLE_MAX = 5
SETTLE_TOL = 0.05
TAIL_BEYOND = 10  # samples a reported tail percentile must leave beyond it

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.calls": "count",
    "catalog.s": "s",
    "catalog.jobs": "count",
    "build.s": "s",
    "build.jobs": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "op.exchanges": "count",
    "op.smj": "count",
    "op.bhj": "count",
    "op.bnlj": "count",
    "op.shuffle_bytes": "bytes",
    "op.shuffle_records": "count",
    "op.spill_bytes": "bytes",
    "op.scan_rows": "count",
    "op.result_rows": "count",
    "op.scan_rows_per_result_row": "ratio",
    "py.calls": "count",
    "py.s": "s",
    "py.jobs": "count",
    "py.nodes": "count",
    "py.rows": "count",
    "py.bytes": "bytes",
    "iter.calls": "count",
    "iter.s": "s",
    "iter.jobs": "count",
    "text.calls": "count",
    "text.s": "s",
    "text.jobs": "count",
    "stream.calls": "count",
    "stream.s": "s",
    "stream.jobs": "count",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "warehouse.calls": "count",
    "warehouse.s": "s",
    "warehouse.jobs": "count",
    "write.files": "count",
    "write.bytes": "bytes",
    "write.bytes_per_input_byte": "ratio",
    "tmp.bytes_left": "bytes",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jobs.total": "count",
    "jobs.unattributed": "count",
    "trace.overhead_s": "s",
    "host.sched_20job_s": "s",
    "host.range_agg_s": "s",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


def tail_quantile(n: int, want: float = 0.9) -> float:
    """The highest quantile <= ``want`` that leaves TAIL_BEYOND samples
    beyond it, floored at the median."""
    return max(0.5, min(want, (n - TAIL_BEYOND) / n)) if n else want


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tree_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if os.path.join(dirpath, d) not in skip]
        for f in filenames:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> set[int]:
    kids, out, todo = _children_map(), set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and every process under
    this one, waiting until each has ended.  A run terminated inside a
    py4j call can leave the gateway broken, so a failed stop does not
    keep the processes from being stopped."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    steps = [spark.stop] + ([gateway.shutdown] if gateway is not None else [])
    for step in steps:
        try:
            step()
        except Exception as e:  # noqa: BLE001 - the processes are stopped below regardless
            print(f"perfbench: stopping Spark: {type(e).__name__}: {e}", file=sys.stderr)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in procs:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def prepare_env(work: str, cpus: int) -> dict[str, str]:
    """Point every scratch location of the engine, Spark and the JVM into
    the run's own directory and size the session for the host."""
    dirs = {k: os.path.join(work, k) for k in ("data", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["TZ"] = "UTC"
    time.tzset()
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM that builds the spark-submit command
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return dirs


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_canary(spark) -> dict[str, float]:
    """Host canary: cost set by the host and Spark build, not by the engine."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    for _ in range(20):
        spark.range(1).count()
    sched = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(10_000_000).select(F.sum(F.col("id") % 97)).collect()
    return {"host.sched_20job_s": sched, "host.range_agg_s": time.perf_counter() - t}


def engine_versions(spark) -> dict[str, str]:
    import platform

    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": str(spark.sparkContext._jvm.java.lang.System.getProperty("java.version")),
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


class Bench:
    """One benchmark run: inputs, session, warm-up, timed and traced passes."""

    def __init__(self, args, workload, work: str):
        self.args = args
        self.wl = workload
        self.work = work
        self.attempted = 0
        self.failures: list[dict] = []
        self.pass_walls: list[float] = []
        self.orders: list[list[str]] = []
        self.tmp_left: dict[int, int] = {}
        self.warmup_walls: dict[str, float] = {}
        self.settle_walls: list[float] = []
        self.ledger: list[dict] = []

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        import datagen

        cpus = cpu_count()
        self.dirs = prepare_env(self.work, cpus)
        os.chdir(self.work)
        t = time.perf_counter()
        self.table_bytes = datagen.write_tables(self.dirs["data"], DATA_SEED, self.wl.sf)
        self.datagen_s = time.perf_counter() - t

        import __spark_entry__ as entry
        from nyc_taxi_data_prediction_pyspark_spark.catalog import TABLES
        from nyc_taxi_data_prediction_pyspark_spark.session import get_spark
        from workloads import resolve

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=cpus)
        self.session_s = time.perf_counter() - t
        t_up = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cpus = cpus
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.names = resolve(self.wl.queries, self.registry)
        self.tables = TABLES
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.warmup_s = self.warm_up()
        # a collect() pass leaves the noop write path and much of the JIT
        # cold: the first noop pass after it runs ~25% slower than the next
        self.settle_walls.append(sum(self.run_pass(0, self.untraced).values()))
        self.warmup_s += self.settle_walls[0]
        self.setup_s = (t_up - T_START) - self.datagen_s + self.warmup_s
        self.settle()
        self.canary = run_canary(self.spark)

    def settle(self) -> None:
        """Further untimed noop passes: passes keep getting faster for
        several after the first (JIT).  A fixed minimum keeps the timed
        passes at the same point of that drift in every run, since host
        noise alone can make two early passes agree.  Their number depends
        on the host, so they are not part of setup_s."""
        while len(self.settle_walls) < SETTLE_MAX:
            self.settle_walls.append(sum(self.run_pass(0, self.untraced).values()))
            a, b = self.settle_walls[-2:]
            if len(self.settle_walls) >= SETTLE_MIN and abs(a - b) <= SETTLE_TOL * min(a, b):
                return

    def warm_up(self) -> float:
        """One pass at the workload's own scale in which every output is
        collected and checked."""
        import duckdb
        import oracle

        con = oracle.connect(self.dirs["data"], self.tables)
        spark_s = 0.0
        order = pass_order(self.names, self.args.seed, 0)
        self.orders.append(order)
        for name in order:
            self.attempted += 1
            t = time.perf_counter()
            try:
                df = self.registry[name](self.spark, self.dirs["data"])
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001 - a failing query is a result, not a crash
                self.fail(name, 0, f"{type(e).__name__}: {e}")
                continue
            finally:
                self.warmup_walls[name] = time.perf_counter() - t
                spark_s += self.warmup_walls[name]
            try:
                ocols, orows = oracle.oracle_rows(con, self.oracles[name])
            except duckdb.Error as e:
                self.fail(name, 0, f"oracle failed: {e}")
                continue
            reason = oracle.compare(cols, rows, ocols, orows)
            if reason:
                self.fail(name, 0, f"output differs from oracle: {reason}")
        con.close()
        return spark_s

    def fail(self, name: str, pass_no: int, reason: str) -> None:
        self.failures.append({"query": name, "pass": pass_no, "reason": reason[:500]})
        print(f"perfbench: {name} (pass {pass_no}) failed: {reason[:2000]}", file=sys.stderr)

    def check_ledger(self, row: dict) -> None:
        """Keep a traced query's job ledger row; per-layer job counts that
        do not add up to the scheduler's count fail the query."""
        row["sums"] = row["total"] == sum(row["by_layer"].values())
        self.ledger.append(row)
        if not row["sums"]:
            self.fail(row["query"], row["pass"],
                      f"job ledger: {row['total']} jobs, by layer {row['by_layer']}")

    # ------------------------------------------------------------ passes
    def run_pass(self, pass_no: int, run_query, after_query=None) -> dict[str, float]:
        """One pass over the queries in the seed's order for ``pass_no``;
        returns per-query walls.  ``run_query`` returns the wall time it
        measured, or None to have it measured here; an exception it
        raises is a failed execution.  ``after_query`` runs after each
        successful execution, outside the failure accounting and the wall."""
        order = pass_order(self.names, self.args.seed, pass_no)
        self.orders.append(order)
        walls = {}
        before = tree_bytes(self.work, skip=(self.dirs["data"], self.dirs["local"]))
        for name in order:
            self.attempted += 1
            t = time.perf_counter()
            try:
                walls[name] = run_query(name, pass_no)
            except Exception as e:  # noqa: BLE001 - a failing query is a result, not a crash
                self.fail(name, pass_no, f"{type(e).__name__}: {e}")
                continue
            if walls[name] is None:
                walls[name] = time.perf_counter() - t
            if after_query:
                after_query(name, pass_no)
        after = tree_bytes(self.work, skip=(self.dirs["data"], self.dirs["local"]))
        self.tmp_left[pass_no] = max(0, after - before)
        return walls

    def timed_passes(self, until: float) -> list[dict]:
        """Untraced passes back to back until ``until`` (perf_counter) has passed."""
        out = []
        while True:
            out.append(self.run_pass(1 + len(out), self.untraced))
            # start another pass only if it should end within half a pass of `until`
            typical = statistics.median(sum(p.values()) for p in out)
            if time.perf_counter() + typical / 2 > until:
                return out

    def untraced(self, name: str, pass_no: int) -> None:
        df = self.registry[name](self.spark, self.dirs["data"])
        df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------ results
    def end_to_end(self, passes: list[dict]) -> dict[str, float]:
        # a pass with a failed query is incomplete; if none is complete the
        # run is not correct and pass_s falls back to the partial sums
        complete = [sum(p.values()) for p in passes if len(p) == len(self.names)]
        complete = complete or [sum(p.values()) for p in passes]
        samples = [w for p in passes for w in p.values()]
        self.query_medians = {
            n: statistics.median(ws) for n in self.names if (ws := [p[n] for p in passes if n in p])
        }
        self.tail_q = tail_quantile(len(samples))
        self.n_samples = len(samples)
        self.pass_walls = [sum(p.values()) for p in passes]
        return {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(complete),
            "query_p50_s": quantile(samples, 0.5) if samples else 0.0,
            "query_p90_s": quantile(samples, self.tail_q) if samples else 0.0,
            "ok_frac": 1.0 - len(self.failures) / self.attempted,
            "peak_rss_mb": vm_hwm_mb(self.jvm_pid),
        }


def traced_run(bench: Bench, t_measure: float) -> tuple[list[dict], dict[str, float]]:
    """Untraced and traced passes over the window in the order U T T U
    U T T ..., so warm-up drift does not count as tracing cost; returns
    the untraced passes and the per-layer metrics of the traced ones."""
    import tracing as tr
    from pyspark.java_gateway import ensure_callback_server_started

    spark = bench.spark
    tracer = tr.Tracer(spark)
    n_wrapped = tracer.install()
    ledger = tr.JobLedger(spark)
    ensure_callback_server_started(spark.sparkContext._gateway)
    # py4j cannot unregister a Python listener, so both stay registered
    # and drop what they hear while `enabled` is off
    qel = tr.ExecutionListener()
    spark._jsparkSession.listenerManager().register(qel)
    sl = tr.make_stream_listener()
    spark.streams.addListener(sl)
    jvm = spark.sparkContext._jvm
    pools = tr.jvm_heap_pools(jvm)

    per_pass: dict[int, Counter] = {}
    progress: dict[int, list] = {}
    state: dict = {}

    def run_query(name: str, pass_no: int):
        ledger.settle()
        qel.take()
        sl.take()
        tracer.query, tracer.pass_no = name, pass_no
        state.update(first_span=len(tracer.spans), n0=ledger.total_jobs(), ung0=ledger.ungrouped())
        t0 = time.perf_counter()
        with tracer.span(name, "build"):
            df = bench.registry[name](spark, bench.dirs["data"])
        with tracer.span("exec", "exec"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def after_query(name: str, pass_no: int) -> None:
        acc = per_pass.setdefault(pass_no, Counter())
        ledger.settle()
        total = ledger.total_jobs() - state["n0"]
        ungrouped = len(ledger.ungrouped() - state["ung0"])
        runs, prog = sl.take()
        progress.setdefault(pass_no, []).extend(prog)
        run_jobs = sum(len(ledger.jobs(r)) for r in runs)
        by_layer = Counter()
        phase = {}
        for sp in tracer.spans[state["first_span"]:]:
            jobs = ledger.jobs(sp.group)
            by_layer[sp.layer] += len(jobs)
            acc[f"{sp.layer}.s"] += sp.self_time()
            if sp.layer not in tr.RUNNER_LAYERS:
                acc[f"{sp.layer}.calls"] += 1
            if sp.layer == "exec":
                acc.update({f"exec.{k}": v for k, v in ledger.stage_counts(jobs).items()})
                phase.update(exec_s=sp.dur, exec_jobs=len(jobs))
            elif sp.layer == "build":
                phase["build_s"] = sp.dur
        by_layer["stream"] += run_jobs + ungrouped
        for layer, n in by_layer.items():
            acc[f"{layer}.jobs"] += n
        acc["jobs.total"] += total
        acc["jobs.unattributed"] += total - sum(by_layer.values())

        # the timed action is the last execution the query reports; its
        # own optimizer and planner phases are Catalyst planning
        events = qel.take()
        action = events[-1] if events and events[-1][0] == tr.ACTION_NAME else None
        plan_s = tr.planning_seconds(action[1]) if action else 0.0
        acc["plan.s"] += plan_s
        acc["exec.s"] -= plan_s
        ops = Counter()
        for i, (_, qe) in enumerate(events):
            top: list = []
            tr.walk_plan(qe.executedPlan(), ops, top)
            if action and i == len(events) - 1 and top:
                ops["result_rows"] += top[0]
        acc.update({f"op.{k}": ops[k] for k in
                    ("exchanges", "smj", "bhj", "bnlj", "shuffle_bytes", "shuffle_records",
                     "spill_bytes", "scan_rows", "result_rows")})
        acc["py.nodes"] += ops["py_nodes"]
        acc["py.rows"] += ops["py_rows"]
        acc["py.bytes"] += ops["py_bytes"]
        acc["write.files"] += ops["write_files"]
        acc["write.bytes"] += ops["write_bytes"]
        acc["input_bytes"] += ops["input_bytes"]
        phase.update(plan_s=plan_s, exec_s=phase.get("exec_s", 0.0) - plan_s,
                     build_jobs=total - phase.get("exec_jobs", 0))
        bench.check_ledger(
            {"query": name, "pass": pass_no, "total": total, "stream_runs": run_jobs,
             "ungrouped": ungrouped, "by_layer": dict(by_layer), **phase}
        )
        if action is None:
            bench.fail(name, pass_no, "the timed action's execution was not reported")

    plain: list[dict] = []
    traced: list[dict] = []
    gc_s = heap_peak = 0.0
    until = t_measure + bench.args.seconds
    pass_no = 1
    while True:
        on = pass_no % 4 in (2, 3)
        tracer.enabled = qel.enabled = sl.enabled = on
        if on:
            for p in pools:
                p.resetPeakUsage()
            gc0 = tr.jvm_gc_seconds(jvm)
            traced.append(bench.run_pass(pass_no, run_query, after_query))
            gc_s += tr.jvm_gc_seconds(jvm) - gc0
            heap_peak = max(heap_peak, sum(p.getPeakUsage().getUsed() for p in pools) / 2**20)
        else:
            plain.append(bench.run_pass(pass_no, bench.untraced))
        pass_no += 1
        # start another pass only if it should end within half a pass of `until`
        typical = statistics.median(sum(p.values()) for p in plain + traced)
        if plain and traced and time.perf_counter() + typical / 2 > until:
            break
    tracer.enabled = qel.enabled = sl.enabled = False

    layers: dict[str, list[float]] = {k: [] for k in PER_LAYER_UNITS}
    for pass_no, acc in per_pass.items():
        sn = tr.stream_numbers(progress.get(pass_no, []))
        for k in ("batches", "input_rows", "batch_p50_ms", "add_batch_ms", "commit_ms",
                  "state_rows", "state_bytes", "state_commit_ms"):
            acc[f"stream.{k}"] = sn[k]
        acc["op.scan_rows_per_result_row"] = acc["op.scan_rows"] / max(1, acc["op.result_rows"])
        acc["write.bytes_per_input_byte"] = acc["write.bytes"] / max(1, acc["input_bytes"])
        acc["tmp.bytes_left"] = bench.tmp_left[pass_no]
        for k in layers:
            if k in acc:
                layers[k].append(acc[k])
            elif not k.startswith(("session.", "jvm.", "host.", "trace.")):
                layers[k].append(0)
    out = {k: statistics.median(v) for k, v in layers.items() if v}
    out["session.start_s"] = bench.session_s
    out["jvm.gc_s"] = gc_s / len(traced)
    out["jvm.heap_peak_mb"] = heap_peak
    out.update(bench.canary)
    out["trace.overhead_s"] = (
        statistics.median(sum(p.values()) for p in traced)
        - statistics.median(sum(p.values()) for p in plain)
    )
    bench.n_wrapped = n_wrapped
    bench.spans = [sp.record(T_START) for sp in tracer.spans]
    return plain, out


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    """The run's last stdout line."""
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    })


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    # a terminated run still stops its processes and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, PKG))):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    bench = Bench(args, WORKLOADS[args.workload], work)
    try:
        bench.setup()
        t_measure = time.perf_counter()
        if args.trace:
            plain, metrics = traced_run(bench, t_measure)
            bench.end_to_end(plain)
            units = PER_LAYER_UNITS
        else:
            passes = bench.timed_passes(t_measure + args.seconds)
            metrics = bench.end_to_end(passes)
            units = END_TO_END_UNITS
        versions = engine_versions(bench.spark)
    finally:
        # once clean-up starts, a further SIGTERM must not cut it short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if getattr(bench, "spark", None) is not None:
                stop_spark(bench.spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    failed = len(bench.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": bench.wl.sf,
        "cpus": bench.cpus,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "versions": versions,
        "canary": bench.canary,
        "table_bytes": bench.table_bytes,
        "datagen_s": bench.datagen_s,
        "session_s": bench.session_s,
        "warmup_s": bench.warmup_s,
        "warmup_per_query": bench.warmup_walls,
        "settle_pass_walls": bench.settle_walls,
        "query_medians": bench.query_medians,
        "orders": bench.orders,
        "pass_walls": bench.pass_walls,
        "samples": bench.n_samples,
        "tail_quantile": bench.tail_q,
        "failed_frac": failed / bench.attempted,
        "failures": bench.failures,
        "tmp_bytes_left_per_pass": bench.tmp_left,
    }
    if args.trace:
        record["wrapped_functions"] = bench.n_wrapped
        record["job_ledger"] = bench.ledger
        record["spans"] = bench.spans
    print(json.dumps({"perfbench_run": record}, default=str))
    print(result_line(failed == 0, bench.attempted, failed, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
