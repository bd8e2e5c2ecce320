"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

The run generates its tables from ``--seed``, computes every query's expected
result with DuckDB, starts a ``local[2]`` Spark session through the engine's
``configure``, runs three untimed warm passes (the first collects every result
and checks it against DuckDB, the others use the workload's sink), then runs
whole passes over the workload, each in its own seeded order, for about
``--seconds`` seconds.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` passes alternate untraced and traced, and it carries the
per-layer metrics, while the spans and a per-query breakdown go to
``.perfbench/trace/``.  The line before it is a report with the run's
configuration, the per-query times and the oracle results.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import datagen
import metrics
import oracle
import tracing
from workloads import COLLECT, NOOP, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
# Two task threads leave the other cores to the Python driver and the JVM's
# compiler and GC threads, so a run does not compete with itself for cores.
CORES = min(2, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 4
WARM_SINK_PASSES = 2
MIN_PASSES = 3
QUERY_TIMEOUT_S = 60.0
RUN_LIMIT_S = 170  # whole-run guard; a run must end within 180 s


class RunDeadline(BaseException):
    """Raised by SIGALRM when the whole run overstays ``RUN_LIMIT_S``."""


def git_commit(root: str) -> str | None:
    """HEAD's commit id, or None when ``root`` is not a git checkout."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       capture_output=True, text=True, check=False)
    return p.stdout.strip() or None


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left after ``timeout``."""
    end = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 5
    while any(os.path.exists(f"/proc/{p}") for p in alive) and time.monotonic() < end:
        time.sleep(0.05)


class Bench:
    def __init__(self, workload, seed: int, seconds: int, traced: bool):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.oracle: dict[str, str] = {}
        self.passes: list[dict] = []   # {"traced", "seconds", "steal", "order"}
        self.samples: list[float] = []  # untraced per-query seconds
        self.per_query: dict[str, list[float]] = {}
        self.layer_rows: list[dict] = []  # one per traced query execution
        self.tracer = tracing.Tracer()
        self.py4j = tracing.Py4jCounter()
        self.t0 = time.perf_counter()
        self.spark = None
        self._n = 0
        # queries of the pass in progress that have not finished yet
        self._pending: list[str] = list(workload.queries)

    # -- set-up ---------------------------------------------------------
    def start(self):
        for d in ("tmp", "spark-local", "warehouse", "trace"):
            os.makedirs(os.path.join(OUT, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
        # Python workers import the engine from this checkout, too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        sys.path.insert(0, ROOT)
        self.data_dir = datagen.write_tables(os.path.join(OUT, "data"), self.seed)

        t = time.perf_counter()
        import polars_ruby_spark
        import __spark_entry__ as entry
        self.setup["import_s"] = time.perf_counter() - t
        self.engine_path = os.path.dirname(os.path.abspath(polars_ruby_spark.__file__))
        self.entry_path = os.path.abspath(entry.__file__)
        for p in (self.engine_path, self.entry_path):
            if not p.startswith(ROOT + os.sep):
                raise RuntimeError(f"imported {p}, which is outside {ROOT}")
        queries, sqls = entry.queries(), entry.oracle_sql()
        missing = [q for q in self.w.queries if q not in queries or q not in sqls]
        if missing:
            raise RuntimeError(f"registry lacks query or oracle for {missing}")
        self.fns = {q: queries[q] for q in self.w.queries}

        t = time.perf_counter()
        self.expected = oracle.expected(self.data_dir, {q: sqls[q] for q in self.w.queries})
        self.oracle_s = time.perf_counter() - t

        if self.traced:
            self.py4j.install()
        from pyspark.sql import SparkSession

        from polars_ruby_spark.session import configure

        local = os.path.join(OUT, "spark-local")
        # A fixed heap and a JIT that compiles after a tenth of the usual call
        # counts let the timed passes start nearer the plateau of the warm-up
        # curve.
        java_opts = (f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')} -XX:-UsePerfData "
                     "-Xms1g -XX:CompileThresholdScaling=0.1")
        with self.tracer.span("session.start"):
            t = time.perf_counter()
            builder = (SparkSession.builder.master(f"local[{CORES}]")
                       .appName("perfbench")
                       .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
                       .config("spark.ui.enabled", "false")
                       .config("spark.ui.showConsoleProgress", "false")
                       .config("spark.driver.memory", "1g")
                       .config("spark.local.dir", local)
                       .config("spark.sql.warehouse.dir", os.path.join(OUT, "warehouse"))
                       .config("spark.driver.extraJavaOptions", java_opts))
            self.spark = configure(builder).getOrCreate()
            self.spark.sparkContext.setLogLevel("ERROR")
            self.setup["session_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        # pre-fork the Python workers, as a long-lived session would have
        t = time.perf_counter()
        (self.spark.range(CORES).repartition(CORES)
         .mapInPandas(lambda it: it, "id long")
         .write.format("noop").mode("overwrite").save())
        self.setup["prefork_s"] = time.perf_counter() - t

    # -- one query -------------------------------------------------------
    def _cancel(self, *groups):
        for g in groups:
            self.sc.cancelJobGroup(g)

    def run_query(self, name: str, sink: str, traced: bool = False):
        """Build and run one query; returns (seconds, columns, rows) or raises."""
        self._n += 1
        cgroup = sgroup = f"pb-{self._n}"
        if traced:
            cgroup, sgroup = f"{cgroup}-c", f"{cgroup}-s"
        self.sc.setJobGroup(cgroup, name)
        timer = threading.Timer(QUERY_TIMEOUT_S, self._cancel, (cgroup, sgroup))
        timer.daemon = True
        timer.start()
        try:
            if traced:
                return self._run_traced(name, sink, cgroup, sgroup)
            t = time.perf_counter()
            df = self.fns[name](self.spark, self.data_dir)
            rows = None
            if sink == NOOP:
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.collect()
            dt = time.perf_counter() - t
            return dt, df.columns, rows
        finally:
            timer.cancel()

    def _run_traced(self, name, sink, cgroup, sgroup):
        from pyspark.serializers import BatchedSerializer, CPickleSerializer
        from pyspark.traceback_utils import SCCallSiteSync
        from pyspark.util import _load_from_socket

        from polars_ruby_spark.plans import plan_summary

        tr, sc = self.tracer, self.sc
        first = len(tr.spans)
        rows = None
        t = time.perf_counter()
        with tr.span("query", name):
            self.py4j.count, self.py4j.armed = 0, True
            try:
                with tr.span("api", name):
                    df = self.fns[name](self.spark, self.data_dir)
            finally:
                self.py4j.armed = False
            calls = self.py4j.count
            qe = df._jdf.queryExecution()
            with tr.span("catalyst", name):
                plan = qe.executedPlan()
            row = {"pass": len(self.passes), "query": name, "api.py4j_calls": calls}
            row.update(tracing.catalyst_phases(qe))
            row["catalyst.exchanges"] = plan_summary(df)["exchanges"]
            row["catalyst.python_nodes"] = tracing.python_nodes(plan.toString())
            since = tracing.sql_execution_count(self.spark)
            sc.setJobGroup(sgroup, name)
            if sink == NOOP:
                with tr.span("exec", name):
                    df.write.format("noop").mode("overwrite").save()
            else:
                with tr.span("exec", name):
                    with SCCallSiteSync(sc):
                        sock = df._jdf.collectToPython()
                with tr.span("deliver", name):
                    rows = list(_load_from_socket(sock, BatchedSerializer(CPickleSerializer())))
            tracing.wait_for_listeners(sc)
            row["api.construct_jobs"] = len(tracing.job_ids(sc, cgroup))
            sjobs = tracing.job_ids(sc, sgroup)
            row.update(tracing.stage_counters(sc, sjobs))
            row.update(tracing.pyworker_counters(self.spark, since, sjobs))
        dt = time.perf_counter() - t
        row["deliver.rows"] = len(rows) if rows is not None else 0
        for s, own in zip(tr.spans[first:], tracing.self_times(tr.spans)[first:]):
            key = {"api": "api.construct_s", "deliver": "deliver.s"}.get(s.name)
            if key:
                row[key] = s.end - s.start
            row[f"self.{s.name}_s"] = own
        self.layer_rows.append(row)
        return dt, df.columns, rows

    # -- passes ----------------------------------------------------------
    def run_pass(self, label: str, sink: str, traced: bool = False, check: bool = False):
        """Run every query once, in this pass's seeded order.

        Returns the pass's wall seconds, its order, and the build+run seconds
        of each query that finished; failures are counted under ``label``.
        """
        order = list(self.w.queries)
        self.rng.shuffle(order)
        self._pending = list(order)
        times: dict[str, float] = {}
        t = time.perf_counter()
        for name in order:
            try:
                dt, cols, rows = self.run_query(name, sink, traced)
                times[name] = dt
                why = (f"took {dt:.1f} s, over the {QUERY_TIMEOUT_S:.0f} s limit"
                       if dt > QUERY_TIMEOUT_S else None)
                if check and why is None:
                    got = oracle.fingerprint(cols, [tuple(r) for r in rows])
                    why = oracle.mismatch(got, self.expected[name])
            except Exception as e:  # the run goes on; the query counts as failed
                why = f"raised {type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc(limit=3, file=sys.stderr)
            if check:
                self.oracle[name] = why or "ok"
            if why is not None:
                self.failed += 1
                self.errors.append(f"{label} {name}: {why}")
            self.attempted += 1
            self._pending.remove(name)
        return time.perf_counter() - t, order, times

    def warm(self):
        """Untimed passes: one collects every result and checks it against
        DuckDB, then ``WARM_SINK_PASSES`` run the workload's own sink.  The
        JIT keeps speeding the engine up for ten or more passes; the steepest
        part of that slope is spent here."""
        with self.tracer.span("session.warm"):
            _, _, times = self.run_pass("warm", COLLECT, check=True)
            spent = sum(times.values())
            for _ in range(WARM_SINK_PASSES):
                _, _, times = self.run_pass("warm", self.w.sink)
                spent += sum(times.values())
        self.setup["warm_s"] = spent

    def measure(self):
        """Whole passes for about ``seconds``: at least ``MIN_PASSES``; with
        tracing, untraced and traced passes alternate."""
        t = time.perf_counter()
        while True:
            traced = self.traced and len(self.passes) % 2 == 1
            ticks0 = _cpu_ticks()
            seconds, order, times = self.run_pass(
                f"pass {len(self.passes) + 1}", self.w.sink, traced)
            ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
            if not traced:
                for name, dt in times.items():
                    self.samples.append(dt)
                    self.per_query.setdefault(name, []).append(dt)
            self.passes.append({"traced": traced, "seconds": seconds,
                                "steal": ticks[7] / max(1, sum(ticks)), "order": order})
            spent = time.perf_counter() - t
            if (len(self.passes) >= MIN_PASSES
                    and spent * (1 + 1 / len(self.passes)) > self.seconds):
                break

    # -- results ---------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        untraced = [p["seconds"] for p in self.passes if not p["traced"]]
        return {
            "setup_s": sum(self.setup[k] for k in
                           ("import_s", "session_s", "prefork_s", "warm_s")),
            "pass_s": statistics.median(untraced),
            "query_p50_s": statistics.median(self.samples),
            "query_p90_s": statistics.quantiles(self.samples, n=10, method="inclusive")[8],
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        names = [m[0] for m in metrics.PER_LAYER]
        by_pass: list[dict[str, float]] = []
        for i, p in enumerate(self.passes):
            if not p["traced"]:
                continue
            sums = dict.fromkeys(names, 0.0)
            for row in self.layer_rows:
                if row["pass"] == i:
                    for k, v in row.items():
                        if k in sums:
                            sums[k] += v
            sums["trace.pass_s"] = p["seconds"]
            by_pass.append(sums)
        out = {k: statistics.median(s[k] for s in by_pass) for k in names}
        out["session.start_s"] = self.setup["session_s"]
        out["session.warm_s"] = self.setup["warm_s"]
        untraced = statistics.median(p["seconds"] for p in self.passes if not p["traced"])
        out["trace.overhead"] = out["trace.pass_s"] / untraced
        return out

    def shutdown(self, graceful: bool):
        """Stop Spark and wait for the JVM and its Python workers to exit.
        After a deadline the py4j link may be mid-command, so the JVM is
        killed instead of asked to stop."""
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.peak_rss_mb = tracing.vm_hwm_mb(os.getpid()) + tracing.vm_hwm_mb(proc.pid)
        kids = descendants(proc.pid)
        try:
            if graceful:
                self.spark.stop()
                SparkContext._gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes; its Python workers follow
            proc.stdin.close()
            try:
                proc.wait(timeout=30 if graceful else 0.1)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            wait_gone(kids, 10)

    def report(self) -> dict:
        return {
            "workload": self.w.name, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.traced), "sink": self.w.sink,
            "master": f"local[{CORES}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
            "engine": self.engine_path, "entry": self.entry_path,
            "commit": git_commit(ROOT), "data": self.data_dir,
            "setup": self.setup, "oracle_s": self.oracle_s,
            "samples": len(self.samples),
            "failed_frac": self.failed / max(1, self.attempted),
            "passes": self.passes, "oracle": self.oracle,
            "query_median_s": {q: statistics.median(v) for q, v in self.per_query.items()},
            "errors": self.errors[:20],
        }


def _cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters from /proc/stat (steal is index 7)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _on_alarm(signum, frame):
    raise RunDeadline()


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("polars_ruby_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing from {ROOT}; nothing to measure",
                  file=sys.stderr)
            return 2
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    finished = False
    try:
        bench.start()
        bench.warm()
        bench.measure()
        finished = True
    except RunDeadline:
        bench.errors.append(f"run stopped at the {RUN_LIMIT_S} s limit")
    finally:
        signal.alarm(0)
        # every query of the interrupted pass that did not finish is failed
        bench.attempted += len(bench._pending)
        bench.failed += len(bench._pending)
        if bench.spark is not None:
            bench.shutdown(graceful=finished)
    report = bench.report()
    if args.trace:
        path = os.path.join(OUT, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"report": report, "per_query": bench.layer_rows,
                       "spans": bench.tracer.to_json(bench.t0)}, f)
        report["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"report": report}))
    wanted = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = {}
    if finished and len(bench.samples) > 1:
        values = bench.per_layer() if args.trace else bench.end_to_end()
    print(json.dumps({
        "correct": finished and bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m[0]: {"value": values[m[0]], "unit": m[1]}
                    for m in wanted if m[0] in values},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
