#!/usr/bin/env python3
"""Benchmark runner: one workload, one fresh process, one JSON result line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. A run sets up a Spark session over the
sf0.1 tables in ``perfbench/data``, runs one cold pass over the workload's
registry queries, collecting each query's rows and checking them against
its DuckDB oracle outside the timed region, then at least four warm
passes, more until ``--seconds`` have passed, each query written through
the noop sink. The seed fixes the query order of every pass. After each
query, untimed, it releases the program's scratch caches.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; host
steal, JIT, GC and codegen counters go to stderr. ``--trace 1`` reads the
per-layer counters (status store, py4j calls, forced planning, streaming
progress) on two of four warm passes and reports the per-layer metrics,
with the traced-minus-untraced warm pass as ``trace.overhead_s``.
"""

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

from metrics import count_failures, median_passes, output_mismatch, query_order, sum_into, unequal  # noqa: E402
from probes import Jvm, Py4jCalls, StatusStore, cpu_seconds, steal_seconds, stream_listener  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data"
WORK = ROOT / ".perfbench_tmp"

SETUP_SAMPLES = 2  # set-ups per untraced run: this process plus a child
MIN_WARM = 4  # warm passes of an untraced run; the fastest one is reported
# warm passes of a traced run, untraced and traced in ABBA order so that
# the JIT's warm-up trend cancels out of the tracing overhead
TRACED_PLAN = (False, True, True, False)
# counters that must repeat exactly across the traced warm passes of a run
REPEATABLE = ("batch.jobs", "batch.input_bytes")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prepare_scratch() -> Path:
    """A private scratch directory inside the checkout for every temporary
    file Python, Spark and the JVM create; stale ones of dead runs go."""
    WORK.mkdir(exist_ok=True)
    for old in WORK.glob("run-*"):
        pid = old.name.removeprefix("run-")
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(old, ignore_errors=True)
    scratch = WORK / f"run-{os.getpid()}"
    scratch.mkdir()
    os.environ["TMPDIR"] = str(scratch)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={scratch} -XX:-UsePerfData".strip()
    return scratch


def _start(cpus: int, trace: bool):
    """Session up, registry loaded, first trivial action done."""
    t = time.perf_counter()
    from utils_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:  # keep every stage of a pass readable in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    from utils_spark.registry import load_all

    registry = load_all()
    load_s = time.perf_counter() - t
    spark.range(1000).selectExpr("sum(id) AS s").write.mode("overwrite").format("noop").save()
    setup = {"setup_s": time.perf_counter() - _PROCESS_START, "session.start_s": start_s, "registry.load_s": load_s}
    return spark, registry, setup


def _stop(spark=None) -> None:
    """Stop ``spark`` in order, or without it kill the JVM; then wait until
    the JVM, and with it every Python worker, has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if spark is not None:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
    else:
        gateway.proc.kill()
    gateway.proc.wait(timeout=120)


class Workload:
    """Runs the passes of one workload in one session.

    The cold pass collects each query's rows, as a first call in a fresh
    session returns them to its caller, and checks them against the
    query's DuckDB oracle outside the timed region. Warm passes write
    through the noop sink, which materialises every output column."""

    def __init__(self, spark, registry, names: list[str], trace: bool):
        from utils_spark.plans import release_scratch_caches

        self.spark = spark
        self.registry = registry
        self.names = names
        self.release = release_scratch_caches
        self.jvm = Jvm(spark)
        self.status = StatusStore(spark) if trace else None
        self.py4j = Py4jCalls(spark) if trace else None
        self.streams = stream_listener(spark) if trace else None
        self.outcomes: list[str | None] = []
        self.passes = 0

    def _cleanup(self) -> int:
        released = self.release()
        self.spark.catalog.clearCache()
        return released

    def _query(self, name: str, group: str, traced: bool, collect: bool) -> tuple[dict[str, float], tuple | None]:
        """Time one query; returns its readings and, when ``collect``, its
        (columns, rows, index of its outcome)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        cpu0, workers0 = cpu_seconds(self.jvm.pid)
        py0 = time.process_time()
        wall0 = time.time()
        t0 = time.perf_counter()
        plan_s = 0.0
        output = None
        try:
            if traced:
                self.py4j.counting = True
            df = self.registry[name].fn(self.spark, str(DATA))
            if traced:
                self.py4j.counting = False
            t1 = time.perf_counter()
            if traced:
                df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t1
            if collect:
                output = df.collect()
            else:
                df.write.mode("overwrite").format("noop").save()
            outcome = None
        except Exception as e:  # a failing query is counted, and the pass goes on
            outcome = f"{name}: {type(e).__name__}: {str(e)[:300]}"
            t1 = time.perf_counter()
        finally:
            if self.py4j:
                self.py4j.counting = False
        t2 = time.perf_counter()
        wall2 = time.time()
        py1 = time.process_time()
        cpu1, workers1 = cpu_seconds(self.jvm.pid)
        sc.setJobGroup("perfbench-idle", "")
        self.outcomes.append(outcome)
        if outcome:
            _log(f"# FAILED {outcome}")
        if output is not None:
            output = (df.columns, [tuple(r) for r in output], len(self.outcomes) - 1)
        out = {"pass_s": t2 - t0, "cpu_s": cpu1 - cpu0, "pyworker.cpu_s": workers1 - workers0}
        if not traced:
            self._cleanup()
            return out, output
        self.status.drain()
        out.update(self.status.read(group, self.streams.run_ids(), (wall0 * 1e3, wall2 * 1e3), wall0 * 1e3 + (t1 - t0) * 1e3))
        out.update(self.streams.take())
        out["cache.stored_mb"] = self.status.cached_mb()
        out["plans.scratch_released"] = self._cleanup()
        out["queries.build_s"] = t1 - t0
        out["queries.py4j_calls"] = self.py4j.calls
        self.py4j.calls = 0
        out["plans.plan_s"] = plan_s
        out["driver.py_cpu_s"] = py1 - py0
        return out, output

    def run_pass(self, seed: int, traced: bool, cold: bool = False) -> dict[str, float]:
        """One pass over every query in the seed's order for this pass;
        the cold pass also checks every query's output."""
        index = self.passes
        self.passes += 1
        steal0, jvm0 = steal_seconds(), self.jvm.reading()
        total: dict[str, float] = {}
        times, outputs = [], {}
        for i, name in enumerate(query_order(self.names, seed, index)):
            reading, outputs[name] = self._query(name, f"perfbench-{index}-{i}", traced, collect=cold)
            times.append(f"{name} {reading['pass_s']:.2f}")
            sum_into(total, reading)
        jvm1 = self.jvm.reading()
        total.update({k: jvm1[k] - jvm0[k] for k in jvm1})
        total["host.steal_s"] = steal_seconds() - steal0
        kind = "traced" if traced else "untraced"
        _log(f"# pass {index} ({kind}): {total['pass_s']:.3f} s, cpu {total['cpu_s']:.3f} s, "
             f"steal {total['host.steal_s']:.2f} s, jit {total['jvm.jit_s']:.2f} s, "
             f"compiles {total['codegen.compiles']}; " + ", ".join(times))
        if cold:
            self._check({name: got for name, got in outputs.items() if got is not None})
        return total

    def _check(self, outputs: dict[str, tuple]) -> None:
        """Compare collected outputs with the DuckDB oracles (untimed); a
        mismatch marks the execution that produced the output failed."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads = {max(1, self.spark.sparkContext.defaultParallelism)}")
        for table in sorted(DATA.glob("*.parquet")):
            con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
        for name, (got_cols, got_rows, outcome) in outputs.items():
            res = con.execute(self.registry[name].oracle)
            why = output_mismatch(got_cols, got_rows, [d[0] for d in res.description], res.fetchall())
            if why:
                self.outcomes[outcome] = f"{name}: {why}"
                _log(f"# WRONG OUTPUT {name}: {why}")
        con.close()

    def retained_heap_mb(self) -> float:
        """Heap the session retains once the passes are over. State stores
        of finished streams would stay loaded until Spark's periodic
        maintenance (every 60 s by default) unloads them, so whether they
        count would depend on the timer's phase; they are unloaded first."""
        self._cleanup()
        gc.collect()
        self.spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        return self.jvm.retained_heap_mb()


def _setup_child(args) -> float:
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0", "--setup-only"]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if done.returncode != 0:
        raise RuntimeError(f"set-up child failed ({done.returncode}): {done.stderr[-2000:]}")
    return json.loads(done.stdout.strip().splitlines()[-1])["setup_s"]


def _metric_specs() -> tuple[dict[str, str], dict[str, str]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]}, {m["name"]: m["unit"] for m in spec["per_layer"]})


def _result(correct: bool, attempted: int, failed: int, values: dict[str, float], units: dict[str, str]) -> str:
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"no reading for {missing}")
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    })


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True, help="warm-pass time to measure")
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = parser.parse_args(argv)

    missing = [p for p in (ROOT / "utils_spark" / "registry.py", ROOT / "BENCHMARK.json", DATA / "lineitem.parquet")
               if not p.is_file()]
    if missing:
        _log(f"perfbench: cannot run here, missing {', '.join(map(str, missing))}")
        return 2
    sys.path.insert(0, str(ROOT))
    end_units, layer_units = _metric_specs()
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    scratch = _prepare_scratch()
    try:
        spark, registry, setup = _start(cpus, bool(args.trace))
        if args.setup_only:
            _stop()
            print(json.dumps({"setup_s": setup["setup_s"]}))
            return 0
        names = WORKLOADS[args.workload]
        w = Workload(spark, registry, names, bool(args.trace))
        _log(f"# {args.workload}: {len(names)} queries, local[{cpus}], seed {args.seed}, "
             f"set-up {setup['setup_s']:.2f} s")
        cold = w.run_pass(args.seed, traced=bool(args.trace), cold=True)
        warm: dict[bool, list[dict[str, float]]] = {False: [], True: []}
        started = time.perf_counter()
        for traced in TRACED_PLAN if args.trace else [False] * MIN_WARM:
            warm[traced].append(w.run_pass(args.seed, traced))
        while not args.trace and time.perf_counter() - started < args.seconds:
            warm[False].append(w.run_pass(args.seed, False))
        heap_mb = w.retained_heap_mb()
        _stop(spark)
    finally:
        _stop()
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run's directory is still there
            WORK.rmdir()

    attempted, failed = count_failures(w.outcomes)
    correct = failed == 0
    if args.trace:
        traced = median_passes(warm[True])
        drifted = unequal(warm[True], REPEATABLE)
        if drifted:
            _log(f"# counters differ across warm passes: {drifted}")
            correct = False
        values = dict(traced)
        values.update({k: setup[k] for k in ("session.start_s", "registry.load_s")})
        values["queries.cold_build_s"] = cold["queries.build_s"]
        values["queries.cold_py4j_calls"] = cold["queries.py4j_calls"]
        values["trace.warm_pass_s"] = traced["pass_s"]
        values["trace.overhead_s"] = traced["pass_s"] - median_passes(warm[False])["pass_s"]
        units = layer_units
    else:
        fastest = {k: min(p[k] for p in warm[False]) for k in ("pass_s", "cpu_s")}
        steady = median_passes(warm[False])
        setups = [setup["setup_s"]] + [_setup_child(args) for _ in range(SETUP_SAMPLES - 1)]
        values = {
            "setup_s": statistics.median(setups),
            "cold_pass_s": cold["pass_s"],
            "warm_pass_s": fastest["pass_s"],
            "warm_cpu_s": fastest["cpu_s"],
            "retained_heap_mb": heap_mb,
        }
        diag = {k: steady[k] for k in ("host.steal_s", "jvm.jit_s", "jvm.gc_s", "codegen.compiles")}
        _log("# diagnostics per warm pass (median): " + json.dumps(diag))
        _log(f"# set-ups: {', '.join(f'{s:.3f}' for s in setups)} s")
        units = end_units
    _log("# all readings: " + json.dumps(values, sort_keys=True))
    for k, u in units.items():
        print(f"{args.workload} {k} = {values[k]:.6g} {u}")
    print(f"{args.workload} failed_ops = {failed} of {attempted}")
    print(_result(correct, attempted, failed, values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
