"""Where a registry query's time and work went: one JSON line per query and SF.

    python tools/query_profile.py [--sf DIR]... [--reps N] [query ...]

With no names it profiles every registered query. For each query and each
``--sf`` (default: the sf0.1 tables of TESTDATA.md; give it more than once
to compare scales) the query is built under its own job group and written
to the noop sink ``--reps`` times (default 2), with the operator scratch
caches released after each rep. The readings come from perfbench's probes (the in-process
status store, /proc and the stream listener), so the Spark UI stays off.

Each line carries the cold (first-rep) and best wall time; then, of the last
rep: build time, jobs launched while building, py4j round trips while
building; jobs, stages, tasks and the driver gap (time no stage covers);
executor run, CPU and GC time; shuffle read/write bytes and spill (memory +
disk); Python-worker CPU; the stage with the worst per-task shuffle-read
max/median (stages reading >= 256 KB), the stage with the worst per-task
runtime max/median (tasks running >= 1 s), the peak per-task execution
memory; the stream counters (batches, input rows, state rows and memory,
commit time); and one row per stage in ``STAGE_COLUMNS`` order. A stream
query's stages include its stream runs' (``in_stream``), found through the
run ids the stream listener saw.

Gates (any but the advisory wall gate makes the exit code 1, as does a
query that fails):
  * between consecutive ``--sf`` values: shuffle-write bytes growing more
    than 15x, or from 0 to a shuffle; stages growing past 1.5x + 2 (a
    driver loop whose sweeps scale with data); best wall growing past 3x
    (advisory: host noise and output size move it);
  * spill > 0: a partition outgrew executor memory at this scale;
  * skew: the worst read stage's max task reads > 8x its median and > 1 MB;
  * CPU: the worst runtime stage's slowest task ran >= 1 s and > 4x the
    median, on a reduce stage (map-stage layout follows the input files).
Shuffle bytes, spill, stage counts and task read quantiles follow the
plan, dataset and core count, but also what ran earlier in the same
process: ``ann_recall_audit`` at sf0.1 reads 13 stages / 46,061 B or 15
stages / 53,690 B at one commit, depending on the queries profiled before
it. Before citing a stage or byte change, profile the changed query alone
in a fresh process, at least twice on each side.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME, Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from metrics import driver_gap, new_stage_ids  # noqa: E402
from probes import Jvm, StatusStore, cpu_seconds, stream_listener  # noqa: E402

SF_DEFAULT = "/root/testdata/sf0.1"
BYTES_RATIO = 15.0  # shuffle-write growth for 10x data: linear plus compression/partition slack
STAGE_FACTOR, STAGE_SLACK = 1.5, 2  # AQE re-planning slack on a plan-determined stage count
WALL_RATIO = 3.0  # advisory
MIN_SKEW_STAGE = 256 * 1024  # read-skew is judged on stages reading at least this
MIN_TASK_READ = 1024 * 1024  # a skew flag needs a max task read above this
SKEW_RATIO = 8.0
MIN_CPU_MS = 1000.0  # a CPU flag needs a slowest task at least this long
CPU_RATIO = 4.0
STAGE_COLUMNS = (
    "id", "wall_ms", "run_ms", "cpu_ms", "tasks", "input_bytes", "shuffle_write", "shuffle_read", "in_stream", "name"
)
RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME  # py4j's "JVM reference freed" command


def scaling_flag(small: int, big: int) -> str | None:
    """Shuffle-write bytes between consecutive SFs; 0 -> nonzero (a
    broadcast flipping to a shuffle) flags although its ratio is infinite."""
    if small > 0 and big / small > BYTES_RATIO:
        return f"bytes>{BYTES_RATIO:g}x"
    if small == 0 and big > 0:
        return "0->shuffle"
    return None


def stage_flag(small: int, big: int) -> str | None:
    return "stages" if big > STAGE_FACTOR * small + STAGE_SLACK else None


def wall_flag(small_s: float, big_s: float) -> str | None:
    return f"wall>{WALL_RATIO:g}x(advisory)" if big_s > WALL_RATIO * small_s else None


def skew_ratio(median: float, mx: float) -> float:
    """max/median, with a median of 0 taken as 1: all-but-one-empty tasks
    are maximal skew, not a division by zero."""
    return mx / max(median, 1.0)


def skew_flag(median: float, mx: float) -> str | None:
    return "skew" if mx > MIN_TASK_READ and skew_ratio(median, mx) > SKEW_RATIO else None


def cpu_flag(median_ms: float, max_ms: float, shuffle_read: float) -> str | None:
    """Only reduce stages (shuffle_read > 0) can flag: their task layout is
    the plan's doing, a map stage's follows the input's row groups."""
    if shuffle_read > 0 and max_ms >= MIN_CPU_MS and skew_ratio(median_ms, max_ms) > CPU_RATIO:
        return "cpu"
    return None


def gate(line: dict, prev: dict | None) -> list[str]:
    """Flags of one profile line; ``prev`` is the same query at the previous SF."""
    flags = []
    if prev is not None:
        flags += [scaling_flag(prev["shuffle_write_bytes"], line["shuffle_write_bytes"]),
                  stage_flag(prev["stages"], line["stages"]),
                  wall_flag(prev["best_wall_s"], line["best_wall_s"])]
    if line["spill_bytes"]:
        flags.append("spill")
    if line["read_skew"]:
        flags.append(line["read_skew"]["flag"])
    if line["cpu_skew"]:
        flags.append(line["cpu_skew"]["flag"])
    return [f for f in flags if f]


def stragglers(stages: list[tuple[dict, dict]]) -> tuple[dict | None, dict | None, float]:
    """(worst read-skew stage, worst runtime-skew stage, peak task memory)
    over (stage, task-quantile summary) pairs, quantiles (min, median, max)."""
    read = cpu = None
    peak = 0.0
    for st, q in stages:
        peak = max(peak, q["peakExecutionMemory"][2])
        _, rt_med, rt_max = q["executorRunTime"]
        sr = st["shuffleReadBytes"]
        rc = skew_ratio(rt_med, rt_max)
        # ties go to the longest task, so an all-1.0x field still shows it,
        # then (here and below) to the latest stage
        if rt_max >= MIN_CPU_MS and (cpu is None or (rc, rt_max) >= (cpu["ratio"], cpu["max_ms"])):
            cpu = {"stage": st["stageId"], "tasks": st["numCompleteTasks"], "median_ms": rt_med, "max_ms": rt_max,
                   "ratio": rc, "reduce": sr > 0, "flag": cpu_flag(rt_med, rt_max, sr)}
        if sr < MIN_SKEW_STAGE:
            continue
        _, med, mx = q["shuffleReadMetrics"]["readBytes"]
        if read is None or skew_ratio(med, mx) >= read["ratio"]:
            read = {"stage": st["stageId"], "stage_read": sr, "tasks": st["numCompleteTasks"], "median": med,
                    "max": mx, "ratio": skew_ratio(med, mx), "flag": skew_flag(med, mx)}
    return read, cpu, peak


class RoundTrips:
    """Counts the py4j commands sent while ``counting`` is true, except memory
    releases: the garbage collector sends those at arbitrary times (8 builds
    of one query sent 674 other commands each and 0-386 releases). perfbench's
    ``Py4jCalls`` still counts them; changing it would change the benchmark."""

    def __init__(self, client):
        send = client.send_command
        self.calls = 0
        self.counting = False

        def counted(command, *args, **kwargs):
            if self.counting and not command.startswith(RELEASE):
                self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted


class Stages(StatusStore):
    """perfbench's status-store reader, widened to the stage rows and the
    per-task quantiles of one query's jobs."""

    def __init__(self, spark):
        super().__init__(spark)
        gateway = spark.sparkContext._gateway
        self._quantiles = gateway.new_array(gateway.jvm.double, 3)
        for i, q in enumerate((0.0, 0.5, 1.0)):
            self._quantiles[i] = q

    def jobs(self, groups: list[str]) -> list[dict]:
        return [self._data(self._store.job(j)) for g in groups for j in self._tracker.getJobIdsForGroup(g)]

    def stages(self, jobs: list[dict]) -> list[tuple[dict, dict]]:
        """(stage, task quantiles) of each stage the jobs ran that no earlier
        read reported; stages skipped as already computed are left out."""
        out = []
        for sid in new_stage_ids([j["stageIds"] for j in jobs], self._seen):
            try:
                st = self._data(self._store.lastStageAttempt(sid))
            except Py4JJavaError:  # a reused stage of an earlier job, no longer retained
                continue
            if st["status"] != "SKIPPED":
                summary = self._store.taskSummary(sid, st["attemptId"], self._quantiles)
                out.append((st, self._data(summary.get()) if summary.isDefined() else None))
        return out


class Profiler:
    """One session's probes, and the reps of one query at one SF."""

    def __init__(self, spark):
        from utils_spark.plans import release_scratch_caches

        self.spark = spark
        self.release = release_scratch_caches
        self.jvm = Jvm(spark)
        self.store = Stages(spark)
        self.calls = RoundTrips(spark.sparkContext._gateway._gateway_client)
        self.streams = stream_listener(spark)
        self.groups = 0

    def rep(self, fn, sf_dir: str, description: str) -> dict:
        """Build ``fn`` under a job group of its own, write it to the noop sink, read the probes."""
        self.groups += 1
        group = f"profile-{self.groups}"
        self.store.drain()
        self.streams.take()  # the stream runs a failed rep left behind
        self.spark.sparkContext.setJobGroup(group, description)
        _, workers0 = cpu_seconds(self.jvm.pid)
        wall0, t0 = time.time() * 1e3, time.perf_counter()
        self.calls.calls, self.calls.counting = 0, True
        try:
            df = fn(self.spark, sf_dir)
        finally:
            self.calls.counting = False
        built = wall0 + (time.perf_counter() - t0) * 1e3
        df.write.mode("overwrite").format("noop").save()
        wall_s, wall1 = time.perf_counter() - t0, time.time() * 1e3
        _, workers1 = cpu_seconds(self.jvm.pid)
        self.store.drain()
        streamed = self.store.jobs(self.streams.run_ids())
        jobs = self.store.jobs([group]) + streamed
        in_stream = {sid for j in streamed for sid in j["stageIds"]}
        stages = self.store.stages(jobs)
        read_skew, cpu_skew, peak = stragglers([(st, q) for st, q in stages if q is not None])
        rows = [st for st, _ in stages]
        col = lambda k: sum(st[k] for st in rows)  # noqa: E731
        walls = [(st.get("submissionTime"), st.get("completionTime")) for st in rows]
        walls = [(a, b) if a and b else None for a, b in walls]
        return {
            "wall_s": wall_s,
            "build_s": (built - wall0) / 1e3,
            "build_jobs": sum(j.get("submissionTime", built) < built for j in jobs),
            "py4j_calls": self.calls.calls,
            "jobs": len(jobs),
            "stages": len(rows),
            "tasks": col("numTasks"),
            "driver_gap_s": driver_gap((wall0, wall1), [w for w in walls if w]) / 1e3,
            "exec_run_s": col("executorRunTime") / 1e3,
            "exec_cpu_s": col("executorCpuTime") / 1e9,
            "exec_gc_s": col("jvmGcTime") / 1e3,
            "shuffle_read_bytes": col("shuffleReadBytes"),
            "shuffle_write_bytes": col("shuffleWriteBytes"),
            "spill_bytes": col("memoryBytesSpilled") + col("diskBytesSpilled"),
            "pyworker_cpu_s": workers1 - workers0,
            "read_skew": read_skew,
            "cpu_skew": cpu_skew,
            "peak_task_mem_bytes": peak,
            **{k.replace(".", "_"): v for k, v in self.streams.take().items()},
            "stage_rows": [
                [st["stageId"], w[1] - w[0] if w else 0, st["executorRunTime"], st["executorCpuTime"] // 1_000_000,
                 st["numCompleteTasks"], st["inputBytes"], st["shuffleWriteBytes"], st["shuffleReadBytes"],
                 st["stageId"] in in_stream, st["name"][:70]]
                for st, w in zip(rows, walls)
            ],
        }

    def profile(self, name: str, fn, sf_dir: str, reps: int) -> dict:
        """The line of ``name`` at ``sf_dir``: wall times of every rep, the rest of the last."""
        sf = os.path.basename(os.path.normpath(sf_dir))
        line = {"query": name, "sf": sf}
        walls = []
        try:
            for rep in range(reps):
                try:
                    reading = self.rep(fn, sf_dir, f"{name} {sf} rep {rep}")
                finally:
                    self.release()
                walls.append(reading.pop("wall_s"))
        except Exception as e:  # recorded on the line; the other queries still run
            traceback.print_exc()
            line["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            return line
        reading = {"cold_wall_s": walls[0], "best_wall_s": min(walls), **reading}
        line.update((k, round(v, 4) if isinstance(v, float) else v) for k, v in reading.items())
        return line


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--sf", action="append", metavar="DIR", help=f"data directory, repeatable ({SF_DEFAULT})")
    parser.add_argument("--reps", type=int, default=2, help="noop-sink runs per query and SF (default 2)")
    parser.add_argument("queries", nargs="*", help="registry names (default: all)")
    args = parser.parse_args(argv)
    sf_dirs = args.sf or [SF_DEFAULT]
    if args.reps < 1:
        parser.error(f"--reps needs a positive integer, got {args.reps}")
    missing = [d for d in sf_dirs if not os.path.isdir(d)]
    if missing:
        parser.error(f"--sf needs an existing directory, got {missing}")

    from utils_spark.registry import load_all

    registry = load_all()
    unknown = [n for n in args.queries if n not in registry]
    if unknown:
        parser.error(f"unknown query names: {unknown}")

    from utils_spark.session import get_spark

    spark = get_spark(app_name="profile", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    profiler = Profiler(spark)
    spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().write.format("noop").mode("overwrite").save()

    flagged: dict[str, list[str]] = {}
    failed = []
    for name in args.queries or list(registry):
        prev = None
        for sf_dir in sf_dirs:
            line = profiler.profile(name, registry[name].fn, sf_dir, args.reps)
            if "error" in line:
                failed.append(f"{name}@{line['sf']}")
                prev = None
            else:
                line["flags"] = gate(line, prev)
                for f in line["flags"]:
                    flagged.setdefault(f, []).append(f"{name}@{line['sf']}")
                prev = line
            print(json.dumps(line), flush=True)
    spark.stop()
    for f, where in flagged.items():
        print(f"# {f}: {where}", file=sys.stderr)
    if failed:
        print(f"# failed: {failed}", file=sys.stderr)
    return int(bool(failed) or any(not f.endswith("(advisory)") for f in flagged))


if __name__ == "__main__":
    sys.exit(main())
