"""Readings taken from outside the program under test.

The benchmark reads the operating system (``/proc``), the driver JVM
(management beans, Spark's codegen metric and in-process status store,
over py4j) and Structured Streaming progress events. None of these
readers imports or inspects ``utils_spark``; they wrap the calls the
benchmark itself makes.
"""

from __future__ import annotations

import json
import os
import time

from py4j.protocol import Py4JJavaError

from metrics import driver_gap, new_stage_ids

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, utime+stime+cutime+cstime in ticks)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        close = raw.rindex(")")
        comm = raw[raw.index("(") + 1 : close]
        fields = raw[close + 2 :].split()
        table[int(entry)] = (int(fields[1]), comm, sum(int(x) for x in fields[11:15]))
    return table


def _subtree(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(jvm_pid: int) -> tuple[float, float]:
    """(CPU of this process and all its descendants, CPU of the Python
    worker processes below the JVM), in seconds. Reaped children are
    included through their parents' cumulative child times."""
    table = _proc_table()
    total = sum(table[p][2] for p in _subtree(table, os.getpid()))
    workers = sum(table[p][2] for p in _subtree(table, jvm_pid) if p != jvm_pid and table[p][1].startswith("python"))
    return total / _CLK, workers / _CLK


def steal_seconds() -> float:
    """Host CPU time stolen from this VM so far, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK


class Jvm:
    """Driver-JVM counters: GC and JIT time, codegen compiles, heap."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self._memory = mf.getMemoryMXBean()
        self._system = jvm.java.lang.System
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def reading(self) -> dict[str, float]:
        return {
            "jvm.gc_s": sum(b.getCollectionTime() for b in self._gc_beans) / 1000,
            "jvm.jit_s": self._jit.getTotalCompilationTime() / 1000,
            "codegen.compiles": self._compiles.getCount(),
        }

    def retained_heap_mb(self, rounds: int = 6) -> float:
        """The least heap in use after a full collection, over ``rounds``
        collections half a second apart: Spark's context cleaner and py4j's
        release of driver-side references free objects asynchronously,
        typically within a second of the collection that exposed them."""
        used = []
        for _ in range(rounds):
            self._system.gc()
            used.append(self._memory.getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.5)
        return min(used)


class StatusStore:
    """Per-query reads of Spark's in-process status store.

    Each query runs under its own job group; a read takes the job ids of
    that group and of the query's stream runs (a stream thread puts its
    jobs in a group named after its run id), their stage ids, and only
    the stages not reported before, so the cost of a read follows the
    query's own work, not the session's history."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._sc = sc
        self._store = sc.statusStore()
        self._tracker = sc.statusTracker()
        self._bus = sc.listenerBus()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._seen: set[int] = set()

    def drain(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self._bus.waitUntilEmpty(60_000)

    def _data(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    def cached_mb(self) -> float:
        return sum(i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo()) / 2**20

    def read(self, group: str, streams: list[str], window_ms: tuple[float, float], built_ms: float) -> dict[str, float]:
        """Scheduler, executor, shuffle and I/O totals of the jobs in
        ``group`` and in the groups of the ``streams`` (run ids) the query
        ran. ``window_ms`` is the query's timed region and ``built_ms`` the
        moment its DataFrame was built (epoch ms). ``batch.jobs`` and
        ``batch.input_bytes`` count ``group`` alone: a stream may or may
        not run a final no-data micro-batch, so only these repeat exactly."""
        batch = [self._data(self._store.job(j)) for j in self._tracker.getJobIdsForGroup(group)]
        streamed = [self._data(self._store.job(j)) for r in streams for j in self._tracker.getJobIdsForGroup(r)]
        out = {
            "sched.jobs": len(batch) + len(streamed),
            "queries.build_jobs": sum(j.get("submissionTime", built_ms) < built_ms for j in batch + streamed),
            "batch.jobs": len(batch),
            "batch.input_bytes": 0,
            "sched.stages": 0,
            "sched.tasks": 0,
            "exec.run_s": 0.0,
            "exec.cpu_s": 0.0,
            "exec.gc_s": 0.0,
            "shuffle.read_bytes": 0,
            "shuffle.write_bytes": 0,
            "shuffle.spill_bytes": 0,
            "io.input_bytes": 0,
            "io.output_bytes": 0,
        }
        intervals = []
        for jobs in (batch, streamed):
            for sid in new_stage_ids([j["stageIds"] for j in jobs], self._seen):
                try:
                    st = self._data(self._store.lastStageAttempt(sid))
                except Py4JJavaError:  # a reused stage of an earlier job, no longer retained
                    continue
                if st["status"] == "SKIPPED":
                    continue
                out["sched.stages"] += 1
                out["sched.tasks"] += st["numTasks"]
                out["exec.run_s"] += st["executorRunTime"] / 1e3
                out["exec.cpu_s"] += st["executorCpuTime"] / 1e9
                out["exec.gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle.read_bytes"] += st["shuffleReadBytes"]
                out["shuffle.write_bytes"] += st["shuffleWriteBytes"]
                out["shuffle.spill_bytes"] += st["diskBytesSpilled"]
                out["io.input_bytes"] += st["inputBytes"]
                out["io.output_bytes"] += st["outputBytes"]
                if jobs is batch:
                    out["batch.input_bytes"] += st["inputBytes"]
                if st.get("submissionTime") and st.get("completionTime"):
                    intervals.append((st["submissionTime"], st["completionTime"]))
        out["sched.driver_gap_s"] = driver_gap(window_ms, intervals) / 1e3
        return out


class Py4jCalls:
    """Counts driver-to-JVM round trips while ``counting`` is true."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        self.calls = 0
        self.counting = False

        def counted(*args, **kwargs):
            if self.counting:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


def stream_listener(spark):
    """Register and return a listener that totals streaming progress and
    records the run id of every stream that made progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Streams(StreamingQueryListener):
        def __init__(self):
            self.reset()

        def reset(self):
            self.batches = self.input_rows = self.commit_ms = 0
            self.last_state: dict[str, tuple[int, int]] = {}

        def run_ids(self) -> list[str]:
            return sorted(self.last_state)

        def take(self) -> dict[str, float]:
            out = {
                "stream.batches": self.batches,
                "stream.input_rows": self.input_rows,
                "stream.commit_ms": self.commit_ms,
                "stream.state_rows": sum(r for r, _ in self.last_state.values()),
                "stream.state_mem_bytes": sum(m for _, m in self.last_state.values()),
            }
            self.reset()
            return out

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches += 1
            self.input_rows += p.numInputRows
            self.commit_ms += sum(op.commitTimeMs for op in p.stateOperators)
            self.last_state[str(p.runId)] = (
                sum(op.numRowsTotal for op in p.stateOperators),
                sum(op.memoryUsedBytes for op in p.stateOperators),
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Streams()
    spark.streams.addListener(listener)
    return listener
