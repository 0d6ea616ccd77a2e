"""Partition-skew probe: straggler-risk evidence for the 100 TB story.

The shuffle-volume probe (tools/shuffle_probe.py) witnesses that network
cost scales linearly — but linear TOTAL bytes can still concentrate on
one hot key, and at 1000 executors one reduce partition holding 10× the
median becomes the stage's straggler (everything else waits). Per-task
shuffle-READ bytes are the signal: Spark's status REST API serves
min/median/max task quantiles per stage, so the max/median ratio of the
heaviest fresh stage is a deterministic straggler-risk witness for a
fixed plan + dataset.

    python tools/skew_probe.py q1 q2 ...            # named registry queries
    python tools/skew_probe.py --check 8 q1 ...     # custom skew ratio gate
    python tools/skew_probe.py --sf DIR q1 ...      # custom SF dir (default sf0.1)

For each query the probe runs the plan to the noop sink in one warm
UI-enabled JVM, then for every fresh stage that READ at least MIN_STAGE
bytes fetches the task summary and reports the worst max/median read
ratio (plus the stage's task count — AQE-coalesced single-task stages
cannot exhibit skew and read as 1.0×). A flag needs BOTH ratio > CHECK
and max > MIN_TASK bytes, so trivial absolute volumes never flag.

Since r15 the probe also witnesses per-task CPU: the r14 knn prefilter
moved the quadratic candidate enumeration off the wire into in-partition
CPU, which byte-based probes cannot see — a hot LSH bucket would now show
up as one task BURNING 10× the median executorRunTime, not reading 10×
the bytes. For every fresh stage whose slowest task ran ≥ MIN_CPU_MS the
probe reports the worst max/median executorRunTime; `--cpu-check N`
(default 4) gates it like `--check` gates read skew. executorRunTime is
wall-adjacent (GC, scheduling jitter), hence the 1 s absolute floor and
the generous default ratio — bytes stay the deterministic witness, CPU is
the straggler witness bytes cannot provide.

    python tools/skew_probe.py --cpu-check 4 q1 ... # custom CPU ratio gate

Caveat: at local test scale AQE coalesces small shuffles, so a clean
reading here is necessary-not-sufficient for 100 TB; a FLAGGED reading,
however, is a real hot key already visible at 600k rows.
"""

from __future__ import annotations

import json
import sys
import urllib.request

REPO = __file__.rsplit("/tools/", 1)[0]
sys.path.insert(0, REPO)

from shuffle_probe import completed_stages, fmt_bytes  # noqa: E402

SF_DEFAULT = "/root/testdata/sf0.1"
MIN_STAGE = 256 * 1024  # ignore stages reading < 256 KB total
MIN_TASK = 1024 * 1024  # a flag needs a >1 MB max task read
MIN_CPU_MS = 1000.0  # a CPU flag needs a >=1 s max task runtime


def task_read_quantiles(
    ui_url: str, app_id: str, stage_id: int, attempt: int
) -> tuple[float, float, float, float, float, float]:
    """(min, median, max) per-task shuffle-read bytes of one stage, the
    stage's max per-task peakExecutionMemory — the positive witness that
    partitions FIT (spill=0 only witnesses that none overflowed) — and the
    (median, max) per-task executorRunTime in ms (the in-partition CPU
    straggler witness byte metrics cannot provide)."""
    with urllib.request.urlopen(
        f"{ui_url}/api/v1/applications/{app_id}/stages/{stage_id}/{attempt}"
        f"/taskSummary?quantiles=0.0,0.5,1.0"
    ) as r:
        summary = json.load(r)
    q = summary["shuffleReadMetrics"]["readBytes"]
    peak = summary.get("peakExecutionMemory", [0.0, 0.0, 0.0])[-1]
    rt = summary.get("executorRunTime", [0.0, 0.0, 0.0])
    return q[0], q[1], q[2], peak, rt[1], rt[2]


def skew_ratio(median: float, mx: float) -> float:
    """max/median task read; a median of 0 with a nonzero max is reported
    as the max against a 1-byte floor (all-but-one-empty partitions IS
    maximal skew, not a divide-by-zero to hide)."""
    return mx / max(median, 1.0)


def skew_flag(median: float, mx: float, check: float) -> str | None:
    """Flag when the worst task reads CHECK× the median AND the absolute
    volume is big enough to matter (> MIN_TASK)."""
    if mx > MIN_TASK and skew_ratio(median, mx) > check:
        return f"**CHECK >{check:g}×**"
    return None


def cpu_flag(
    median_ms: float, max_ms: float, check: float, shuffle_read: float = 1.0
) -> str | None:
    """Flag when the slowest task BURNED check× the median executorRunTime
    AND ran long enough (≥ MIN_CPU_MS) that scheduling jitter can't
    explain it — one task grinding a quadratic hot bucket while its
    siblings finish is exactly this signature.

    Only REDUCE-side stages (shuffle_read > 0) are flag-eligible: their
    task layout is the PLAN's doing (partitioning keys, AQE coalescing),
    which is what the gate polices. Map-stage imbalance is the INPUT's
    layout — the r15 full-registry sweep ground-truthed every map-side
    flag to the test fixtures being single-row-group parquet files (one
    task per table can read rows at all, however many byte-range splits
    Spark makes), which no plan change can fix and production many-file
    inputs don't exhibit. Map stages are still reported, marked (map)."""
    if shuffle_read <= 0:
        return None
    if max_ms >= MIN_CPU_MS and skew_ratio(median_ms, max_ms) > check:
        return f"**CPU >{check:g}×**"
    return None


def main() -> int:
    import os

    args = list(sys.argv[1:])
    check = 8.0
    cpu_check = 4.0
    for flag_name in ("--check", "--cpu-check"):
        if flag_name in args:
            i = args.index(flag_name)
            if i + 1 >= len(args):
                print(f"{flag_name} needs a ratio value", file=sys.stderr)
                return 2
            try:
                val = float(args[i + 1])
            except ValueError:
                print(f"{flag_name} needs a ratio value, got {args[i + 1]!r}", file=sys.stderr)
                return 2
            if flag_name == "--check":
                check = val
            else:
                cpu_check = val
            del args[i : i + 2]
    sf_dir = SF_DEFAULT
    if "--sf" in args:
        i = args.index("--sf")
        if i + 1 >= len(args) or not os.path.isdir(args[i + 1]):
            got = args[i + 1] if i + 1 < len(args) else None
            print(f"--sf needs an existing directory, got {got!r}", file=sys.stderr)
            return 2
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if not args:
        print("usage: skew_probe.py [--check N] [--sf DIR] query [query ...]", file=sys.stderr)
        return 2

    from utils_spark.registry import load_all

    reg = load_all()
    unknown = [n for n in args if n not in reg]
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        return 2

    from utils_spark.session import get_spark

    spark = get_spark(app_name="skew_probe", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui_url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    if not ui_url:
        print("Spark UI unavailable (existing session with ui disabled?)", file=sys.stderr)
        return 2

    spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
        "noop"
    ).mode("overwrite").save()

    flagged = []
    cpu_flagged = []
    print(
        "| query | worst stage read | tasks | median task | max task "
        "| max/median | peak task mem | cpu med | cpu max | cpu max/med |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|")
    for name in args:
        before = {
            (s["stageId"], s.get("attemptId", 0))
            for s in completed_stages(ui_url, app_id)
        }
        reg[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        fresh = [
            s
            for s in completed_stages(ui_url, app_id)
            if (s["stageId"], s.get("attemptId", 0)) not in before
        ]
        worst = None  # (ratio, stage_read, n_tasks, med, mx, flag)
        worst_cpu = None  # (ratio, med_ms, max_ms, flag)
        peak_mem = 0.0  # max per-task peakExecutionMemory over probed stages
        for s in fresh:
            _, med, mx, peak, rt_med, rt_max = task_read_quantiles(
                ui_url, app_id, s["stageId"], s.get("attemptId", 0)
            )
            peak_mem = max(peak_mem, peak)
            # CPU witness over EVERY fresh stage — a map-side quadratic
            # (the knn in-partition enumeration) never reads a shuffle.
            # Worst by ratio, ties by absolute max runtime (an all-1.0×
            # field should still surface the LONGEST task, with its task
            # count — a 1-task stage cannot exhibit measurable skew)
            rc = skew_ratio(rt_med, rt_max)
            stage_read = s.get("shuffleReadBytes", 0)
            if rt_max >= MIN_CPU_MS and (
                worst_cpu is None or (rc, rt_max) > (worst_cpu[0], worst_cpu[2])
            ):
                worst_cpu = (rc, rt_med, rt_max,
                             cpu_flag(rt_med, rt_max, cpu_check, stage_read),
                             s.get("numCompleteTasks", 0), stage_read)
            if s.get("shuffleReadBytes", 0) < MIN_STAGE:
                continue
            r = skew_ratio(med, mx)
            if worst is None or r > worst[0]:
                worst = (r, s["shuffleReadBytes"], s.get("numCompleteTasks", 0), med, mx,
                         skew_flag(med, mx, check))
        if worst_cpu is None:
            cpu_txt = f"(no task ≥ {MIN_CPU_MS / 1000:g} s) | — | —"
        else:
            rc, rt_med, rt_max, cflag, cpu_tasks, cpu_read = worst_cpu
            cmark = f" {cflag}" if cflag else (" (map)" if cpu_read <= 0 else "")
            if cflag:
                cpu_flagged.append(name)
            cpu_txt = (
                f"{rt_med / 1000:.2f} s | {rt_max / 1000:.2f} s "
                f"| {rc:.1f}× ({cpu_tasks} tasks){cmark}"
            )
        if worst is None:
            print(
                f"| {name} | (no stage ≥ {fmt_bytes(MIN_STAGE)} read) | — | — | — | — | — "
                f"| {cpu_txt} |"
            )
            continue
        r, stage_read, n_tasks, med, mx, flag = worst
        mark = f" {flag}" if flag else ""
        if flag:
            flagged.append(name)
        print(
            f"| {name} | {fmt_bytes(stage_read)} | {n_tasks} | {fmt_bytes(med)} "
            f"| {fmt_bytes(mx)} | {r:.1f}×{mark} | {fmt_bytes(peak_mem)} | {cpu_txt} |"
        )

    spark.stop()
    bad = False
    if flagged:
        print(f"\nSKEW-flagged (max task read > {check:g}× median, > {fmt_bytes(MIN_TASK)}): {flagged}")
        bad = True
    if cpu_flagged:
        print(
            f"\nCPU-flagged (max task executorRunTime > {cpu_check:g}× median, "
            f"≥ {MIN_CPU_MS / 1000:g} s): {cpu_flagged}"
        )
        bad = True
    if bad:
        return 1
    print(
        f"\nno stage's max task read exceeds {check:g}× its median and no task burns "
        f"{cpu_check:g}× the median CPU — no straggler keys at test scale"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
