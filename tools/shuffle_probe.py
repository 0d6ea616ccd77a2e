"""Shuffle-VOLUME scaling probe: noise-immune 100 TB evidence.

The wall-clock probes (tools/scaling_probe.py) ride on host noise — this
round's box swings ±20% between idle runs. Shuffle bytes do not: for a
fixed plan, partitioning, and dataset they are deterministic, so the
sf0.01 → sf0.1 growth RATIO of a query's shuffle volume is a
host-independent witness of how its network cost scales with data. A
bucketed/banded design (cost tracks duplicate density) grows ~linearly
with the 10× data; a doc×doc or pair-explosion design grows ~100×. That
distinction — not seconds — is what breaks at 1000 executors.

    python tools/shuffle_probe.py                 # bench headline+tracked set
    python tools/shuffle_probe.py q1 q2 ...       # named registry queries
    python tools/shuffle_probe.py --check 15 ...  # custom CHECK ratio
    python tools/shuffle_probe.py --sf-small DIR --sf-big DIR ...
                                                  # custom SF pair (e.g. the
                                                  # sf0.001->sf0.01 3-point
                                                  # cross-check used in the
                                                  # r14 adjudications)

The table also reports the completed-STAGE count per run and flags a
query whose stage count grows with data (big > 1.5 x small + 2): for a
fixed declarative plan the stage count is plan-determined, so growth
means data-dependent control flow is multiplying jobs — a DRIVER-side
scale failure that bytes ratios cannot see (a loop that converges in
more sweeps at 10x data would still shuffle linear bytes per sweep).

For each query at each SF the probe runs the plan to the noop sink in
one warm UI-enabled JVM and reads the per-stage shuffle-write bytes from
Spark's public status REST API (/api/v1/applications/<id>/stages),
summing the delta attributable to that run. Prints a BENCH_NOTES-ready
table; exits 1 if any query's bytes ratio exceeds the CHECK threshold
(default 15× for 10× data — linear plus compression/partition slack).

Bytes ratios are comparable across rounds and hosts; re-run after
touching any heavy-shuffle operator.
"""

from __future__ import annotations

import json
import sys
import urllib.request

REPO = __file__.rsplit("/tools/", 1)[0]
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"

def default_queries() -> list[str]:
    """Probe bench.py's full headline + tracked set by default — the same
    registry-guarded lists the driver benches every round, so the probe
    table stays in sync with the bench surface with no hand-kept list
    (the bench-lists test already pins these names to the registry)."""
    import bench

    return list(bench.BENCH_QUERIES) + list(bench.TRACKED_QUERIES)


def completed_stages(ui_url: str, app_id: str) -> list[dict]:
    with urllib.request.urlopen(
        f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        return json.load(r)


def shuffle_write_snapshot(stages: list[dict]) -> tuple[int, set[tuple[int, int]]]:
    """Total shuffle-write bytes over completed stage attempts, plus the
    attempt keyset (so a delta can exclude everything already finished)."""
    total, seen = 0, set()
    for s in stages:
        key = (s["stageId"], s.get("attemptId", 0))
        seen.add(key)
        total += s.get("shuffleWriteBytes", 0)
    return total, seen


def run_delta(spark, fn, sf_dir: str, ui_url: str, app_id: str) -> tuple[int, int, int]:
    """(shuffle-write bytes, spill bytes, completed stages) attributable
    to one noop-sink run of fn. Spill = memory + disk bytes spilled: a
    nonzero reading means a partition outgrew executor memory at THIS
    scale — the per-partition sizing contract (SURVEY §7: partitions must
    fit) is already broken before any 100× scale-up. The stage count is
    the driver-side witness: it must not grow with data."""
    _, before = shuffle_write_snapshot(completed_stages(ui_url, app_id))
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    after = completed_stages(ui_url, app_id)
    fresh = [s for s in after if (s["stageId"], s.get("attemptId", 0)) not in before]
    shuffle = sum(s.get("shuffleWriteBytes", 0) for s in fresh)
    spill = sum(
        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in fresh
    )
    return shuffle, spill, len(fresh)


def scaling_flag(small: int, big: int, check: float) -> str | None:
    """CHECK mark for a (sf0.01, sf0.1) shuffle-bytes pair, or None if clean.

    0 → nonzero is the WORST superlinear signal (e.g. a broadcast join
    flipping to a shuffle join at the larger SF) — it must flag even
    though the ratio is inf rather than a comparable number.
    """
    if small > 0 and big / small > check:
        return f"**CHECK >{check:g}×**"
    if small == 0 and big > 0:
        return "**CHECK 0→shuffle**"
    return None


def stage_flag(small_stages: int, big_stages: int) -> str | None:
    """CHECK mark when the completed-stage count grows with data.

    A fixed declarative plan has a plan-determined stage count, so the
    two SFs should read nearly equal (AQE may re-split a handful). Real
    growth means data-dependent control flow — an iterative operator
    converging in more sweeps, or a driver loop keyed on row counts —
    which multiplies JOBS at scale even when each sweep's bytes stay
    linear. The 1.5×+2 slack absorbs AQE re-planning and boundary
    effects without masking a sweeps-scale-with-n loop."""
    if big_stages > 1.5 * small_stages + 2:
        return "**CHECK stages**"
    return None


def fmt_bytes(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024 or unit == "GB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{int(n)} B"
        n /= 1024
    return f"{n:.1f} GB"


def main() -> int:
    import os

    args = list(sys.argv[1:])
    check = 15.0
    if "--check" in args:
        i = args.index("--check")
        if i + 1 >= len(args):
            print("--check needs a ratio value", file=sys.stderr)
            return 2
        try:
            check = float(args[i + 1])
        except ValueError:
            # fail-fast contract (exit 2 + usage) must hold for a
            # non-numeric value too, e.g. `--check abc` or `--check q1`
            print(f"--check needs a ratio value, got {args[i + 1]!r}", file=sys.stderr)
            return 2
        del args[i : i + 2]
    sf_small, sf_big = SF_SMALL, SF_BIG
    for flag in ("--sf-small", "--sf-big"):
        if flag in args:
            i = args.index(flag)
            if i + 1 >= len(args) or not os.path.isdir(args[i + 1]):
                got = args[i + 1] if i + 1 < len(args) else None
                print(f"{flag} needs an existing directory, got {got!r}", file=sys.stderr)
                return 2
            if flag == "--sf-small":
                sf_small = args[i + 1]
            else:
                sf_big = args[i + 1]
            del args[i : i + 2]
    names = args or default_queries()

    from utils_spark.registry import load_all

    reg = load_all()
    unknown = [n for n in names if n not in reg]
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        return 2

    from utils_spark.session import get_spark

    spark = get_spark(app_name="shuffle_probe", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui_url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    if not ui_url:
        print("Spark UI unavailable (existing session with ui disabled?)", file=sys.stderr)
        return 2

    # warm the JVM/codegen off the books
    spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
        "noop"
    ).mode("overwrite").save()

    flagged, spilled, stage_flagged = [], [], []
    s_small, s_big = sf_small.rstrip("/").rsplit("/", 1)[-1], sf_big.rstrip("/").rsplit("/", 1)[-1]
    print(
        f"| query | {s_small} shuffle | {s_big} shuffle | bytes ratio "
        f"| {s_small}→{s_big} stages | {s_big} spill |"
    )
    print("|---|---|---|---|---|---|")
    for name in names:
        small, _, small_stages = run_delta(spark, reg[name].fn, sf_small, ui_url, app_id)
        big, big_spill, big_stages = run_delta(spark, reg[name].fn, sf_big, ui_url, app_id)
        # a fully map-side/broadcast plan shuffles ~0 at both SFs: linear
        ratio = (big / small) if small > 0 else (0.0 if big == 0 else float("inf"))
        flag = scaling_flag(small, big, check)
        mark = f" {flag}" if flag else ""
        if flag:
            flagged.append(name)
        sflag = stage_flag(small_stages, big_stages)
        smark = f" {sflag}" if sflag else ""
        if sflag:
            stage_flagged.append(name)
        if big_spill:
            spilled.append(name)
        rtxt = "~0× (no shuffle)" if small == 0 and big == 0 else f"{ratio:.1f}×"
        stxt = fmt_bytes(big_spill) if big_spill else "0"
        print(
            f"| {name} | {fmt_bytes(small)} | {fmt_bytes(big)} | {rtxt}{mark} "
            f"| {small_stages}→{big_stages}{smark} | {stxt} |"
        )

    spark.stop()
    if flagged or spilled or stage_flagged:
        if flagged:
            print(
                f"\nCHECK-flagged (bytes ratio > {check:g}× for "
                f"{s_small}→{s_big} data): {flagged}"
            )
        if stage_flagged:
            print(f"\nSTAGE-flagged (stage count grows with data — driver-side loop?): {stage_flagged}")
        if spilled:
            print(f"\nSPILL-flagged (partition outgrew memory at test scale): {spilled}")
        return 1
    print(
        f"\nall ratios ≤ {check:g}×, stage counts size-stable, zero spills — "
        "shuffle volume scales ~linearly"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
