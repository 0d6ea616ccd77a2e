"""tools/query_profile.py: its gate helpers, its py4j round-trip counter, its
fail-fast argv contract and one end-to-end run."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

from conftest import SF_TEST

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOL = REPO / "tools" / "query_profile.py"
sys.path.insert(0, str(TOOL.parent))

import query_profile as P  # noqa: E402


def test_shuffle_gates():
    """Bytes ratio and stage growth between consecutive SFs."""
    # linear passes, superlinear flags, no-shuffle passes, and 0 -> nonzero
    # (a broadcast flipped to a shuffle) flags despite ratio = inf
    assert P.scaling_flag(100, 1000) is None
    assert P.scaling_flag(100, 1500) is None  # exactly 15x passes
    assert P.scaling_flag(100, 2000) == "bytes>15x"
    assert P.scaling_flag(0, 0) is None
    assert P.scaling_flag(0, 1) == "0->shuffle"
    # stage counts must be size-stable (1.5x+2 slack absorbs AQE re-planning)
    assert P.stage_flag(10, 10) is None
    assert P.stage_flag(10, 17) is None  # = 1.5*10+2, boundary passes
    assert P.stage_flag(10, 18) == "stages"
    assert P.stage_flag(2, 5) is None
    assert P.stage_flag(2, 6) == "stages"
    assert P.wall_flag(1.0, 3.0) is None
    assert P.wall_flag(1.0, 3.5).endswith("(advisory)")


def test_skew_gates():
    """Per-task read skew (8x, 1 MB floor) and reduce-stage CPU skew (4x, 1 s floor)."""
    assert P.skew_ratio(100.0, 900.0) == 9.0
    # median 0 with a nonzero max IS maximal skew, not a divide-by-zero
    assert P.skew_ratio(0.0, 5e6) == 5e6
    # a flag needs BOTH ratio > 8 AND absolute max > MIN_TASK_READ
    assert P.skew_flag(100.0, 900.0) is None  # 9x but only 900 B
    assert P.skew_flag(1e6, 3e6) is None  # big but only 3x
    assert P.skew_flag(1e6, 9e6) == "skew"
    assert P.skew_flag(0.0, 2 * P.MIN_TASK_READ) == "skew"
    # CPU: ratio > 4 AND slowest task >= MIN_CPU_MS AND a reduce stage
    assert P.cpu_flag(20.0, 400.0, 1.0) is None  # 20x but sub-second
    assert P.cpu_flag(800.0, 2400.0, 1.0) is None  # >= 1 s but only 3x
    assert P.cpu_flag(200.0, P.MIN_CPU_MS, 1.0) == "cpu"
    assert P.cpu_flag(0.0, 2 * P.MIN_CPU_MS, 1.0) == "cpu"
    assert P.cpu_flag(0.0, 2 * P.MIN_CPU_MS, 0.0) is None  # map stage: input layout

    def stage(sid, read, med, mx, rt_med, rt_max, peak):
        st = {"stageId": sid, "shuffleReadBytes": read, "numCompleteTasks": 4}
        q = {"peakExecutionMemory": [0.0, 0.0, peak], "executorRunTime": [0.0, rt_med, rt_max],
             "shuffleReadMetrics": {"readBytes": [0.0, med, mx]}}
        return st, q

    read, cpu, peak = P.stragglers([
        stage(1, 0, 0.0, 0.0, 100.0, 3000.0, 5.0),  # map stage: reported, never flagged
        stage(2, 2e7, 1e6, 9e6, 500.0, 600.0, 7.0),
        stage(3, 1e5, 0.0, 1e5, 0.0, 10.0, 1.0),  # reads < MIN_SKEW_STAGE: not judged
    ])
    assert (read["stage"], read["ratio"], read["flag"]) == (2, 9.0, "skew")
    assert (cpu["stage"], cpu["reduce"], cpu["flag"]) == (1, False, None)
    assert peak == 7.0

    prev = {"shuffle_write_bytes": 100, "stages": 2, "best_wall_s": 1.0}
    line = {"shuffle_write_bytes": 2000, "stages": 6, "best_wall_s": 4.0, "spill_bytes": 1,
            "read_skew": read, "cpu_skew": cpu}
    assert P.gate(line, prev) == ["bytes>15x", "stages", "wall>3x(advisory)", "spill", "skew"]
    assert P.gate(line, None) == ["spill", "skew"]


def test_round_trips_skip_memory_releases():
    class FakeClient:
        def __init__(self):
            self.sent = []

        def send_command(self, command, retry=True, binary=False):
            self.sent.append(command)
            return "yro"

    client = FakeClient()
    calls = P.RoundTrips(client)
    commands = ["c\no0\ncount\ne\n", "m\nd\no12\ne\n", "r\nu\nSparkConf\ne\n", "m\nd\no13\ne\n"]
    client.send_command(commands[0])  # not counting yet
    calls.counting = True
    for c in commands:
        assert client.send_command(c) == "yro"
    calls.counting = False
    client.send_command(commands[2])
    assert calls.calls == 2  # the two release commands are forwarded, not counted
    assert client.sent == [commands[0], *commands, commands[2]]


def test_argv_fails_fast():
    """Bad values and unknown names exit 2 before a JVM starts."""
    for argv, needle in [
        (["not_a_query_xyz"], "unknown query names"),
        (["--reps"], "--reps"),
        (["--reps", "abc"], "--reps"),
        (["--reps", "0"], "--reps needs"),
        (["--sf"], "--sf"),
        (["--sf", "/nonexistent_dir_xyz", "grouped_quantiles"], "--sf needs"),
        (["--check", "15"], "unrecognized arguments"),
    ]:
        out = subprocess.run([sys.executable, str(TOOL), *argv], capture_output=True, text=True, cwd=REPO)
        assert out.returncode == 2, (argv, out.returncode, out.stderr)
        assert needle in out.stderr and "usage:" in out.stderr, (argv, out.stderr)
        assert "SparkContext" not in out.stderr, argv


def test_profile_smoke():
    """One line per query; the stream query's line counts its stream-run stages."""
    out = subprocess.run(
        [sys.executable, str(TOOL), "--sf", SF_TEST, "grouped_quantiles", "stream_tumbling_counts"],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(x) for x in out.stdout.splitlines()]
    assert [x["query"] for x in lines] == ["grouped_quantiles", "stream_tumbling_counts"]
    for x in lines:
        assert x["jobs"] >= 1 and x["stages"] >= 1, x
        assert len(x["stage_rows"]) == x["stages"]
        assert all(len(r) == len(P.STAGE_COLUMNS) for r in x["stage_rows"])
    in_stream = P.STAGE_COLUMNS.index("in_stream")
    assert not any(r[in_stream] for r in lines[0]["stage_rows"])
    assert any(r[in_stream] for r in lines[1]["stage_rows"]), lines[1]["stage_rows"]
    assert lines[1]["stream_batches"] >= 1
