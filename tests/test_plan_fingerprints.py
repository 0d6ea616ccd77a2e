"""tools/plan_fingerprints.py: its fail-fast argv contract and its --check
verdicts against the committed reference file and an altered copy."""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOL = REPO / "tools" / "plan_fingerprints.py"
FINGERPRINTS = REPO / "plans" / "fingerprints_sf0.001.json"
CHEAP = ["label_centroids", "embedding_stats"]


def _run(tool, *argv):
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    return subprocess.run([sys.executable, str(tool), *argv], capture_output=True, text=True, env=env, timeout=600)


def _tool_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location("plan_fingerprints", TOOL)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_normalize_renumbers_expression_ids():
    """Ids are renumbered, not deleted: the same plan built with other ids
    normalizes identically, but a reference to the other side of a
    self-join (same name, different id) still changes the text."""
    normalize = _tool_module().normalize
    plan = (
        "Project [v#{out}, transform(v#{va}, lambdafunction(lambda x_{lam}#{lam_id}, lambda x_{lam}#{lam_id}))]\n"
        "+- Join Inner, (k#{ka} = k#{kb}), none#0\n"
        "   :- InMemoryRelation [k#{ka}, v#{va}], UnsafeArrayData@{obj}\n"
        "   +- InMemoryRelation [k#{kb}, v#{vb}], plan_id={pid}"
    )
    ids = dict(ka=10, va=11, kb=12, vb=13, lam=40, lam_id=14, obj="1a2b", pid=7)
    left = normalize(plan.format(out=11, **ids))
    shifted = {k: v + 900 if isinstance(v, int) else "ffe0" for k, v in ids.items()}
    assert normalize(plan.format(out=911, **shifted)) == left
    assert normalize(plan.format(out=13, **ids)) != left
    assert "none#0" in left and "x_" not in left and "@1a2b" not in left and "plan_id=7" not in left


def test_argv_fails_fast():
    """Unknown names and flags exit 2 before a JVM starts."""
    for argv, needle in [
        (["not_a_query_xyz"], "unknown query names"),
        (["--check", "not_a_query_xyz"], "unknown query names"),
        (["--sf", "x"], "unrecognized arguments"),
    ]:
        out = _run(TOOL, *argv)
        assert out.returncode == 2, (argv, out.returncode, out.stderr)
        assert needle in out.stderr and "usage:" in out.stderr, (argv, out.stderr)
        assert "SparkContext" not in out.stderr, argv


def test_check_passes_on_reference_and_fails_on_altered_copy(tmp_path):
    table = json.loads(FINGERPRINTS.read_text())
    assert all(len(table[n]) == 40 for n in CHEAP), {n: table[n] for n in CHEAP}
    out = _run(TOOL, "--check", *CHEAP)
    assert out.returncode == 0, out.stdout + out.stderr[-3000:]
    assert out.stdout.split() == ["same", CHEAP[0], table[CHEAP[0]], "same", CHEAP[1], table[CHEAP[1]]]

    # the tool reads the reference file next to its own checkout
    (tmp_path / "tools").mkdir()
    (tmp_path / "plans").mkdir()
    shutil.copy(TOOL, tmp_path / "tools")
    altered = dict(table, **{CHEAP[1]: "0" * 40})
    (tmp_path / "plans" / FINGERPRINTS.name).write_text(json.dumps(altered))
    out = _run(tmp_path / "tools" / TOOL.name, "--check", *CHEAP)
    assert out.returncode == 1, out.stdout + out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert lines[0].startswith(f"same {CHEAP[0]} ")
    assert lines[1] == f"CHANGED {CHEAP[1]} {'0' * 40} -> {table[CHEAP[1]]}"
