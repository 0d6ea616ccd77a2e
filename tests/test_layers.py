"""Layering rules of the package: the operator library sits below the
query registry, so no operator module may import a query module; the
loop mechanics (lineage checkpoints, observed metrics) live only in
``utils_spark.plans``; the day bucket lives only in
``utils_spark.functions``; and the measurement tools read Spark's
in-process status store, never its REST API."""

from __future__ import annotations

import ast
import pathlib
import sys

PACKAGE_DIR = pathlib.Path(__file__).resolve().parent.parent / "utils_spark"
OPERATORS_DIR = PACKAGE_DIR / "operators"
TOOLS_DIR = PACKAGE_DIR.parent / "tools"


def _imported_modules(path: pathlib.Path) -> set[str]:
    mods = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            # `from utils_spark import queries` names the module in the alias
            mods.update(f"{node.module}.{a.name}" for a in node.names)
    return mods


def test_operators_do_not_import_queries():
    offenders = sorted(
        f"{path.name}: {mod}"
        for path in OPERATORS_DIR.glob("*.py")
        for mod in _imported_modules(path)
        if mod == "utils_spark.queries" or mod.startswith("utils_spark.queries.")
    )
    assert not offenders, offenders


def test_loop_mechanics_only_in_plans():
    """Operators and queries reach lineage checkpoints and observed metrics
    through ``plans`` (``cut_lineage``, ``observed_cut``, ``fixpoint``): a
    raw ``localCheckpoint`` keeps the carried ``sizeInBytes`` statistic
    that ``cut_lineage`` resets, and a hand-built ``Observation`` re-derives
    the round contract ``fixpoint`` owns."""
    offenders = []
    for path in sorted([*OPERATORS_DIR.glob("*.py"), *(PACKAGE_DIR / "queries").glob("*.py")]):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name in ("localCheckpoint", "Observation"):
                    offenders.append(f"{path.parent.name}/{path.name}:{node.lineno}: {name}")
    assert not offenders, offenders



def test_day_bucket_only_in_functions():
    """Queries bucket timestamps by day through ``functions.utc_day``, so
    the day policy (which truncation, which cast) is decided in one place.
    Oracle SQL strings are not calls and are not checked."""
    offenders = []
    for path in sorted((PACKAGE_DIR / "queries").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                unit = node.args[0] if node.args else None
                if (
                    name == "date_trunc"
                    and isinstance(unit, ast.Constant)
                    and str(unit.value).lower() == "day"
                ):
                    offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders

def test_tools_do_not_scrape_the_ui():
    """Tools read stages and task quantiles from the status store through
    perfbench's probes, which works with the UI off as ``get_spark`` leaves
    it; scraping the REST API needs the UI switched back on."""
    offenders = []
    for path in sorted(TOOLS_DIR.glob("*.py")):
        offenders += [f"{path.name}: {mod}" for mod in _imported_modules(path) if mod.split(".")[0] == "urllib"]
        if "spark.ui.enabled" in path.read_text():
            offenders.append(f"{path.name}: spark.ui.enabled")
    assert not offenders, offenders


def test_tools_do_not_shadow_the_standard_library():
    """A script's own directory comes first on its import path, so a
    ``tools/profile.py`` would be what cProfile (imported by pyspark) gets
    as ``profile`` in every other script there."""
    shadowing = sorted(p.name for p in TOOLS_DIR.glob("*.py") if p.stem in sys.stdlib_module_names)
    assert not shadowing, shadowing
