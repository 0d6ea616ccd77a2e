"""Layering rules of the package: the operator library sits below the
query registry, so no operator module may import a query module; and the
loop mechanics (lineage checkpoints, observed metrics) live only in
``utils_spark.plans``."""

from __future__ import annotations

import ast
import pathlib

PACKAGE_DIR = pathlib.Path(__file__).resolve().parent.parent / "utils_spark"
OPERATORS_DIR = PACKAGE_DIR / "operators"


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
