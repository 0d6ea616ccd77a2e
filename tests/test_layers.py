"""Import-layering rules of the package: the operator library sits below
the query registry, so no operator module may import a query module."""

from __future__ import annotations

import ast
import pathlib

OPERATORS_DIR = pathlib.Path(__file__).resolve().parent.parent / "utils_spark" / "operators"


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
