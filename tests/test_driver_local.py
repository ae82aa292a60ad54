"""Tooling guard, no Spark: every driver-built table in the engine goes
through ``session.local_frame``. A ``createDataFrame`` call anywhere else
(a list, a pandas frame) would bring back a Python RDD whose every read or
broadcast starts Python-worker tasks."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "watchman_spark"


def _create_dataframe_calls(tree: ast.AST):
    """Yield (enclosing function name or None, line) per createDataFrame call."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "createDataFrame":
                    yield fn, child.lineno
            yield from walk(child, fn)

    return walk(tree, None)


def test_create_dataframe_only_in_local_frame():
    allowed = []
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn, line in _create_dataframe_calls(tree):
            where = f"{path.relative_to(PKG.parent)}:{line}"
            if path.name == "session.py" and fn == "local_frame":
                allowed.append(where)
            else:
                offenders.append(where)
    assert not offenders, f"createDataFrame outside session.local_frame: {offenders}"
    assert len(allowed) == 1, allowed  # the scan itself still sees the one real call


def test_guard_catches_nested_and_bare_calls():
    src = (
        "def dim(spark):\n"
        "    def inner():\n"
        "        return spark.createDataFrame([(1,)], 'a int')\n"
        "    return inner()\n"
        "x = createDataFrame([])\n"
    )
    assert list(_create_dataframe_calls(ast.parse(src))) == [("inner", 3), (None, 5)]
