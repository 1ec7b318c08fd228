"""Census of the environment variables the engine package reads.

Only deployment settings may come from the environment; behaviour and tuning
live in code (or in ``PipelineConfig``/``ModelConfig``). A new key read
anywhere under ``latex_ocr_spark/`` fails this test until it is added here.
"""

from __future__ import annotations

import ast
import pathlib

from latex_ocr_spark import sources

PKG = pathlib.Path(__file__).resolve().parent.parent / "latex_ocr_spark"

DEPLOYMENT_KEYS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", sources.TABLE_FORMAT_ENV}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _key_exprs(tree: ast.AST):
    """Every expression used as a key into the environment: ``environ[k]``,
    ``environ.get(k)`` (any method), ``os.getenv(k)`` and ``k in environ``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                _is_environ(f.value) or f.attr == "getenv"
            ):
                yield node.args[0]
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) and _is_environ(c)
            for op, c in zip(node.ops, node.comparators)
        ):
            yield node.left


def _resolve(expr: ast.AST, consts: dict[str, str], where: str) -> str:
    if isinstance(expr, ast.Constant) and isinstance(expr.value, str):
        return expr.value
    if isinstance(expr, ast.Name) and expr.id in consts:
        return consts[expr.id]
    return f"<non-literal key at {where}>"


def env_keys_read() -> dict[str, list[str]]:
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        consts = {
            t.id: node.value.value
            for node in tree.body
            if isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for expr in _key_exprs(tree):
            where = f"{path.relative_to(PKG.parent)}:{expr.lineno}"
            found.setdefault(_resolve(expr, consts, where), []).append(where)
    return found


def test_only_deployment_settings_are_read_from_the_environment():
    found = env_keys_read()
    assert set(found) == DEPLOYMENT_KEYS, found


def test_census_sees_every_access_form():
    tree = ast.parse(
        "import os\nK = 'D'\n"
        "os.environ['A']\nos.environ.get('B', '1')\nos.getenv('C')\n"
        "'E' in os.environ\nos.environ.get(K)\n"
    )
    keys = {_resolve(e, {"K": "D"}, "t") for e in _key_exprs(tree)}
    assert keys == {"A", "B", "C", "D", "E"}
