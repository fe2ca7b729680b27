"""Lint: the package reads only deployment settings from the environment.

An env flag that switches engine behaviour (a kill switch, an escape
hatch, a tuning bound) is a second code path that the test suite and the
benchmark do not exercise by default. Tunables are module constants that
tests monkeypatch; the environment only says where and how big the
deployment is. This test finds every ``os.environ`` / ``os.getenv`` use
in the package by AST and fails on any name outside the allow-list.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "grocery_store_sales_forecasting_etl_pipeline_spark"

ALLOWED = {
    "session.py": {
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_MASTER",
    },
    "plans/simops.py": {"SPARK_GRAFT_ORACLE_DIR"},
}


def _is_os_attr(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST):
    """(line, key) for every environment access; key is None when it is
    not a string literal (a computed name cannot be allow-listed)."""
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                yield node.lineno, None
            continue
        if _is_os_attr(node, "getenv"):
            call = parent.get(node)
            if isinstance(call, ast.Call) and call.args:
                key = call.args[0]
        elif _is_os_attr(node, "environ"):
            up = parent.get(node)
            if isinstance(up, ast.Attribute) and isinstance(parent.get(up), ast.Call):
                args = parent[up].args  # os.environ.get(...) and friends
                key = args[0] if args else None
            elif isinstance(up, ast.Subscript):
                key = up.slice
            elif isinstance(up, ast.Compare):
                key = up.left  # "NAME" in os.environ
        else:
            continue
        yield node.lineno, key.value if isinstance(key, ast.Constant) else None


def test_package_reads_only_deployment_env_settings():
    offenders = []
    seen = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for line, key in _env_reads(ast.parse(path.read_text(), filename=rel)):
            seen.add((rel, key))
            if key not in ALLOWED.get(rel, set()):
                offenders.append(f"{rel}:{line} reads {key or '<non-literal name>'}")
    assert not offenders, (
        "environment reads outside the deployment allow-list (make the "
        f"setting a module constant instead): {offenders}"
    )
    # the walker must still see the allowed reads, or it has gone blind
    assert seen == {(rel, key) for rel, keys in ALLOWED.items() for key in keys}
