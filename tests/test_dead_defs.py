"""Lint: every top-level package function serves a workload, and every
package function the benchmark tracer wraps exists.

Counts, by AST, the identifiers used in the package, ``tools/``,
``perfbench/``, ``bench.py``, ``scale_probe.py`` and ``__spark_entry__.py``
(names, attributes, imports) and fails on any top-level package function
whose name occurs nowhere outside its own body, or only inside the
bodies of other such functions. ``tests/`` does not count as a caller:
code that only its own tests reach serves no query, pipeline stage, tool
or benchmark. ``@register`` builders are exempt: the query registry
calls them by name.

``perfbench/tracing.py`` wraps package functions by module and name, so
deleting or renaming one breaks ``perfbench/run.py --trace 1`` and
nothing else; the second lint reads those names from its ``install``.
"""

from __future__ import annotations

import ast
import importlib
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "grocery_store_sales_forecasting_etl_pipeline_spark"
SCOPE = (PKG, ROOT / "tools", ROOT / "perfbench")
ENTRY_POINTS = ("bench.py", "scale_probe.py", "__spark_entry__.py")

# The simhash64 flip is staged, not dead: ROADMAP ("The simhash64 flip
# stays staged at tools/postfreeze/") keeps it for a round that lets the
# simhash_candidates output change, and the patch there registers these.
STAGED = {"simhash64_candidates", "_simhash64_candidates_sql"}


def _identifiers(tree: ast.AST) -> Counter:
    return Counter(
        n.id if isinstance(n, ast.Name) else n.attr if isinstance(n, ast.Attribute)
        else n.name.rsplit(".", 1)[-1]
        for n in ast.walk(tree)
        if isinstance(n, (ast.Name, ast.Attribute, ast.alias))
    )


def _is_register(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(target, "id", getattr(target, "attr", None)) == "register"


def test_every_top_level_def_has_a_caller():
    paths = [p for base in SCOPE for p in sorted(base.rglob("*.py"))]
    paths += [ROOT / f for f in ENTRY_POINTS]
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in paths}
    used = sum((_identifiers(t) for t in trees.values()), Counter())
    defs = [
        (f"{p.relative_to(ROOT)}:{node.lineno} {node.name}", node)
        for p, tree in trees.items()
        if p.is_relative_to(PKG)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not any(_is_register(d) for d in node.decorator_list)
        and node.name not in STAGED
    ]
    uncalled: dict[str, ast.AST] = {}
    while True:
        # a call from inside an uncalled def is no caller
        live = used - sum((_identifiers(n) for n in uncalled.values()), Counter())
        found = {
            key: node
            for key, node in defs
            if key not in uncalled
            # a recursive call inside the def is not a caller either
            and live[node.name] <= _identifiers(node)[node.name]
        }
        if not found:
            break
        uncalled |= found
    assert not uncalled, (
        f"top-level defs with no caller outside tests/ (delete them): {sorted(uncalled)}"
    )


def test_every_traced_function_exists():
    tracer = ast.parse((ROOT / "perfbench" / "tracing.py").read_text())
    install = next(
        n for n in ast.walk(tracer) if isinstance(n, ast.FunctionDef) and n.name == "install"
    )
    modules = {
        alias.asname or alias.name: f"{node.module}.{alias.name}"
        for node in ast.walk(install)
        if isinstance(node, ast.ImportFrom) and node.module.startswith(PKG.name)
        for alias in node.names
    }
    wrapped = [
        (modules[call.args[0].id], call.args[1].value)
        for call in ast.walk(install)
        if isinstance(call, ast.Call)
        and getattr(call.func, "attr", None) in ("wrap", "wrap_everywhere")
        and isinstance(call.args[0], ast.Name)
        and call.args[0].id in modules
    ]
    assert wrapped, "found no (module, name) wrapped in the tracer's install()"
    missing = [
        f"{m}.{name}" for m, name in wrapped if not hasattr(importlib.import_module(m), name)
    ]
    assert not missing, f"the tracer wraps package functions that do not exist: {missing}"
