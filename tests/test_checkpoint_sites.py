"""Lint: every ``localCheckpoint`` and every broadcast hint in the
package cites why it is there.

Under AQE a lazy checkpoint runs its shuffle stages at build time, and
exchange reuse or a plain recompute is often as fast. So each call needs
a ``#`` comment on its line or one of the three lines above that cites
its ``A/B`` with two measured timings, or says it cuts ``lineage`` in an
iterative loop. BASELINE.md ("Checkpoint audit") holds the A/Bs.

The session broadcasts any side estimated under 64 MB on its own, so a
``F.broadcast(`` / ``_gbcast(`` hint anywhere in the package needs the
same kind of comment: its ``A/B`` with two timings, or the
``tests/test_plans.py`` guard that fails without it. BASELINE.md
("Broadcast-hint audit") holds those A/Bs.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

TESTS = Path(__file__).resolve().parent
PKG = TESTS.parent / "grocery_store_sales_forecasting_etl_pipeline_spark"
_AB = r"A/B\b.*?\d+(?:\.\d+)?.*?\d+(?:\.\d+)?"
_REASON = re.compile(_AB + "|lineage")


def _uncited(paths, is_site, cites):
    """(offenders, seen): each call ``is_site`` accepts whose line or
    three lines above carry no comment that ``cites`` accepts."""
    offenders, seen = [], 0
    for path in paths:
        src = path.read_text()
        comments = {
            tok.start[0]: tok.string
            for tok in tokenize.generate_tokens(io.StringIO(src).readline)
            if tok.type == tokenize.COMMENT
        }
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call) and is_site(node.func):
                line = node.func.end_lineno  # the callee's line, not the chain's start
                seen += 1
                text = " ".join(comments.get(n, "") for n in range(line - 3, line + 1))
                if not cites(text):
                    offenders.append(f"{path.relative_to(PKG).as_posix()}:{line}")
    return offenders, seen


def test_every_checkpoint_cites_its_reason():
    offenders, seen = _uncited(
        sorted(PKG.rglob("*.py")),
        lambda f: getattr(f, "attr", None) == "localCheckpoint",
        _REASON.search,
    )
    assert not offenders, f"localCheckpoint without an A/B or lineage comment: {offenders}"
    assert seen > 0  # the walker must still find the checkpoints, or it has gone blind


def _is_hint(func) -> bool:
    if isinstance(func, ast.Name):
        return func.id == "_gbcast"
    return (
        isinstance(func, ast.Attribute)
        and func.attr == "broadcast"
        and isinstance(func.value, ast.Name)
        and func.value.id == "F"
    )


def test_every_broadcast_hint_cites_its_reason():
    guards = {
        node.name
        for node in ast.parse((TESTS / "test_plans.py").read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
    }

    def cites(text: str) -> bool:
        return bool(re.search(_AB, text)) or bool(guards & set(re.findall(r"test_\w+", text)))

    # sizing.py holds the gate's own F.broadcast; its callers cite theirs
    offenders, seen = _uncited(
        sorted(p for p in PKG.rglob("*.py") if p.name != "sizing.py"),
        _is_hint,
        cites,
    )
    assert not offenders, (
        f"broadcast hint without an A/B or a tests/test_plans.py guard comment: {offenders}"
    )
    assert seen > 0  # the walker must still find the hints, or it has gone blind
