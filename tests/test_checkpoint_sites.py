"""Lint: every ``localCheckpoint`` in the package cites why it is there.

Under AQE a lazy checkpoint runs its shuffle stages at build time, and
exchange reuse or a plain recompute is often as fast. So each call needs
a ``#`` comment on its line or one of the three lines above that cites
its ``A/B`` with two measured timings, or says it cuts ``lineage`` in an
iterative loop. BASELINE.md ("Checkpoint audit") holds the A/Bs.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "grocery_store_sales_forecasting_etl_pipeline_spark"
_REASON = re.compile(r"A/B\b.*?\d+(?:\.\d+)?.*?\d+(?:\.\d+)?|lineage")


def test_every_checkpoint_cites_its_reason():
    offenders, seen = [], 0
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        comments = {
            tok.start[0]: tok.string
            for tok in tokenize.generate_tokens(io.StringIO(src).readline)
            if tok.type == tokenize.COMMENT
        }
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "localCheckpoint":
                line = node.func.end_lineno  # the attribute's line, not the chain's start
                seen += 1
                text = " ".join(comments.get(n, "") for n in range(line - 3, line + 1))
                if not _REASON.search(text):
                    offenders.append(f"{path.relative_to(PKG).as_posix()}:{line}")
    assert not offenders, f"localCheckpoint without an A/B or lineage comment: {offenders}"
    assert seen > 0  # the walker must still find the checkpoints, or it has gone blind
