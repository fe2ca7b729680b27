#!/usr/bin/env python3
"""Compare two traced-run ledgers layer by layer.

    python3 perfbench/ledger_diff.py BASE.json NEW.json [--ops]

Ledgers are the files ``run.py --trace 1`` writes under
``.perfbench_work/results``. The first table compares the workload's
per-layer metrics (medians over the traced warm passes); ``--ops`` adds
one table per operation (query or pipeline batch), comparing the median
of each layer metric over that operation's traced warm executions.
A ratio is NEW / BASE; ``-`` marks a zero base.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path


def _load(path: str) -> dict:
    ledger = json.loads(Path(path).read_text())
    if not ledger.get("trace"):
        sys.exit(f"{path}: not a traced run (run.py --trace 1)")
    return ledger


def _per_op(ledger: dict) -> dict[str, dict[str, float]]:
    """Operation name -> layer metric -> median over traced warm executions.
    Pipeline batches are keyed by kind, not date, so two seeds compare."""
    samples: dict[str, dict[str, list[float]]] = {}
    for ops in ledger["warm"]:
        for op in ops:
            if not op.get("traced") or "layers" not in op:
                continue
            name = op["name"].split(" ")[0]
            row = samples.setdefault(name, {})
            for key, value in {"wall_s": op["wall_s"], **op["layers"]}.items():
                row.setdefault(key, []).append(value)
    return {n: {k: statistics.median(v) for k, v in row.items()} for n, row in samples.items()}


def _table(title: str, base: dict[str, float], new: dict[str, float]) -> None:
    print(f"\n## {title}")
    print(f"{'metric':34s} {'base':>14s} {'new':>14s} {'delta':>14s} {'ratio':>7s}")
    for key in sorted(set(base) | set(new)):
        b, n = base.get(key, 0.0), new.get(key, 0.0)
        if b == 0 and n == 0:
            continue
        ratio = f"{n / b:7.3f}" if b else "      -"
        print(f"{key:34s} {b:14.4f} {n:14.4f} {n - b:14.4f} {ratio}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--ops", action="store_true", help="also compare each operation")
    args = ap.parse_args()
    base, new = _load(args.base), _load(args.new)
    if base["workload"] != new["workload"]:
        print(f"warning: comparing {base['workload']} with {new['workload']}", file=sys.stderr)
    print(f"# {base['workload']}: seed {base['seed']} vs seed {new['seed']}")
    _table("workload (per traced pass)", base["metrics"], new["metrics"])
    if args.ops:
        b_ops, n_ops = _per_op(base), _per_op(new)
        for name in sorted(set(b_ops) | set(n_ops)):
            _table(name, b_ops.get(name, {}), n_ops.get(name, {}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
