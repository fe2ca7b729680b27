"""Plan-size probes for scale-adaptive plan choices.

Some plan shapes have a SCALE-DEPENDENT winner: the same exact result
can come from a shape that is fastest when the input fits comfortably
in memory/page cache and from a different shape that is the only one
that survives a 10-100x scale-up (e.g. jaccard_pairs' shingle
checkpoint, quantile_bracket_audit's rank-selection path). Every gate
sizes its frame with ``plan_bytes`` — the optimized plan's size
estimate, free metadata, no job — and every gated site documents its
measured crossover A/B in BASELINE.md so the threshold is evidence, not
folklore. The thresholds were calibrated in on-disk bytes of a bare
scan, which is exactly what ``plan_bytes`` reports for one.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "plan_bytes",
    "record_gate",
    "gated_broadcast",
    "LAST_DECISIONS",
]

# site -> (bytes_seen, shape_chosen): the latest decision per gated
# site, queryable by tests and by a post-run bench audit.
LAST_DECISIONS: dict[str, tuple[int, str]] = {}


def record_gate(site: str, bytes_seen: int, shape: str) -> None:
    """Expose a size-gate decision: remember it in ``LAST_DECISIONS``
    and emit one stderr line, so a mis-sized frame shows up in bench
    output as a visibly wrong decision instead of as a silent slow
    path. Call once per gated build."""
    LAST_DECISIONS[site] = (bytes_seen, shape)
    # sys.stderr resolved per call, so the line lands on whatever stream
    # the host has live (bench subprocess pipes, pytest capture)
    print(
        f"spark_graft.sizing: gate {site}: plan_bytes={bytes_seen} -> shape={shape}",
        file=sys.stderr,
    )


def plan_bytes(df: DataFrame) -> int:
    """Spark's estimate of the frame's size: the optimized plan's
    ``stats().sizeInBytes`` — the same number the planner uses for its
    own join choice. Metadata-only (no job). For a bare file scan it is
    the on-disk bytes of the files read; unlike a leaf-file listing it
    survives ``localCheckpoint`` (the LogicalRDD keeps its origin's
    statistics) and follows the frame through projections, filters and
    joins."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


# --- size-gated broadcast hint ---------------------------------------------
#
# The session broadcasts any side estimated under 64 MB on its own, and
# AQE re-plans joins from runtime sizes, so a broadcast hint is kept
# only where a per-site A/B measured the query slower without it
# (BASELINE.md, "Broadcast-hint audit"); the lint in
# tests/test_checkpoint_sites.py makes each hint cite that A/B. A hint
# on a frame whose grain grows with the data also overrides AQE's
# size-based choice, so a frame that is 24 KB at sf0.1 but billions of
# rows at sf1e5 would be collected to the driver and shipped to every
# executor regardless.
#
# ``gated_broadcast`` keeps such a hint only while the frame's plan size
# estimate is small (512 MB: a few hundred MB broadcasts fine, multiple
# GB risks driver OOMs). Above the bound the hint is dropped and the
# planner + AQE choose from ACTUAL runtime sizes — which still yields a
# broadcast join for genuinely small aggregates (AQE rewrites SMJ->BHJ
# at stage boundaries) and a sort-merge join for entity-grain frames
# that outgrew memory.
#
# Results are identical either way (join strategy never changes rows);
# only the physical plan is scale-adaptive. Tests monkeypatch the bound
# (0 forces the no-hint path everywhere).
_BCAST_INPUT_MAX = 512 * 1024 * 1024


def gated_broadcast(df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` while df's ``plan_bytes`` stay under
    ``_BCAST_INPUT_MAX``; the bare frame (planner + AQE decide) above
    it. Drop-in replacement for ``F.broadcast`` at call sites whose
    frame grain scales with the data. Every decision is recorded under
    the nearest calling site inside the package."""
    size = plan_bytes(df)
    keep = size <= _BCAST_INPUT_MAX
    record_gate(
        f"gated_broadcast@{_package_caller()}", size, "broadcast" if keep else "no-hint(AQE)"
    )
    return F.broadcast(df) if keep else df


_PACKAGE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_caller() -> str:
    """``file:line`` of the nearest caller frame inside the package, so
    a wrapper around ``gated_broadcast`` (a tracer, a test spy) does not
    become the recorded site; the direct caller when none is inside."""
    first = frame = sys._getframe(2)
    while frame is not None and not frame.f_code.co_filename.startswith(_PACKAGE_DIR):
        frame = frame.f_back
    frame = frame or first
    return f"{os.path.basename(frame.f_code.co_filename)}:{frame.f_lineno}"
