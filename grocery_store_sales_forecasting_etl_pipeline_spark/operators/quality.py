"""Data-quality gates (reference §2.13 E2-E6, test_data_quality.py.py:13-94).

The row-level metrics (E2 row counts, E4 null counts, E5 minimums and the
sums E6b compares) are observed on the frame a pipeline writes
(``observe_quality``), so they ride the write's own tasks: no re-scan and
no extra Spark job. The other checks are pure functions of those metrics
or of a schema. Every check returns a ``CheckResult`` instead of raising,
so pipelines can gate, log, or fail-fast as policy dictates;
``expect_all`` aggregates.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


@dataclass
class CheckResult:
    name: str
    passed: bool
    detail: str = ""


def expect_columns(df: DataFrame, required: Sequence[str], name: str = "columns") -> CheckResult:
    """E3: required columns present (test_data_quality.py.py:17-21)."""
    missing = sorted(set(required) - set(df.columns))
    return CheckResult(name, not missing, f"missing: {missing}" if missing else "")


def expect_monotone_counts(
    counts: Sequence[tuple[str, int]], strict_first: bool = True, name: str = "monotone_counts"
) -> CheckResult:
    """E6a: layer row counts ordered, e.g. gold < silver <= bronze
    (test_data_quality.py.py:81-86). ``counts`` ordered smallest-first."""
    for (na, a), (nb, b) in zip(counts, counts[1:]):
        if strict_first and not a < b:
            return CheckResult(name, False, f"{na}={a} !< {nb}={b}")
        if not strict_first and not a <= b:
            return CheckResult(name, False, f"{na}={a} !<= {nb}={b}")
        strict_first = False  # only the first comparison is strict in the reference
    return CheckResult(name, True)


def expect_mass_conservation(
    part: float | None, whole: float | None, name: str = "mass_conservation"
) -> CheckResult:
    """E6b: aggregated measure must not exceed its source total
    (test_data_quality.py.py:88-94)."""
    ok = part is not None and whole is not None and part <= whole
    return CheckResult(name, ok, f"{part} > {whole}" if not ok else "")


def expect_all(results: Sequence[CheckResult]) -> tuple[bool, list[CheckResult]]:
    failed = [r for r in results if not r.passed]
    return (not failed, list(failed))


@dataclass
class QualityObservation:
    """Binds an ``Observation`` to the metric config it was built with,
    so the check side can never drift from the observe side (a mismatch
    would otherwise KeyError after the expensive action already ran).
    ``name`` prefixes every check, so a failure names its layer."""

    name: str
    obs: object
    no_null_cols: tuple[str, ...]
    min_bounds: dict[str, float]

    @property
    def metrics(self) -> dict:
        """The collected metrics (blocks until the observed action has run)."""
        return self.obs.get

    @property
    def n_rows(self) -> int:
        return self.metrics["n_rows"]

    def sum(self, col: str):
        return self.metrics[f"sum__{col}"]

    def results(self) -> list[CheckResult]:
        """E2/E4/E5 checks over the collected metrics."""
        m, pre = self.metrics, self.name
        out = [CheckResult(f"{pre}:nonempty", m["n_rows"] > 0, "" if m["n_rows"] else "no rows")]
        for c in self.no_null_cols:
            n = m[f"nulls__{c}"]
            out.append(CheckResult(f"{pre}:no_nulls:{c}", n == 0, f"null count: {n}" if n else ""))
        for c, bound in self.min_bounds.items():
            lo = m[f"min__{c}"]
            ok = lo is not None and lo >= bound
            detail = "" if ok else f"min({c})={lo} < {bound}"
            out.append(CheckResult(f"{pre}:min_bound:{c}", ok, detail))
        return out


def observe_quality(
    df: DataFrame,
    no_null_cols: Sequence[str] = (),
    min_bounds: dict[str, float] | None = None,
    sum_cols: Sequence[str] = (),
    name: str = "quality",
):
    """Attach the row count, null counts of ``no_null_cols``, minimums of
    the ``min_bounds`` columns and sums of ``sum_cols`` to ``df`` via
    ``Dataset.observe``: they are collected DURING the action that
    already materializes the frame (a sink write), so the gate costs no
    extra scan, where a check-then-write gate costs one job per check and
    the reference's per-column counts N full scans
    (test_data_quality.py.py:23-28).

    Returns ``(df_with_observation, QualityObservation)``; run one action
    on the returned frame, then read the handle. ``name`` must be unique
    among the observations of one plan.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls__{c}") for c in no_null_cols],
        *[F.min(c).alias(f"min__{c}") for c in (min_bounds or {})],
        *[F.sum(c).alias(f"sum__{c}") for c in sum_cols],
    ]
    handle = QualityObservation(name, obs, tuple(no_null_cols), dict(min_bounds or {}))
    return df.observe(obs, *metrics), handle
