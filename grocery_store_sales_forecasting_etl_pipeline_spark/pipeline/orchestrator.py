"""Pipeline orchestration (reference docx §"Orchestration"/§"Alerting").

The reference runs the medallion pipeline as a daily scheduled job —
setup → bronze → silver → gold → data-quality tests — that stops at the
first failing stage and alerts on failure. This module is that outermost
surface, engine-side and scheduler-agnostic:

- ``run_all`` sequences the stages with fail-fast semantics: a stage
  failure error-logs to ``logs.etl_errors`` (E1 — the same structured
  row the reference writes at bronze_ingestion.py.py:32-46), marks the
  remaining stages skipped, fires the alert callback, and re-raises.
- Bounded per-stage retries (``max_attempts``) cover the transient
  failure class a daily job actually sees (late-arriving files, catalog
  races); deterministic failures exhaust attempts immediately.
- Alerting is a pluggable callback (``on_failure``) rather than a baked
  email channel: a scheduler (Airflow/Jobs/cron) attaches whatever
  transport it has. The default callback prints to stderr so a bare
  cron run still surfaces the failure.

Scale notes: orchestration is pure control flow on the driver — each
stage's heavy lifting stays in its own module's distributed plan; the
only driver-side state is per-stage status rows and the quality handles
the silver and gold stages return. The quality gate evaluates the E2-E6
checks (operators/quality.py) on metrics those writes observed, so it
launches no Spark job of its own.
"""

from __future__ import annotations

import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import quality as Q
from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import bronze, gold, silver
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog
from grocery_store_sales_forecasting_etl_pipeline_spark.sources.error_log import log_error


class PipelineError(RuntimeError):
    """A stage failed after exhausting its attempts."""

    def __init__(self, stage: str, cause: BaseException):
        super().__init__(f"stage '{stage}' failed: {cause}")
        self.stage = stage
        self.cause = cause


class QualityGateError(RuntimeError):
    """The quality stage found failing expectations."""

    def __init__(self, failures):
        super().__init__(
            "quality gate failed: " + "; ".join(f"{r.name} ({r.detail})" for r in failures)
        )
        self.failures = list(failures)


@dataclass
class StageResult:
    name: str
    status: str = "pending"  # ok | failed | skipped
    attempts: int = 0
    seconds: float = 0.0
    detail: str = ""


def _default_alert(stage: str, exc: BaseException) -> None:
    print(f"[pipeline-alert] stage={stage} failed: {exc}", file=sys.stderr)


def quality_checks(
    spark: SparkSession,
    bronze_obs: Q.QualityObservation,
    silver_obs: Q.QualityObservation,
    gold_obs: Q.QualityObservation,
) -> list[Q.CheckResult]:
    """Cross-layer E2-E6 gate (reference test_data_quality.py.py:13-94
    run as a pipeline stage, not a test) over the metrics the silver and
    gold writes observed; reads only the gold schema, runs no job."""
    return [
        *bronze_obs.results(),
        *silver_obs.results(),
        *gold_obs.results(),
        Q.expect_columns(
            spark.table(gold.OUTPUT_TABLE), [*gold.FEATURE_COLS, gold.LABEL_COL], "gold:columns"
        ),
        Q.expect_monotone_counts(
            [(o.name, o.n_rows) for o in (gold_obs, silver_obs, bronze_obs)], name="layer_counts"
        ),
        Q.expect_mass_conservation(
            gold_obs.sum(gold.LABEL_COL), silver_obs.sum("transactions"), "transaction_mass"
        ),
    ]


def run_all(
    spark: SparkSession,
    source_dir: str,
    with_forecast: bool = True,
    max_attempts: int = 1,
    on_failure: Callable[[str, BaseException], None] | None = None,
    results: dict[str, StageResult] | None = None,
    mode: str = "full",
    batch_date=None,
) -> dict[str, StageResult]:
    """Run the full DAG: setup → bronze → silver → gold → quality.

    ``mode="full"`` (default) ingests ``<source_dir>/<name>.csv`` with
    overwrite semantics. ``mode="incremental"`` ingests the daily folder
    ``<source_dir>/YYYY/MM/DD`` for ``batch_date`` via keyed upserts
    (``bronze.run_incremental``) — bronze partitions outside the batch
    are untouched, replaying the same day is idempotent, and silver/gold
    rebuild deterministically from the upserted raw state, so a replayed
    day leaves every DATA layer byte-identical. The quarantine table is
    the deliberate exception: it is an append-only audit log, so a
    replayed batch with corrupt rows records them again (each with its
    own timestamp) — delivery attempts are facts worth keeping.

    Fail-fast: the first stage that exhausts ``max_attempts`` writes a
    structured row to ``logs.etl_errors``, triggers ``on_failure``,
    marks downstream stages skipped, and raises ``PipelineError``.
    Returns {stage: StageResult} (also populated into ``results`` when
    given, so callers still see per-stage status after the raise).
    """
    if mode not in ("full", "incremental"):
        raise ValueError(f"mode must be 'full' or 'incremental', got {mode!r}")
    if mode == "incremental" and batch_date is None:
        raise ValueError("mode='incremental' requires batch_date")
    alert = on_failure or _default_alert

    # what each stage's successful attempt returned (silver's and gold's
    # quality handles)
    returned: dict[str, object] = {}

    def _quality() -> None:
        ok, failed = Q.expect_all(quality_checks(spark, *returned["silver"], returned["gold"]))
        if not ok:
            raise QualityGateError(failed)

    def _bronze():
        if mode == "incremental":
            return bronze.run_incremental(spark, source_dir, batch_date)
        return bronze.run(spark, source_dir)

    stages: list[tuple[str, Callable[[], object]]] = [
        ("setup", lambda: catalog.bootstrap(spark)),
        ("bronze", _bronze),
        ("silver", lambda: silver.run(spark)),
        ("gold", lambda: gold.run(spark, with_forecast=with_forecast)),
        ("quality", _quality),
    ]
    out = results if results is not None else {}
    for name, _ in stages:
        out[name] = StageResult(name)

    failed_stage: PipelineError | None = None
    for name, fn in stages:
        res = out[name]
        if failed_stage is not None:
            res.status = "skipped"
            res.detail = f"upstream stage '{failed_stage.stage}' failed"
            continue
        t0 = time.perf_counter()
        last_exc: Exception | None = None
        for attempt in range(1, max_attempts + 1):
            res.attempts = attempt
            try:
                returned[name] = fn()
                last_exc = None
                break
            # Exception only: KeyboardInterrupt/SystemExit must abort the
            # pipeline immediately, not be retried max_attempts times.
            except Exception as exc:  # noqa: BLE001 — logged + re-raised below
                last_exc = exc
        res.seconds = round(time.perf_counter() - t0, 3)
        if last_exc is None:
            res.status = "ok"
        else:
            res.status = "failed"
            res.detail = f"{type(last_exc).__name__}: {last_exc}"
            # E1: structured error row, then alert. The error log itself
            # must never mask the original failure.
            try:
                log_error(
                    spark,
                    message=f"{traceback.format_exception_only(last_exc)[-1].strip()}",
                    stage=name,
                    source_file=source_dir,
                )
            except BaseException as log_exc:  # pragma: no cover
                print(f"[pipeline-alert] error-log write failed: {log_exc}", file=sys.stderr)
            alert(name, last_exc)
            failed_stage = PipelineError(name, last_exc)

    if failed_stage is not None:
        raise failed_stage
    return out
