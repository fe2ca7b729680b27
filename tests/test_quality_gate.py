"""The quality gate rides the silver and gold writes: the observed
metrics equal a recount of the written tables, the ``quality`` stage
launches no Spark job, a violation still stops the run, and a retried
stage hands the quality stage its new handles."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import gold, orchestrator, silver
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog
from tests._catalog import drop_all
from tests.test_pipeline import _write_fixtures


@pytest.fixture()
def src(spark, tmp_path):
    _write_fixtures(tmp_path)
    drop_all(spark)
    yield tmp_path
    drop_all(spark)


def _job_ids(spark) -> set[int]:
    """Every job started so far, after the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _recount(df, nulls=(), mins=(), sums=()) -> dict:
    """The observed metrics, recomputed by one aggregate over a table."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls__{c}") for c in nulls],
        *[F.min(c).alias(f"min__{c}") for c in mins],
        *[F.sum(c).alias(f"sum__{c}") for c in sums],
    ).first().asDict()


def test_metrics_match_a_recount_and_quality_adds_no_job(spark, src, monkeypatch):
    seen = {}
    real_silver, real_gold = silver.run, gold.run

    def spy_silver(spark_):
        seen["bronze"], seen["silver"] = handles = real_silver(spark_)
        return handles

    def spy_gold(spark_, with_forecast=True):
        seen["gold"] = real_gold(spark_, with_forecast)
        seen["jobs_at_gold"] = _job_ids(spark_)
        return seen["gold"]

    monkeypatch.setattr(orchestrator.silver, "run", spy_silver)
    monkeypatch.setattr(orchestrator.gold, "run", spy_gold)
    results = orchestrator.run_all(spark, str(src), with_forecast=False)
    assert _job_ids(spark) - seen["jobs_at_gold"] == set()
    assert [r.status for r in results.values()] == ["ok"] * 5

    assert seen["bronze"].n_rows == spark.table("raw.transactions").count()
    sdf = spark.table(silver.OUTPUT_TABLE)
    assert seen["silver"].metrics == _recount(sdf, sums=("transactions",))
    label = gold.LABEL_COL
    gdf = spark.table(gold.OUTPUT_TABLE)
    recount = _recount(gdf, nulls=(*gold.FEATURE_COLS, label), mins=(label,), sums=(label,))
    assert seen["gold"].metrics == recount and recount["n_rows"] > 0


def test_negative_label_stops_the_run(spark, src):
    # a kept weekday (it has an oil quote) drives its store-week negative
    tx = src / "transactions.csv"
    tx.write_text(re.sub(r"^2017-01-10,3,\d+$", "2017-01-10,3,-100000", tx.read_text(), flags=re.M))
    alerts = []
    results: dict[str, orchestrator.StageResult] = {}
    with pytest.raises(orchestrator.PipelineError) as err:
        orchestrator.run_all(spark, str(src), with_forecast=False, results=results,
                             on_failure=lambda stage, exc: alerts.append(stage))
    label_check = f"gold:min_bound:{gold.LABEL_COL}"
    assert err.value.stage == "quality" and label_check in str(err.value)
    assert {r.name for r in err.value.cause.failures} == {label_check}
    assert alerts == ["quality"] and results["quality"].status == "failed"
    errors = spark.table(catalog.ERROR_LOG_TABLE)
    assert errors.filter(F.col("stage") == "quality").count() == 1


def test_retried_silver_hands_quality_its_new_handles(spark, src, monkeypatch):
    attempts, checked = [], []
    real_silver, real_checks = silver.run, orchestrator.quality_checks

    def flaky_silver(spark_):
        attempts.append(real_silver(spark_))
        if len(attempts) == 1:
            raise RuntimeError("transient commit failure after the write")
        return attempts[-1]

    def spy_checks(spark_, *handles):
        checked.append(handles)
        return real_checks(spark_, *handles)

    monkeypatch.setattr(orchestrator.silver, "run", flaky_silver)
    monkeypatch.setattr(orchestrator, "quality_checks", spy_checks)
    results = orchestrator.run_all(spark, str(src), with_forecast=False, max_attempts=2)
    assert results["silver"].attempts == 2 and results["quality"].status == "ok"
    assert [handles[:2] for handles in checked] == [attempts[1]]
