"""Orchestrated DAG runs (reference docx §Orchestration/§Alerting):
the full setup→bronze→silver→gold→quality sequence through
pipeline/orchestrator.run_all, success and induced-failure paths."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import gold, orchestrator, silver
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog
from tests._catalog import drop_all
from tests.test_pipeline import _write_fixtures


@pytest.fixture()
def clean_catalog(spark):
    drop_all(spark)
    yield
    drop_all(spark)


def test_run_all_happy_path(spark, tmp_path, clean_catalog):
    src = tmp_path / "csv"
    src.mkdir()
    _write_fixtures(src)
    results = orchestrator.run_all(spark, str(src), with_forecast=False)
    assert [r.status for r in results.values()] == ["ok"] * 5
    assert list(results) == ["setup", "bronze", "silver", "gold", "quality"]
    assert all(r.attempts == 1 for r in results.values())
    # the written layers satisfy what the quality stage gated (a missing
    # column fails the aggregate)
    cols = [*gold.FEATURE_COLS, gold.LABEL_COL]
    g = spark.table(gold.OUTPUT_TABLE).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(gold.LABEL_COL).alias("lo"),
        F.sum(gold.LABEL_COL).alias("total"),
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols],
    ).first()
    s = spark.table(silver.OUTPUT_TABLE).agg(
        F.count(F.lit(1)).alias("n"), F.sum("transactions").alias("total")
    ).first()
    assert 0 < g.n < s.n <= spark.table("raw.transactions").count()
    assert not any(g[c] for c in cols) and g.lo >= 0 and g.total <= s.total
    # no error rows on success
    assert spark.table(catalog.ERROR_LOG_TABLE).count() == 0


def test_run_all_failure_logs_alerts_and_skips(spark, tmp_path, clean_catalog):
    # induced failure: source dir missing transactions.csv -> bronze raises
    src = tmp_path / "empty"
    src.mkdir()
    alerts = []
    results: dict[str, orchestrator.StageResult] = {}
    with pytest.raises(orchestrator.PipelineError) as err:
        orchestrator.run_all(
            spark,
            str(src),
            on_failure=lambda stage, exc: alerts.append(stage),
            results=results,
        )
    assert err.value.stage == "bronze"
    assert alerts == ["bronze"]
    assert results["setup"].status == "ok"
    assert results["bronze"].status == "failed"
    assert [results[s].status for s in ("silver", "gold", "quality")] == ["skipped"] * 3
    # E1: structured error row for the failing stage (reference
    # bronze_ingestion.py.py:32-46)
    errors = spark.table(catalog.ERROR_LOG_TABLE).collect()
    stages = {r.stage for r in errors}
    assert "bronze" in stages
    assert all(r.error_time is not None for r in errors)


def test_run_all_retries_transient_failure(spark, tmp_path, clean_catalog, monkeypatch):
    src = tmp_path / "csv"
    src.mkdir()
    _write_fixtures(src)
    from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import bronze

    calls = {"n": 0}
    real_run = bronze.run

    def flaky(spark_, source_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient listing failure")
        return real_run(spark_, source_dir)

    monkeypatch.setattr(orchestrator.bronze, "run", flaky)
    results = orchestrator.run_all(spark, str(src), with_forecast=False, max_attempts=2)
    assert results["bronze"].status == "ok"
    assert results["bronze"].attempts == 2


def test_run_all_incremental_daily_batches_and_replay(spark, tmp_path, clean_catalog):
    """mode='incremental': day-1 full delivery creates raw.*, day-2
    delivers only a transactions correction batch (other sources skip),
    corrected values flow through silver/gold, and replaying day 2
    leaves every layer value-identical (idempotence) with all quality
    gates green."""
    import datetime as dt

    src = tmp_path / "daily"
    day1 = src / "2017" / "02" / "01"
    day1.mkdir(parents=True)
    _write_fixtures(day1)

    d1 = dt.date(2017, 2, 1)
    results = orchestrator.run_all(
        spark, str(src), with_forecast=False, mode="incremental", batch_date=d1
    )
    assert [r.status for r in results.values()] == ["ok"] * 5
    n_raw_d1 = spark.table("raw.transactions").count()
    base_row = spark.table("raw.transactions").filter(
        "date = DATE'2016-12-02' AND store_nbr = 1"
    ).collect()[0]

    # day 2: correction for one existing key + one brand-new day of data
    day2 = src / "2017" / "02" / "02"
    day2.mkdir(parents=True)
    (day2 / "transactions.csv").write_text(
        "date,store_nbr,transactions\n"
        "2016-12-02,1,777\n"
        "2017-02-01,1,501\n2017-02-01,2,502\n"
    )
    d2 = dt.date(2017, 2, 2)
    results2 = orchestrator.run_all(
        spark, str(src), with_forecast=False, mode="incremental", batch_date=d2
    )
    assert [r.status for r in results2.values()] == ["ok"] * 5
    tx = spark.table("raw.transactions")
    assert tx.count() == n_raw_d1 + 2  # 1 correction (in place) + 2 inserts
    fixed = tx.filter("date = DATE'2016-12-02' AND store_nbr = 1").collect()[0]
    assert fixed.transactions == 777 and base_row.transactions != 777

    def snapshot(table):
        df = spark.table(table)
        return sorted(tuple(str(v) for v in row) for row in df.collect())

    snaps = {t: snapshot(t) for t in ("raw.transactions", "processed.sales_cleaned")}

    # replay day 2 (re-delivered batch): byte-identical layers
    results3 = orchestrator.run_all(
        spark, str(src), with_forecast=False, mode="incremental", batch_date=d2
    )
    assert [r.status for r in results3.values()] == ["ok"] * 5
    for t, before in snaps.items():
        assert snapshot(t) == before, f"{t} changed on replay"


def test_run_all_incremental_requires_batch_date(spark):
    with pytest.raises(ValueError, match="batch_date"):
        orchestrator.run_all(spark, "/nope", mode="incremental")
    with pytest.raises(ValueError, match="mode"):
        orchestrator.run_all(spark, "/nope", mode="weekly")
