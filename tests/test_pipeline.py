"""End-to-end medallion pipeline parity on Kaggle-shaped fixtures
(FIXTURES.md §A): bronze CSV ingest w/ quarantine → silver clean/join →
gold features + distributed forecast, asserting the reference's own
quality gates (test_data_quality.py.py:13-94) plus the load-bearing
lossy-cleaning semantics (SURVEY.md §2.5 note)."""

from __future__ import annotations

import datetime as dt

import pytest

import pyspark.sql.functions as F

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import quality as Q
from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import bronze, gold, silver
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog
from tests._catalog import drop_all

STORES = list(range(1, 11))
CITIES = {s: f"city{s % 4}" for s in STORES}  # functionally dependent on store


def _write_fixtures(d) -> None:
    # transactions: 2016-12-01..2017-01-31 (crosses ISO-week year boundary),
    # exact duplicates, a null value, two corrupt lines
    lines = ["date,store_nbr,transactions"]
    day = dt.date(2016, 12, 1)
    i = 0
    while day <= dt.date(2017, 1, 31):
        for s in STORES:
            lines.append(f"{day.isoformat()},{s},{100 + (i * 7 + s * 13) % 900}")
            i += 1
        day += dt.timedelta(days=1)
    lines.append("2016-12-05,3,139")  # duplicate key w/ identical value? ensure below
    lines += ["2017-01-05,notanint,12", "totally,garbage"]  # corrupt
    lines.append("2017-01-02,4,")  # null transactions -> na.drop casualty
    (d / "transactions.csv").write_text("\n".join(lines))

    # stores: FD attrs, one exact-duplicate row, one null-city row
    s_lines = ["store_nbr,city,state,type,cluster"]
    for s in STORES:
        s_lines.append(f"{s},{CITIES[s]},state{s % 3},A,{s % 5 + 1}")
    s_lines.append(f"1,{CITIES[1]},state1,A,2")  # duplicate store_nbr (FD attrs)
    s_lines.append("99,,stateX,B,3")  # null city -> dropped by na.drop
    (d / "stores.csv").write_text("\n".join(s_lines))

    # oil: weekdays only (weekend gaps drive the lossy post-join drop),
    # one null price
    o_lines = ["date,dcoilwtico"]
    day = dt.date(2016, 12, 1)
    while day <= dt.date(2017, 1, 31):
        if day.weekday() < 5:
            price = "" if day == dt.date(2016, 12, 14) else f"{50 + day.toordinal() % 10}.25"
            o_lines.append(f"{day.isoformat()},{price}")
        day += dt.timedelta(days=1)
    (d / "oil.csv").write_text("\n".join(o_lines))

    # holidays: real holidays, a transferred one (must be excluded), a
    # non-Holiday event, duplicate dates
    h_lines = ["date,type,locale,locale_name,description,transferred"]
    h_lines.append("2016-12-25,Holiday,National,X,Christmas,FALSE")
    h_lines.append("2016-12-25,Holiday,Local,Y,Christmas2,FALSE")  # dup date
    h_lines.append("2017-01-01,Holiday,National,X,NewYear,TRUE")  # transferred
    h_lines.append("2017-01-06,Event,National,X,SomeEvent,FALSE")  # not Holiday
    (d / "holidays_events.csv").write_text("\n".join(h_lines))

    (d / "test.csv").write_text("id,date,store_nbr,family,onpromotion\n1,2017-02-01,1,GROCERY,0")
    (d / "sample_submission.csv").write_text("id,sales\n1,0.0")


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("grocery_csv")
    _write_fixtures(src)
    drop_all(spark)
    catalog.bootstrap(spark)
    counts = bronze.run(spark, str(src))
    silver.run(spark)
    gold.run(spark, with_forecast=True)
    yield {"bronze_counts": counts}
    drop_all(spark)


def _null_counts(df, cols) -> dict[str, int]:
    """The columns that hold nulls, with their null counts (one pass)."""
    counts = df.agg(*[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols]).first()
    return {c: n for c, n in counts.asDict().items() if n}


def test_bronze_quarantine(spark, pipeline_run):
    # the two malformed transaction lines land in quarantine, not bronze
    assert pipeline_run["bronze_counts"]["transactions"][1] == 2
    quarantined = spark.table(bronze.QUARANTINE_TABLE)
    assert quarantined.count() == 2
    raws = {r.raw_record for r in quarantined.collect()}
    assert any("notanint" in r for r in raws)


def test_bronze_gates(spark, pipeline_run):
    tx = spark.table("raw.transactions")
    assert not tx.isEmpty()
    assert {"date", "store_nbr", "transactions"} <= set(tx.columns)
    # partitioned-by-date bronze gets year/month/source_file lineage
    assert {"year", "month", "source_file"} <= set(tx.columns)


def test_silver_semantics(spark, pipeline_run):
    sdf = spark.table("processed.sales_cleaned")
    # reference schema (test_data_quality.py.py:44-47)
    assert not sdf.isEmpty()
    assert {"date", "store_nbr", "transactions", "city", "state", "type",
            "cluster", "is_holiday", "dcoilwtico", "year", "month"} <= set(sdf.columns)
    assert not _null_counts(sdf, sdf.columns)
    # the lossy post-join na.drop: weekend dates (no oil quote) are GONE,
    # as is the null-price weekday
    dates = {r.date for r in sdf.select("date").distinct().collect()}
    assert all(d.weekday() < 5 for d in dates)
    assert dt.date(2016, 12, 14) not in dates
    # transferred holiday must NOT be flagged
    jan2 = sdf.filter((F.col("date") == "2017-01-02")).select("is_holiday").distinct().collect()
    assert all(not r.is_holiday for r in jan2)
    # store 99 (null city) never appears
    assert sdf.filter(F.col("store_nbr") == 99).count() == 0


def test_gold_features_and_forecast(spark, pipeline_run):
    gdf = spark.table("analytics.sales_forecast_features")
    expected = {
        "store_nbr", "year", "week", "weekly_transactions", "city", "state",
        "store_type", "store_cluster", "had_holiday", "avg_oil_price",
        "prev_week_transactions", "prev2_week_transactions", "mean_last4_weeks",
        "predicted_transactions",
    }
    assert not gdf.isEmpty()
    assert expected <= set(gdf.columns)
    assert not _null_counts(
        gdf, ["store_nbr", "year", "week", "weekly_transactions", "predicted_transactions"]
    )
    assert gdf.agg(F.min("weekly_transactions")).first()[0] >= 0
    # lag features really are lags: first 2 weeks per store were trimmed
    weeks_per_store = (
        gdf.groupBy("store_nbr").count().select(F.min("count")).first()[0]
    )
    assert weeks_per_store >= 1
    # predictions are finite doubles
    bad = gdf.filter(~F.col("predicted_transactions").isNotNull() | F.isnan("predicted_transactions")).count()
    assert bad == 0


def test_cross_layer_invariants(spark, pipeline_run):
    bronze_n = spark.table("raw.transactions").count()
    silver_n = spark.table("processed.sales_cleaned").count()
    gold_n = spark.table("analytics.sales_forecast_features").count()
    r = Q.expect_monotone_counts([("gold", gold_n), ("silver", silver_n), ("bronze", bronze_n)])
    assert r.passed, r.detail
    gold_sum = spark.table("analytics.sales_forecast_features").agg(
        F.sum("weekly_transactions")
    ).first()[0]
    bronze_sum = spark.table("raw.transactions").agg(F.sum("transactions")).first()[0]
    r = Q.expect_mass_conservation(gold_sum, bronze_sum)
    assert r.passed, r.detail


def test_error_log_on_missing_file(spark, pipeline_run):
    from grocery_store_sales_forecasting_etl_pipeline_spark.sources.csv_ingest import ingest_csv

    with pytest.raises(Exception):
        ingest_csv(spark, "/nonexistent/nope.csv", bronze.STORES_SCHEMA, "raw.nope")
    errors = spark.table(catalog.ERROR_LOG_TABLE)
    assert errors.filter(F.col("source_file") == "/nonexistent/nope.csv").count() == 1
    row = errors.first()
    assert row.error_time is not None and row.stage == "bronze_ingestion"


def test_per_group_forecast(spark, pipeline_run):
    from grocery_store_sales_forecasting_etl_pipeline_spark.ml.forecast import (
        train_predict_per_group,
    )

    feats = gold.build_features(spark.table("processed.sales_cleaned"))
    out = train_predict_per_group(feats)
    assert out.count() == feats.count()
    assert out.filter(F.col("predicted_transactions").isNull()).count() == 0
