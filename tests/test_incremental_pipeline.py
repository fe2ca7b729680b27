"""Incremental daily-batch flow (docx §Source/§Schedule intent): day-2
CSVs ingest without rewriting day-1 bronze partitions, silver refreshes,
and re-delivered (duplicate) rows upsert idempotently."""

from __future__ import annotations

import datetime as dt
from functools import partial

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog, maintenance as mx
from grocery_store_sales_forecasting_etl_pipeline_spark.sources.csv_ingest import (
    ingest_csv,
    prepare_clean,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline.bronze import (
    TRANSACTIONS_SCHEMA,
)
from tests._catalog import drop_all


def _day_csv(d, day: dt.date, stores, base: int) -> str:
    lines = ["date,store_nbr,transactions"]
    for s in stores:
        lines.append(f"{day.isoformat()},{s},{base + s}")
    p = d / f"tx_{day.isoformat()}.csv"
    p.write_text("\n".join(lines))
    return str(p)


@pytest.fixture()
def incr_env(spark, tmp_path):
    drop_all(spark)
    catalog.bootstrap(spark)
    yield tmp_path
    drop_all(spark)


def _ingest_day(spark, csv_path: str) -> None:
    """Load one day's CSV the way bronze does: the first day creates the
    table, later days upsert into their partitions."""
    table = "raw.transactions_incr"
    if not spark.catalog.tableExists(table):
        ingest_csv(spark, csv_path, TRANSACTIONS_SCHEMA, table, partition_by_date=True)
        return
    keys, parts = ["date", "store_nbr"], ["year", "month"]
    upsert = partial(mx.partition_upsert, spark, table, keys=keys, partition_cols=parts)
    prepare_clean(spark, csv_path, TRANSACTIONS_SCHEMA, upsert, partition_by_date=True)


def test_daily_incremental_ingest_and_replay(spark, incr_env):
    stores = range(1, 6)
    d1 = _day_csv(incr_env, dt.date(2024, 1, 30), stores, 100)
    d2 = _day_csv(incr_env, dt.date(2024, 2, 1), stores, 200)

    _ingest_day(spark, d1)
    assert spark.table("raw.transactions_incr").count() == 5

    import glob
    import os

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    jan_files = glob.glob(f"{warehouse}/raw.db/transactions_incr/year=2024/month=1/*.parquet")
    jan_mtimes = {f: os.path.getmtime(f) for f in jan_files}

    _ingest_day(spark, d2)
    tbl = spark.table("raw.transactions_incr")
    assert tbl.count() == 10
    # day-2 ingest did not rewrite January files
    assert jan_mtimes == {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{warehouse}/raw.db/transactions_incr/year=2024/month=1/*.parquet")
    }

    # replaying day 2 (re-delivered batch) is idempotent
    _ingest_day(spark, d2)
    assert spark.table("raw.transactions_incr").count() == 10
    # and late-corrected values win on replay
    d2_fix = _day_csv(incr_env, dt.date(2024, 2, 1), stores, 900)
    _ingest_day(spark, d2_fix)
    feb = spark.table("raw.transactions_incr").filter("month = 2")
    assert {r.transactions for r in feb.collect()} == {901, 902, 903, 904, 905}


def test_observe_quality_rides_the_write_action(spark, sf_smoke, tmp_path):
    """observe_quality collects E2/E4/E5 metrics during the sink write
    itself — the job counter shows NO additional jobs beyond the write,
    and the collected metrics equal a recomputation."""
    import pyspark.sql.functions as F

    from grocery_store_sales_forecasting_etl_pipeline_spark.operators import quality as q

    o = spark.read.parquet(f"{sf_smoke}/orders.parquet")

    tracker = spark.sparkContext.statusTracker()
    # control: the same write WITHOUT observation, to measure the
    # write's own job count on this Spark version
    before_ctrl = len(tracker.getJobIdsForGroup(None) or [])
    o.write.mode("overwrite").parquet(str(tmp_path / "ctrl"))
    write_jobs = len(tracker.getJobIdsForGroup(None) or []) - before_ctrl

    observed, handle = q.observe_quality(
        o, no_null_cols=("o_orderkey", "o_custkey"), min_bounds={"o_totalprice": 0.0}
    )
    before = len(tracker.getJobIdsForGroup(None) or [])
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    results = handle.results()
    after = len(tracker.getJobIdsForGroup(None) or [])

    ok, failed = q.expect_all(results)
    assert ok, failed
    # the observed write runs EXACTLY the control's job count: the
    # gates add zero jobs (the regression this test exists to catch)
    assert after - before == write_jobs, (before, after, write_jobs)
    # metric values equal recomputation
    n = o.count()
    assert handle.obs.get["n_rows"] == n
    assert handle.obs.get["min__o_totalprice"] == o.agg(F.min("o_totalprice")).first()[0]


def test_observe_quality_flags_violations(spark):
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators import quality as q

    df = spark.createDataFrame(
        [(1, None, -5.0), (2, "x", 3.0)], "id long, s string, v double"
    )
    observed, handle = q.observe_quality(df, no_null_cols=("s",), min_bounds={"v": 0.0})
    observed.count()
    ok, failed = q.expect_all(handle.results())
    assert not ok and {r.name for r in failed} == {"quality:no_nulls:s", "quality:min_bound:v"}
