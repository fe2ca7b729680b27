"""Focused tests for the per-session base-table DataFrame cache in
plans/_tables.py (r11 optimization: skip repeated driver-side file
listing + footer schema reads inside timed query builds).

The cache memoizes only the LAZY frame handle — no data, no results —
so the contract to pin is: (a) repeat calls in one session return the
memoized handle, (b) a cached handle still computes fresh, correct
results, and (c) the events normalization is applied on the cached path
too.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from grocery_store_sales_forecasting_etl_pipeline_spark.plans import _tables


def test_repeat_call_returns_memoized_handle(spark, sf_smoke):
    a = _tables.table(spark, sf_smoke, "region")
    b = _tables.table(spark, sf_smoke, "region")
    assert a is b


def test_cache_keys_distinguish_dir_and_name(spark, sf_smoke, sf_oracle):
    assert _tables.table(spark, sf_smoke, "region") is not _tables.table(
        spark, sf_smoke, "nation"
    )
    assert _tables.table(spark, sf_smoke, "region") is not _tables.table(
        spark, sf_oracle, "region"
    )


def test_cached_handle_recomputes_fresh_results(spark, sf_smoke):
    df = _tables.table(spark, sf_smoke, "region")
    n1 = df.count()
    # a separate downstream plan over the same cached leaf
    n2 = _tables.table(spark, sf_smoke, "region").select("r_regionkey").count()
    assert n1 == n2 > 0


def test_events_normalized_on_cached_path(spark, sf_smoke):
    e1 = _tables.table(spark, sf_smoke, "events")
    e2 = _tables.table(spark, sf_smoke, "events")
    assert e1 is e2
    assert e1.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert e1.filter(F.col("ts").isNotNull()).count() > 0
