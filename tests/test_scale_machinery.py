"""Scale-machinery guarantees: bucketed co-located joins plan with zero
exchanges, salted joins return plain-join results, incremental loads
tolerate schema drift."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.operators.joins import salted_join
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import sinks


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_smoke):
    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    li = _t(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    orders = _t(spark, sf_smoke, "orders").select("o_orderkey", "o_totalprice")
    sinks.write_bucketed(li, "bktdb.li_b", ["l_orderkey"], 8, sort_by=["l_orderkey"])
    sinks.write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "bktdb.ord_b",
        ["l_orderkey"],
        8,
        sort_by=["l_orderkey"],
    )
    yield "bktdb.li_b", "bktdb.ord_b"
    spark.sql("DROP DATABASE bktdb CASCADE")


def test_bucketed_join_no_exchange(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    # disable auto-broadcast: at real scale both sides are too big for it —
    # the point is that bucketing then removes the shuffle entirely
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(li_t).join(spark.table(ord_t), "l_orderkey")
        _assert_colocated(spark, joined, li_t)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _assert_colocated(spark, joined, li_t):
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # co-located + co-sorted buckets: SMJ with neither exchange nor sort
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # and the result is right
    n = joined.count()
    assert n == spark.table(li_t).count()  # every lineitem has its order


def test_salted_join_equivalence(spark, sf_smoke):
    li = _t(spark, sf_smoke, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    orders = _t(spark, sf_smoke, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey")
    salted = salted_join(li, orders, "l_orderkey", n_salts=4)
    key = lambda r: (r.l_orderkey, r.l_linenumber, r.l_quantity, r.o_totalprice)  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))


def test_incremental_load_schema_drift(spark, tmp_path):
    d1, d2 = str(tmp_path / "day1"), str(tmp_path / "day2")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(d1)
    spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double").write.parquet(d2)
    out = sinks.load_incremental(spark, [d1, d2])
    rows = {r.id: (r.v, r.score) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_salted_join_rejects_outer_how(spark, sf_smoke):
    import pytest

    from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t

    li = _t(spark, sf_smoke, "lineitem").select(F.col("l_orderkey"))
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(li, li, "l_orderkey", how="full_outer")


def test_write_path_partitioned_roundtrip(spark, sf_smoke, tmp_path):
    # S9: real path write (partitioned) + re-read; reference
    # gold_feature.py.py:71-76 writes a year-partitioned path
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
    from grocery_store_sales_forecasting_etl_pipeline_spark.sources.sinks import write_path

    orders = _t(spark, sf_smoke, "orders").withColumn("year", F.year("o_orderdate"))
    target = str(tmp_path / "orders_by_year")
    write_path(orders, target, partition_by=["year"])

    back = spark.read.parquet(target)
    assert back.count() == orders.count()
    # partition dirs exist on disk and the partition column round-trips
    years = {r.year for r in orders.select("year").distinct().collect()}
    import pathlib

    dirs = {p.name for p in pathlib.Path(target).iterdir() if p.name.startswith("year=")}
    assert dirs == {f"year={y}" for y in years}
    # partition pruning reaches the scan on the re-read
    one_year = sorted(years)[0]
    plan = back.filter(F.col("year") == one_year)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan


def test_format_pluggable_sink(spark, sf_smoke, tmp_path):
    import importlib.util

    import pytest

    from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
    from grocery_store_sales_forecasting_etl_pipeline_spark.sources import sinks

    region = _t(spark, sf_smoke, "region")
    have_delta = importlib.util.find_spec("delta") is not None
    if have_delta and not sinks.delta_enabled(spark):
        # package present but session lacks the extension: still parquet
        assert sinks.resolve_format(region, None) == "parquet"
    if not have_delta:
        assert sinks.delta_enabled(spark) is False
        assert sinks.resolve_format(region, None) == "parquet"
        # auto mode round-trips through parquet
        target = str(tmp_path / "auto_fmt")
        sinks.write_path(region, target, fmt=None)
        assert spark.read.parquet(target).count() == region.count()
    else:  # pragma: no cover - container ships without delta-spark
        pytest.skip("delta-spark installed: delta-side behavior covered elsewhere")
    # explicit fmt always wins over auto-detection
    assert sinks.resolve_format(region, "parquet") == "parquet"
    assert sinks.resolve_format(region, "delta") == "delta"


def test_orc_sink_roundtrip_with_pushdown(spark, sf_smoke, tmp_path):
    """ORC is the second columnar format the pluggable sinks support out
    of the box (fmt="orc", no extra packages): values round-trip exactly,
    and the ORC reader gets the same predicate pushdown + column pruning
    the parquet scan does."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
    from grocery_store_sales_forecasting_etl_pipeline_spark.sources.sinks import write_path

    orders = _t(spark, sf_smoke, "orders")
    target = str(tmp_path / "orders_orc")
    write_path(orders, target, fmt="orc")

    back = spark.read.orc(target)
    assert back.count() == orders.count()
    # exact value parity through the format round-trip
    key = lambda r: (r.o_orderkey,)
    assert sorted(back.collect(), key=key) == sorted(orders.collect(), key=key)

    plan = (
        back.filter(F.col("o_orderkey") == 1)
        .select("o_orderkey", "o_totalprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)" in plan, plan
    # column pruning: only the two projected columns reach the reader
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan, plan


def test_sizing_gate_decisions_are_exposed(spark, sf_smoke, capsys):
    """Every size-gated plan choice must be observable (VERDICT r10 #5):
    one stderr log line + a LAST_DECISIONS entry recording bytes seen
    and shape chosen, so a mis-sized derived frame shows up in bench
    output as a visibly wrong decision rather than as a silent slow
    path. capsys, not caplog: the line is printed to stderr, so it
    appears under ANY host logging config."""
    from grocery_store_sales_forecasting_etl_pipeline_spark import plans
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators import sizing

    sizing.LAST_DECISIONS.clear()
    capsys.readouterr()  # drain anything buffered before the gated builds
    plans.REGISTRY["quantile_bracket_audit"].build(spark, sf_smoke)
    plans.REGISTRY["doc_ngram_jaccard"].build(spark, sf_smoke)

    # sf0.001 inputs sit far below both 512 MB / 32 MB thresholds, so
    # both gates must pick their small-input shape — and say so
    b, shape = sizing.LAST_DECISIONS["quantile_bracket_audit"]
    assert shape == "per_flag_sort" and b is not None and b < 512 * 1024 * 1024
    b, shape = sizing.LAST_DECISIONS["jaccard_pairs.shingle_checkpoint"]
    assert shape == "recompute" and b is not None and b < 32 * 1024 * 1024
    err = capsys.readouterr().err
    gate_lines = [l for l in err.splitlines() if l.startswith("spark_graft.sizing:")]
    assert len(gate_lines) == 2, gate_lines
    assert all("plan_bytes=" in l and "shape=" in l for l in gate_lines)

    # an explicit materialize_shingles decision bypasses the gate — no
    # decision recorded, because none was taken
    sizing.LAST_DECISIONS.clear()
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup import jaccard_pairs
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t

    docs = _t(spark, sf_smoke, "documents")
    jaccard_pairs(docs, "doc_id", "text", materialize_shingles=False)
    assert "jaccard_pairs.shingle_checkpoint" not in sizing.LAST_DECISIONS
