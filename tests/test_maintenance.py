"""Keyed upserts (MERGE analog) on plain parquet tables and the SCD2
history merge — the docx-declared intent the reference never implements
(SURVEY.md §4 row 'Upsert/merge to silver')."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.sources import maintenance as mx


@pytest.fixture()
def base_table(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS mxdb")
    df = spark.createDataFrame(
        [(1, "2024-01", 10.0), (2, "2024-01", 20.0), (3, "2024-02", 30.0)],
        "id long, month string, v double",
    )
    df.write.mode("overwrite").format("parquet").saveAsTable("mxdb.t")
    yield "mxdb.t"
    spark.sql("DROP DATABASE mxdb CASCADE")


def test_merge_upsert_updates_and_inserts(spark, base_table):
    updates = spark.createDataFrame(
        [(2, "2024-01", 99.0), (4, "2024-03", 40.0)], "id long, month string, v double"
    )
    n = mx.merge_upsert(spark, base_table, updates, keys=["id"])
    assert n == 4
    rows = {r.id: r.v for r in spark.table(base_table).collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_merge_upsert_schema_mismatch_rejected(spark, base_table):
    bad = spark.createDataFrame([(9, "x")], "id long, other string")
    with pytest.raises(ValueError, match="schema mismatch"):
        mx.merge_upsert(spark, base_table, bad, keys=["id"])


@pytest.fixture()
def partitioned_table(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS mxdb2")
    df = spark.createDataFrame(
        [(1, 10.0, "2024-01"), (2, 20.0, "2024-01"), (3, 30.0, "2024-02")],
        "id long, v double, month string",
    )
    df.write.mode("overwrite").partitionBy("month").format("parquet").saveAsTable("mxdb2.t")
    yield "mxdb2.t"
    spark.sql("DROP DATABASE mxdb2 CASCADE")


def test_partition_upsert_touches_only_affected_partition(spark, partitioned_table):
    import glob
    import os

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    untouched = glob.glob(f"{warehouse}/mxdb2.db/t/month=2024-02/*.parquet")
    mtimes_before = {f: os.path.getmtime(f) for f in untouched}

    updates = spark.createDataFrame(
        [(2, 99.0, "2024-01"), (5, 50.0, "2024-01")], "id long, v double, month string"
    )
    n = mx.partition_upsert(
        spark, partitioned_table, updates, keys=["id"], partition_cols=["month"]
    )
    assert n == 3  # rows written into the affected partition
    rows = {r.id: r.v for r in spark.table(partitioned_table).collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 5: 50.0}
    # the 2024-02 partition files were not rewritten
    mtimes_after = {f: os.path.getmtime(f) for f in glob.glob(
        f"{warehouse}/mxdb2.db/t/month=2024-02/*.parquet"
    )}
    assert mtimes_before == mtimes_after


def test_partition_upsert_reads_only_affected_partition(spark, partitioned_table):
    import glob

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # an unreadable untouched partition: any scan that lists it fails
    for f in glob.glob(f"{warehouse}/mxdb2.db/t/month=2024-02/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"not parquet")
    spark.catalog.refreshTable(partitioned_table)

    updates = spark.createDataFrame([(2, 99.0, "2024-01")], "id long, v double, month string")
    n = mx.partition_upsert(
        spark, partitioned_table, updates, keys=["id"], partition_cols=["month"]
    )
    assert n == 2
    jan = spark.table(partitioned_table).filter(F.col("month") == "2024-01")
    assert {r.id: r.v for r in jan.collect()} == {1: 10.0, 2: 99.0}


def _tables(spark, db: str) -> set[str]:
    return {t.name for t in spark.catalog.listTables(db)}


def test_partition_upsert_stages_before_overwrite(spark, partitioned_table):
    updates = spark.createDataFrame(
        [(1, 111.0, "2024-01")], "id long, v double, month string"
    )
    n = mx.partition_upsert(
        spark, partitioned_table, updates, keys=["id"], partition_cols=["month"]
    )
    assert n == 2  # merged rows of the affected 2024-01 partition
    # the stage table must not survive a successful run
    assert _tables(spark, "mxdb2") == {"t"}
    got = {r.id: r.v for r in spark.table(partitioned_table).collect()}
    assert got == {1: 111.0, 2: 20.0, 3: 30.0}


def test_partition_upsert_file_batch_plans_a_broadcast_anti_join(
    spark, partitioned_table, tmp_path, monkeypatch
):
    """A batch read from files reports its size, so the key anti-join
    plans as a broadcast up front, unlike a statistics-less
    createDataFrame batch whose sort-merge join AQE demotes only at run
    time."""
    import re

    plans = []
    rewrite = mx.rewrite_staged

    def spy(spark_, table, df, dynamic=False):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return rewrite(spark_, table, df, dynamic)

    monkeypatch.setattr(mx, "rewrite_staged", spy)
    path = str(tmp_path / "batch")
    spark.createDataFrame(
        [(2, 99.0, "2024-01"), (5, 50.0, "2024-01")], "id long, v double, month string"
    ).write.parquet(path)
    n = mx.partition_upsert(
        spark, partitioned_table, spark.read.parquet(path), keys=["id"], partition_cols=["month"]
    )
    assert n == 3
    assert len(plans) == 1
    assert re.search(r"BroadcastHashJoin \[id#\d+L\], \[id#\d+L\], LeftAnti", plans[0]), plans[0]
    assert "SortMergeJoin" not in plans[0], plans[0]


@pytest.mark.parametrize("rewrite", ["merge", "partition"])
def test_rewrite_drops_its_stage_and_survives_a_failed_insert(
    spark, partitioned_table, monkeypatch, rewrite
):
    """A rewrite leaves no stage table behind. When its insert from the
    stage fails, the table keeps its rows, the stage is dropped, nothing
    stays cached and the overwrite mode is back at its prior value (set
    here to the one the rewrite does not use)."""
    from pyspark.sql import DataFrameWriter

    def fail(*args, **kwargs):
        raise RuntimeError("insert failed")

    t, mode = partitioned_table, "spark.sql.sources.partitionOverwriteMode"
    updates = spark.createDataFrame([(2, 99.0, "2024-01")], "id long, v double, month string")
    run = {
        "merge": lambda: mx.merge_upsert(spark, t, updates, keys=["id"]),
        "partition": lambda: mx.partition_upsert(spark, t, updates, ["id"], ["month"]),
    }[rewrite]
    run()
    assert _tables(spark, "mxdb2") == {"t"}
    before = sorted(map(tuple, spark.table(t).collect()))
    prior = "static" if rewrite == "partition" else "dynamic"
    spark.catalog.clearCache()
    monkeypatch.setattr(DataFrameWriter, "insertInto", fail)
    spark.conf.set(mode, prior)
    try:
        with pytest.raises(RuntimeError, match="insert failed"):
            run()
        assert spark.conf.get(mode) == prior
    finally:
        spark.conf.unset(mode)
    assert sorted(map(tuple, spark.table(t).collect())) == before
    assert _tables(spark, "mxdb2") == {"t"}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_merge_upsert_preserves_partitioning(spark, partitioned_table):
    """A keyed merge on a partitioned table must rewrite WITH the
    table's partition columns — the first upsert used to silently
    flatten year/month partitioning (values right, pruning lost)."""
    updates = spark.createDataFrame(
        [(2, 99.0, "2024-01"), (4, 40.0, "2024-03")], "id long, v double, month string"
    )
    n = mx.merge_upsert(spark, partitioned_table, updates, keys=["id"])
    assert n == 4
    parts = [c.name for c in spark.catalog.listColumns(partitioned_table) if c.isPartition]
    assert parts == ["month"]
    rows = {r.id: (r.v, r.month) for r in spark.table(partitioned_table).collect()}
    assert rows == {1: (10.0, "2024-01"), 2: (99.0, "2024-01"), 3: (30.0, "2024-02"), 4: (40.0, "2024-03")}
    # physical layout really is partitioned (directory per month)
    import glob

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert glob.glob(f"{warehouse}/mxdb2.db/t/month=2024-03"), "partition dirs gone"


def test_scd2_merge_branches_and_idempotence(spark):
    """All four SCD2 branches over a tiny dimension, plus: re-merging
    the SAME snapshot is a no-op, and a third version extends history
    without touching closed rows."""
    import pyspark.sql.functions as F

    from grocery_store_sales_forecasting_etl_pipeline_spark.sources.maintenance import scd2_merge

    v1 = spark.createDataFrame(
        [(1, "A", 1, None), (2, "B", 1, None), (3, "C", 1, None)],
        "k long, attr string, valid_from long, valid_to long",
    )
    snap2 = spark.createDataFrame(
        [(1, "A"), (2, "B2"), (4, "D")], "k long, attr string"
    )  # 1 unchanged, 2 changed, 3 deleted, 4 added
    h2 = scd2_merge(v1, snap2, keys=["k"], version=2)
    rows = {(r.k, r.attr, r.valid_from, r.valid_to) for r in h2.collect()}
    assert rows == {
        (1, "A", 1, None),
        (2, "B", 1, 2),
        (2, "B2", 2, None),
        (3, "C", 1, 2),
        (4, "D", 2, None),
    }
    # open-row uniqueness per live key
    open_counts = (
        h2.filter(F.col("valid_to").isNull()).groupBy("k").count().collect()
    )
    assert all(r["count"] == 1 for r in open_counts)
    # idempotence: same snapshot again changes nothing
    h2b = scd2_merge(h2, snap2, keys=["k"], version=3)
    assert {(r.k, r.attr, r.valid_from, r.valid_to) for r in h2b.collect()} == rows
    # v3: key 4 changes; closed history from v2 untouched
    snap3 = spark.createDataFrame([(1, "A"), (2, "B2"), (4, "D3")], "k long, attr string")
    h3 = scd2_merge(h2, snap3, keys=["k"], version=3)
    rows3 = {(r.k, r.attr, r.valid_from, r.valid_to) for r in h3.collect()}
    assert (4, "D", 2, 3) in rows3 and (4, "D3", 3, None) in rows3
    assert (2, "B", 1, 2) in rows3  # closed history immutable


def test_scd2_merge_rejects_wrong_columns(spark):
    import pytest

    from grocery_store_sales_forecasting_etl_pipeline_spark.sources.maintenance import scd2_merge

    cur = spark.createDataFrame([(1, "A")], "k long, attr string")  # no stamps
    snap = spark.createDataFrame([(1, "A")], "k long, attr string")
    with pytest.raises(ValueError, match="SCD2 columns"):
        scd2_merge(cur, snap, keys=["k"], version=2)


def test_scd2_pit_join_uniqueness(spark, sf_oracle):
    """Each sampled order resolves to AT MOST one dimension row (exactly
    one unless its customer was deleted before the order's version)."""
    import pyspark.sql.functions as F

    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational8 import (
        scd2_pit_join,
    )

    out = scd2_pit_join(spark, sf_oracle)
    dup = out.groupBy("o_orderkey").count().filter(F.col("count") > 1).count()
    assert dup == 0, "an order matched two history rows for one as-of version"


def test_scd2_merge_validate_rejects_duplicate_keys(spark):
    """validate=True asserts the natural-key preconditions instead of
    silently fanning duplicates through the full-outer join."""
    import pytest

    from grocery_store_sales_forecasting_etl_pipeline_spark.sources.maintenance import scd2_merge

    current = spark.createDataFrame(
        [(1, "a", 0, None), (1, "b", 0, None)],
        "k long, attr string, valid_from long, valid_to long",
    )
    snap = spark.createDataFrame([(1, "a")], "k long, attr string")
    with pytest.raises(ValueError, match="multiple OPEN rows"):
        scd2_merge(current, snap, ["k"], 1, validate=True)

    ok_current = spark.createDataFrame(
        [(1, "a", 0, None)], "k long, attr string, valid_from long, valid_to long"
    )
    dup_snap = spark.createDataFrame([(1, "a"), (1, "b")], "k long, attr string")
    with pytest.raises(ValueError, match="duplicate natural keys"):
        scd2_merge(ok_current, dup_snap, ["k"], 1, validate=True)

    # clean inputs with validate on: unchanged single-open-row merge
    out = scd2_merge(ok_current, snap, ["k"], 1, validate=True).collect()
    assert len(out) == 1 and out[0].valid_to is None
