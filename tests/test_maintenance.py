"""Upsert (MERGE analog) and compaction (OPTIMIZE analog) on plain
parquet tables — the docx-declared intent the reference never implements
(SURVEY.md §4 rows 'Upsert/merge to silver', 'Compaction')."""

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


def test_compact_reduces_files(spark, base_table):
    import glob

    # fragment the table with many small appends
    for i in range(5):
        spark.createDataFrame([(100 + i, "2024-09", 1.0)], "id long, month string, v double")\
            .write.mode("append").format("parquet").saveAsTable(base_table)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    files_before = len(glob.glob(f"{warehouse}/mxdb.db/t/*.parquet"))
    n_before = spark.table(base_table).count()
    mx.compact_table(spark, base_table, target_files=1)
    files_after = len(glob.glob(f"{warehouse}/mxdb.db/t/*.parquet"))
    assert spark.table(base_table).count() == n_before
    assert files_after < files_before
    assert files_after == 1
    # values intact
    assert spark.table(base_table).filter(F.col("id") == 1).first().v == 10.0


def test_partition_upsert_detects_cross_partition_key_movement(spark, partitioned_table):
    # id 1 moved from 2024-01 to a new partition: the guard must refuse
    # (the stale copy in the old partition would survive)
    moved = spark.createDataFrame(
        [(1, 999.0, "2024-03")], "id long, v double, month string"
    )
    with pytest.raises(ValueError, match="cross-partition key movement"):
        mx.partition_upsert(
            spark, partitioned_table, moved, keys=["id"], partition_cols=["month"],
            check_key_movement=True,
        )


def _tables(spark, db: str) -> set[str]:
    return {t.name for t in spark.catalog.listTables(db)}


def test_partition_upsert_stages_before_overwrite(spark, partitioned_table):
    updates = spark.createDataFrame(
        [(1, 111.0, "2024-01")], "id long, v double, month string"
    )
    n = mx.partition_upsert(
        spark, partitioned_table, updates, keys=["id"], partition_cols=["month"],
        check_key_movement=True,
    )
    assert n == 2  # merged rows of the affected 2024-01 partition
    # the stage table must not survive a successful run
    assert _tables(spark, "mxdb2") == {"t"}
    got = {r.id: r.v for r in spark.table(partitioned_table).collect()}
    assert got == {1: 111.0, 2: 20.0, 3: 30.0}


@pytest.mark.parametrize("rewrite", ["merge", "partition", "compact"])
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
        "compact": lambda: mx.compact_table(spark, t, partition_cols=["month"]),
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


def _delta_importable() -> bool:
    import importlib.util

    return importlib.util.find_spec("delta") is not None


def test_merge_upsert_parquet_path_when_no_delta(spark, base_table, monkeypatch):
    """In a session without the Delta extension the dispatch must select
    the portable staged path even if delta-spark were importable — and
    _is_delta_table must answer False without raising on a parquet
    table."""
    assert mx._is_delta_table(spark, base_table) is False
    updates = spark.createDataFrame(
        [(1, "2024-03", 99.0)], spark.table(base_table).schema
    )
    n = mx.merge_upsert(spark, base_table, updates, keys=["id"])
    assert n == spark.table(base_table).count()
    assert spark.table(base_table).filter("id = 1").collect()[0].v == 99.0


@pytest.mark.skipif(
    not _delta_importable(), reason="delta-spark not installed in this container"
)
def test_merge_upsert_delta_fast_path_matches_parquet(tmp_path_factory):
    """With delta-spark present: a MERGE INTO through the fast path must
    leave the same table state as the staged parquet path on the same
    inputs. (Runs only where the container ships delta-spark; the
    session here is built separately because Delta needs extension +
    catalog confs at build time.)"""
    from delta import configure_spark_with_delta_pip
    from pyspark.sql import SparkSession

    wh = str(tmp_path_factory.mktemp("delta_wh"))
    builder = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        .config("spark.sql.warehouse.dir", wh)
    )
    s = configure_spark_with_delta_pip(builder).getOrCreate()
    try:
        rows = [(1, "a", 1.0), (2, "b", 2.0)]
        upd = [(2, "b", 22.0), (3, "c", 3.0)]
        schema = "id INT, name STRING, val DOUBLE"
        s.createDataFrame(rows, schema).write.format("delta").saveAsTable("t_delta")
        s.createDataFrame(rows, schema).write.format("parquet").saveAsTable("t_parq")
        updates = s.createDataFrame(upd, schema)
        assert mx._is_delta_table(s, "t_delta") is True
        n_d = mx.merge_upsert(s, "t_delta", updates, keys=["id"])
        n_p = mx.merge_upsert(s, "t_parq", updates, keys=["id"])
        got_d = sorted(map(tuple, s.table("t_delta").collect()))
        got_p = sorted(map(tuple, s.table("t_parq").collect()))
        assert n_d == n_p == 3
        assert got_d == got_p == [(1, "a", 1.0), (2, "b", 22.0), (3, "c", 3.0)]
    finally:
        s.stop()


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
