"""Bronze ingests its sources concurrently (pipeline/bronze.py): one
write job per source plus one quarantine append per source with corrupt
rows, every job tagged with the caller's job group, and counts that match
a recount; a first daily load writes the same way. A daily upsert splits
its delivery the same way too: corrupt lines never reach the upsert and
are quarantined only once it succeeds. The shared audit tables and the
session-global partition overwrite mode stay correct under concurrent
writers, and the job counts of a partition upsert and of a daily
dimension upsert are pinned."""

from __future__ import annotations

import datetime as dt
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pyspark.sql.functions as F
import pytest
from pyspark.util import inheritable_thread_target

from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline import bronze, orchestrator
from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog, maintenance
from tests._catalog import drop_all
from tests.test_pipeline import _write_fixtures

GROUP = "bronze-under-test"


def _job_ids(spark, group: str | None = None) -> set[int]:
    """Jobs in ``group`` (None: jobs with no group), after the listener
    bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _run_in_group(spark, group: str, fn):
    """``fn()`` with its jobs in ``group``; returns its result and the
    number of jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(_job_ids(spark, group))


def _append(path, line: str) -> None:
    with path.open("a") as f:
        f.write("\n" + line)


@pytest.fixture()
def src(spark, tmp_path):
    _write_fixtures(tmp_path)  # two malformed transactions lines
    _append(tmp_path / "stores.csv", "notanint,Quito,state1,A,1")
    drop_all(spark)
    catalog.bootstrap(spark)
    yield tmp_path
    drop_all(spark)


def _quarantined_by_source(spark) -> dict[str, int]:
    rows = spark.table(bronze.QUARANTINE_TABLE).groupBy("source_file").count().collect()
    return {r.source_file.rsplit("/", 1)[-1].removesuffix(".csv"): r["count"] for r in rows}


def _assert_written_once(spark, counts: dict, n_jobs: int) -> None:
    """One write job per source plus one append per source with corrupt
    rows, and counts equal to a recount of each table and the quarantine."""
    with_corrupt = [name for name, (_, n_q) in counts.items() if n_q]
    assert sorted(with_corrupt) == ["stores", "transactions"]
    assert n_jobs == len(bronze.SOURCES) + len(with_corrupt)
    assert list(counts) == [name for name, _, _ in bronze.SOURCES]
    quarantined = _quarantined_by_source(spark)
    for name, (n_clean, n_q) in counts.items():
        assert n_clean == spark.table(f"raw.{name}").count()
        assert n_q == quarantined.get(name, 0)


def test_one_write_job_per_source_in_the_callers_group(spark, src):
    ungrouped = _job_ids(spark)
    counts, n_jobs = _run_in_group(spark, GROUP, lambda: bronze.run(spark, str(src)))
    assert _job_ids(spark) - ungrouped == set()
    _assert_written_once(spark, counts, n_jobs)


def test_first_daily_load_writes_once_per_source(spark, src):
    day = dt.date(2017, 1, 5)
    day_dir = src / f"{day:%Y/%m/%d}"
    day_dir.mkdir(parents=True)
    for csv in src.glob("*.csv"):
        csv.rename(day_dir / csv.name)
    # no count job: the first load observes its counts while it writes
    load = partial(bronze.run_incremental, spark, str(src), day)
    _assert_written_once(spark, *_run_in_group(spark, "first-load", load))


def test_concurrent_quarantine_appends_all_land(spark, src):
    _append(src / "oil.csv", "2017-01-03,notadouble")
    (src / "sample_submission.csv").write_text("id,sales")  # header only
    counts = bronze.run(spark, str(src))
    assert counts["sample_submission"] == (0, 0)
    expected = {name: n_q for name, (_, n_q) in counts.items() if n_q}
    assert expected == {"oil": 1, "stores": 1, "transactions": 2}
    assert _quarantined_by_source(spark) == expected


def test_failing_sources_are_each_logged_and_the_rest_still_load(spark, src):
    missing = ("oil", "test")
    for name in missing:
        (src / f"{name}.csv").unlink()
    with pytest.raises(orchestrator.PipelineError) as err:
        orchestrator.run_all(spark, str(src), with_forecast=False)
    assert err.value.stage == "bronze"
    errors = spark.table(catalog.ERROR_LOG_TABLE)
    per_source = errors.filter(F.col("stage") == "bronze_ingestion").collect()
    assert sorted(r.source_file for r in per_source) == [f"{src}/{n}.csv" for n in missing]
    assert errors.filter(F.col("stage") == "bronze").count() == 1
    assert errors.count() == len(missing) + 1
    # one failing source no longer stops the sources after it
    loaded = [n for n, _, _ in bronze.SOURCES if n not in missing]
    assert all(spark.catalog.tableExists(f"raw.{n}") for n in loaded)


def test_concurrent_partition_upserts_keep_untouched_partitions(spark):
    mode = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(mode, "static")
    tables = ("upsert_race.a", "upsert_race.b")
    months = (1, 2, 3)
    schema = "k int, v int, month int"
    spark.sql("CREATE DATABASE IF NOT EXISTS upsert_race")
    try:
        for t in tables:
            rows = [(k, 0, m) for m in months for k in range(2)]
            spark.createDataFrame(rows, schema).write.mode("overwrite").format(
                "parquet"
            ).partitionBy("month").saveAsTable(t)

        def upsert(table: str, month: int, v: int) -> None:
            # a VALUES batch carries size statistics, so its anti-join
            # plans as a broadcast (test_partition_upsert_job_count)
            updates = spark.sql(f"SELECT * FROM VALUES (0, {v}, {month}) AS u(k, v, month)")
            maintenance.partition_upsert(
                spark, table, updates, keys=("k", "month"), partition_cols=("month",)
            )

        for rnd in range(10):
            month = months[rnd % len(months)]
            with ThreadPoolExecutor(max_workers=len(tables)) as pool:
                futures = [
                    pool.submit(inheritable_thread_target(spark)(upsert), t, month, rnd + 1)
                    for t in tables
                ]
            for future in futures:
                future.result()
            for t in tables:
                per_month = {
                    r.month: (r.n, r.v0)
                    for r in spark.table(t)
                    .groupBy("month")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.max(F.when(F.col("k") == 0, F.col("v"))).alias("v0"),
                    )
                    .collect()
                }
                # every partition survives; only the upserted one changed
                assert {m: n for m, (n, _) in per_month.items()} == dict.fromkeys(months, 2), t
                assert per_month[month][1] == rnd + 1, t
        assert spark.conf.get(mode, "static") == prior
    finally:
        spark.sql("DROP DATABASE IF EXISTS upsert_race CASCADE")


def test_partition_upsert_job_count(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS upsert_jobs")
    try:
        spark.sql(
            "CREATE TABLE upsert_jobs.t USING parquet PARTITIONED BY (month) AS "
            "SELECT * FROM VALUES (0, 0, 1), (1, 0, 1), (0, 0, 2), (1, 0, 2) AS s(k, v, month)"
        )
        # a VALUES batch carries size statistics: its joins are planned as
        # broadcasts up front, so AQE has no join strategy to race on
        updates = spark.sql("SELECT * FROM VALUES (0, 9, 2), (5, 9, 2) AS u(k, v, month)")
        upsert = partial(
            maintenance.partition_upsert, spark, "upsert_jobs.t", updates, ("k", "month"), ("month",)
        )
        # four jobs write the stage (AQE runs its shuffle and broadcasts as
        # jobs of their own) and one inserts it; counting the stage adds two
        assert _run_in_group(spark, "partition-upsert", upsert) == (3, 5)
    finally:
        spark.sql("DROP DATABASE IF EXISTS upsert_jobs CASCADE")


DAY = dt.date(2017, 1, 31)
DAY_ROWS = [f"{DAY.isoformat()},{s},{500 + s}" for s in (1, 2, 3)]


def _deliver(src, name: str, lines: list[str]) -> str:
    """Write ``<src>/YYYY/MM/DD/<name>.csv`` for ``DAY``; returns its path."""
    day_dir = src / f"{DAY:%Y/%m/%d}"
    day_dir.mkdir(parents=True, exist_ok=True)
    (day_dir / f"{name}.csv").write_text("\n".join(lines))
    return str(day_dir / f"{name}.csv")


def _upsert_transactions(spark, src, bad: tuple[str, ...]) -> tuple[str, dict]:
    """Backfill, then deliver ``DAY_ROWS`` plus the ``bad`` lines as the
    day's transactions and upsert them. Returns the delivered path and
    ``run_incremental``'s counts."""
    bronze.run(spark, str(src))
    path = _deliver(src, "transactions", ["date,store_nbr,transactions", *DAY_ROWS, *bad])
    return path, bronze.run_incremental(spark, str(src), DAY)


def _quarantined(spark, path: str) -> list[str]:
    q = spark.table(bronze.QUARANTINE_TABLE).filter(F.col("source_file").endswith(path))
    return sorted(r.raw_record for r in q.collect())


def test_daily_corrupt_lines_are_quarantined_not_parsed(spark, src):
    # too few fields, and fields that do not parse: both once crashed the
    # upsert, whose partition branch parsed the date column alone
    bad = ("garbage line 123", "bad,row,x")
    path, counts = _upsert_transactions(spark, src, bad)
    assert counts["transactions"][1] == len(bad)
    assert _quarantined(spark, path) == sorted(bad)
    day = spark.table("raw.transactions").filter(F.col("date") == DAY)
    assert {r.store_nbr: r.transactions for r in day.filter("store_nbr <= 3").collect()} == {
        1: 501,
        2: 502,
        3: 503,
    }


def test_daily_corrupt_line_does_not_widen_the_upsert(spark, src):
    # a corrupt line dated in December must not pull December into an
    # upsert of January: only the delivered partition is written
    _, counts = _upsert_transactions(spark, src, ("2016-12-20,notanint,5",))
    january = spark.table("raw.transactions").filter("year = 2017 AND month = 1").count()
    assert counts == {"transactions": (january, 1)}


def test_failed_daily_upsert_quarantines_nothing(spark, src, monkeypatch):
    def fail(*args, **kwargs):
        raise RuntimeError("rewrite failed")

    monkeypatch.setattr(maintenance, "rewrite_staged", fail)
    bronze.run(spark, str(src))
    quarantined = spark.table(bronze.QUARANTINE_TABLE).count()
    path = _deliver(src, "transactions", ["date,store_nbr,transactions", *DAY_ROWS, "bad,row,x"])
    with pytest.raises(RuntimeError, match="rewrite failed"):
        bronze.run_incremental(spark, str(src), DAY)
    assert spark.table(bronze.QUARANTINE_TABLE).count() == quarantined
    errors = spark.table(catalog.ERROR_LOG_TABLE).filter(F.col("stage") == "bronze_ingestion")
    assert [r.source_file for r in errors.collect()] == [path]


def test_daily_dimension_upsert_job_count(spark, src):
    bronze.run(spark, str(src))
    _deliver(src, "stores", ["store_nbr,city,state,type,cluster", "1,Quito,state1,B,4", "x,y"])
    load = partial(bronze.run_incremental, spark, str(src), DAY)
    counts, n_jobs = _run_in_group(spark, "daily-stores", load)
    assert counts == {"stores": (spark.table("raw.stores").count(), 1)}
    # four jobs write the merge's stage (AQE materializes the cached read
    # once for each of its two uses, and runs the broadcast of the keys
    # and the write as jobs of their own), one inserts it and one appends
    # the corrupt line; no job counts the corrupt lines
    assert n_jobs == 6
