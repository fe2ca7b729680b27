"""Structured Streaming facade tests: stream output must equal the batch
run of the same plan (unified-API property), dedup and session state
behave, watermarked append emits finalized sessions only."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import events as load_events
from grocery_store_sales_forecasting_etl_pipeline_spark.streaming import events as ev


@pytest.fixture(scope="module")
def events_dir(spark, sf_smoke, tmp_path_factory):
    """Events re-written as several TIME-ORDERED parquet files (ascending
    modification time) so availableNow runs multiple micro-batches whose
    event time advances monotonically — the watermark then finalizes
    earlier sessions without dropping 'late' data."""
    import shutil
    import time

    _ = load_events(spark, sf_smoke)  # applies the nanosAsLong conf
    d = str(tmp_path_factory.mktemp("events_stream"))
    raw = spark.read.parquet(f"{sf_smoke}/events.parquet").orderBy("ts")
    n = raw.count()
    rows_per = n // 4 + 1
    rows = raw.collect()
    schema = raw.schema
    for i in range(4):
        chunk = rows[i * rows_per : (i + 1) * rows_per]
        if not chunk:
            continue
        tmp = f"{d}__part{i}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in __import__("pathlib").Path(tmp).glob("*.parquet"):
            shutil.copy(str(f), f"{d}/chunk_{i}.parquet")
        time.sleep(1.1)  # distinct mtimes => oldest-first processing order
    return d


def _batch_events(spark, events_dir):
    df = spark.read.schema(ev.raw_events_schema(spark, events_dir)).parquet(events_dir)
    return ev.normalize_ts(df)


def test_stream_windowed_counts_equal_batch(spark, events_dir):
    stream = ev.stream_events(spark, events_dir)
    ev.run_to_memory(spark, ev.windowed_counts(stream), "win_counts", output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_counts").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in ev.windowed_counts(_batch_events(spark, events_dir)).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def test_stream_sliding_windows_equal_batch(spark, events_dir):
    """Hopping-window form of the unified-API property: each event lands
    in size/slide = 2 overlapping windows in stream and batch alike."""
    stream = ev.stream_events(spark, events_dir)
    ev.run_to_memory(
        spark,
        ev.windowed_counts(stream, window="2 hours", slide="1 hour"),
        "win_sliding",
        output_mode="complete",
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_sliding").collect()
    }
    batch = ev.windowed_counts(
        _batch_events(spark, events_dir), window="2 hours", slide="1 hour"
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got.keys() == want.keys()
    assert sum(v[0] for v in want.values()) == 2 * _batch_events(
        spark, events_dir
    ).count()
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def test_stream_dedup(spark, events_dir):
    stream = ev.stream_events(spark, events_dir)
    ev.run_to_memory(
        spark,
        ev.dedup_within_watermark(stream, keys=("event_id",)),
        "dedup_out",
        output_mode="append",
    )
    n_stream = spark.table("dedup_out").count()
    n_batch = _batch_events(spark, events_dir).select("event_id").distinct().count()
    assert n_stream == n_batch


def test_stream_sessionize_append_subset_of_batch(spark, events_dir):
    stream = ev.stream_events(spark, events_dir, max_files_per_trigger=1)
    q = (
        ev.sessionize(stream, gap="5 minutes", watermark="1 minute")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", f"{events_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        (r.user_id, r.session_start): (r.n_events, r.session_value)
        for r in spark.table("sessions_out").collect()
    }
    batch = {
        (r.user_id, r.session_start): (r.n_events, r.session_value)
        for r in ev.sessionize(_batch_events(spark, events_dir), gap="5 minutes").collect()
    }
    # append emits only watermark-finalized sessions: a non-empty subset
    assert emitted
    assert set(emitted) <= set(batch)
    for k, v in emitted.items():
        assert batch[k] == v


def test_stream_static_enrich_matches_batch(spark, events_dir):
    # dim: user tier lookup (static side of a stream-static join)
    dim = spark.createDataFrame(
        [(u, "gold" if u % 2 == 0 else "basic") for u in range(1000, 1060)],
        ["user_id", "tier"],
    )
    stream = ev.stream_events(spark, events_dir)
    agg = ev.enrich_with_dim(stream, dim, on="user_id").groupBy("tier").agg(
        F.count("*").alias("n")
    )
    ev.run_to_memory(spark, agg, "enrich_test", output_mode="complete")
    got = {(r["tier"], r["n"]) for r in spark.table("enrich_test").collect()}
    want = {
        (r["tier"], r["n"])
        for r in ev.enrich_with_dim(_batch_events(spark, events_dir), dim, on="user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_upsert_idempotent_replay(spark, events_dir, tmp_path):
    # foreachBatch keyed upsert: draining the same source twice (fresh
    # checkpoint = full replay) must leave the table identical — the
    # exactly-once-effect property an append sink lacks
    spark.sql("CREATE DATABASE IF NOT EXISTS supsert")
    table = "supsert.events_latest"
    try:
        batch = spark.read.parquet(events_dir)
        expect = batch.dropDuplicates(["event_id"]).count()

        def drain(cp: str) -> None:
            stream = ev.stream_events(spark, events_dir, max_files_per_trigger=2)
            ev.stream_upsert_to_table(
                spark,
                stream,
                table,
                keys=("event_id",),
                checkpoint_dir=str(tmp_path / cp),
            )

        drain("cp1")
        first = spark.table(table).count()
        assert first == expect
        drain("cp2")  # full replay with a fresh checkpoint
        again = spark.table(table)
        assert again.count() == expect
        assert again.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
    finally:
        spark.sql("DROP DATABASE supsert CASCADE")


def test_stream_partition_upsert_idempotent_replay(spark, events_dir, tmp_path, monkeypatch):
    """The ``partition_cols`` branch (partition_upsert per micro-batch):
    a full replay leaves the table unchanged with no duplicate keys, and
    each batch's key anti-join plans as a broadcast up front — a file
    source reports a few-KB size, unlike a stat-less createDataFrame
    batch whose sort-merge join AQE demotes only at run time."""
    import re

    from grocery_store_sales_forecasting_etl_pipeline_spark.sources import maintenance

    spark.sql("CREATE DATABASE IF NOT EXISTS spupsert")
    table = "spupsert.events_by_type"
    plans = []
    rewrite = maintenance.rewrite_staged

    def spy(spark_, table_, df, dynamic=False):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return rewrite(spark_, table_, df, dynamic)

    monkeypatch.setattr(maintenance, "rewrite_staged", spy)
    try:
        def drain(cp: str) -> set:
            stream = ev.stream_events(spark, events_dir, max_files_per_trigger=2)
            ev.stream_upsert_to_table(
                spark,
                stream,
                table,
                keys=("event_id",),
                partition_cols=("event_type",),
                checkpoint_dir=str(tmp_path / cp),
            )
            return {tuple(r) for r in spark.table(table).collect()}

        first = drain("cp1")
        assert len(first) == spark.read.parquet(events_dir).dropDuplicates(["event_id"]).count()
        again = drain("cp2")  # full replay with a fresh checkpoint
        assert again == first
        assert spark.table(table).groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
        assert plans
        for plan in plans:
            assert re.search(r"BroadcastHashJoin \[event_id#\d+L\], \[event_id#\d+L\], LeftAnti", plan), plan
            assert "SortMergeJoin" not in plan, plan
    finally:
        spark.sql("DROP DATABASE spupsert CASCADE")


def test_stream_interval_join_equals_batch(spark, events_dir):
    """Stream-stream interval join (watermarked, state-bounded by the
    two-sided range predicate) must emit exactly the pairs the batch
    run of the same plan produces."""
    import pyspark.sql.functions as F

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts"
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts", "value"
        )
        return clicks, purchases

    sc, sp = split(ev.stream_events(spark, events_dir))
    ev.run_to_memory(
        spark,
        ev.interval_join(sc, sp, key="user_id", lookback="1 hour", watermark="2 hours"),
        "ij_out",
        output_mode="append",
    )
    got = sorted(
        (r.l_user_id, r.l_event_id, r.r_event_id)
        for r in spark.table("ij_out").collect()
    )
    bc, bp = split(_batch_events(spark, events_dir))
    want = sorted(
        (r.l_user_id, r.l_event_id, r.r_event_id)
        for r in ev.interval_join(bc, bp, key="user_id", lookback="1 hour").collect()
    )
    assert got == want and len(want) > 0


def test_stream_interval_left_outer_prefix_of_batch(spark, events_dir):
    """leftOuter stream-stream interval join: matched pairs equal the
    batch run; null-padded (unmatched) rows are a subset — tail rows
    stay buffered until the watermark passes left_ts + lookback."""
    import pyspark.sql.functions as F

    def split(df):
        return (
            df.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts"),
            df.filter(F.col("event_type") == "purchase").select(
                "user_id", "event_id", "ts", "value"
            ),
        )

    sc, sp = split(ev.stream_events(spark, events_dir, max_files_per_trigger=1))
    ev.run_to_memory(
        spark,
        ev.interval_join(
            sc, sp, key="user_id", lookback="1 hour", watermark="30 minutes",
            how="leftOuter",
        ),
        "ijlo_out",
        output_mode="append",
    )
    got = spark.table("ijlo_out").collect()
    got_matched = sorted(
        (r.l_user_id, r.l_event_id, r.r_event_id) for r in got if r.r_event_id is not None
    )
    got_unmatched = sorted(r.l_event_id for r in got if r.r_event_id is None)
    bc, bp = split(_batch_events(spark, events_dir))
    batch = ev.interval_join(
        bc, bp, key="user_id", lookback="1 hour", how="leftOuter"
    ).collect()
    want_matched = sorted(
        (r.l_user_id, r.l_event_id, r.r_event_id) for r in batch if r.r_event_id is not None
    )
    want_unmatched = sorted(r.l_event_id for r in batch if r.r_event_id is None)
    assert got_matched == want_matched and len(want_matched) > 0
    assert set(got_unmatched) <= set(want_unmatched)
    assert got_unmatched, "no unmatched rows emitted before stream end"


def test_raw_events_schema_empty_dir_falls_back(spark, tmp_path):
    """A stream must be startable before the first file arrives: an
    empty source directory falls back to the static EVENTS_RAW_SCHEMA
    instead of dying on schema inference."""
    empty = tmp_path / "no_events_yet"
    empty.mkdir()
    assert ev.raw_events_schema(spark, str(empty)) == ev.EVENTS_RAW_SCHEMA
    # and the stream definition itself works against the empty dir
    stream = ev.stream_events(spark, str(empty))
    assert stream.isStreaming


def test_raw_events_schema_restores_conf_for_micros(spark, tmp_path):
    """When the landed generation is native micros (ts is a real
    timestamp), the nanosAsLong probe conf must not leak session-wide."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    d = str(tmp_path / "micros_events")
    spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1), 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(d)
    prev = spark.conf.get(conf, None)
    try:
        spark.conf.unset(conf)
        schema = ev.raw_events_schema(spark, d)
        assert not isinstance(schema["ts"].dataType, __import__("pyspark.sql.types", fromlist=["LongType"]).LongType)
        assert spark.conf.get(conf, None) is None, "probe conf leaked"
    finally:
        if prev is not None:
            spark.conf.set(conf, prev)


def test_stream_dedup_within_watermark_bare_keys(spark, events_dir):
    """dropDuplicatesWithinWatermark path: bare-key dedup where
    re-deliveries may carry different timestamps; on this duplicate-free
    source it must agree with the batch distinct-key count."""
    stream = ev.stream_events(spark, events_dir)
    ev.run_to_memory(
        spark,
        ev.dedup_keys_within_watermark(stream, keys=("event_id",)),
        "dedup_keys_out",
        output_mode="append",
    )
    n_stream = spark.table("dedup_keys_out").count()
    n_batch = _batch_events(spark, events_dir).select("event_id").distinct().count()
    assert n_stream == n_batch


def test_stream_dedup_keys_tolerates_timestamp_jitter(spark, tmp_path):
    """A re-delivered key with a DIFFERENT timestamp inside the
    watermark must still dedup (the case dropDuplicates([key, ts])
    cannot handle)."""
    import datetime as dt

    d = str(tmp_path / "jitter")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 10, "click", 1.0, "{}"),
        (1, base + dt.timedelta(seconds=30), 10, "click", 1.0, "{}"),  # re-delivery, jittered ts
        (2, base + dt.timedelta(minutes=1), 11, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.parquet(d)
    stream = ev.stream_events(spark, d)
    ev.run_to_memory(
        spark,
        ev.dedup_keys_within_watermark(stream, keys=("event_id",)),
        "dedup_jitter_out",
        output_mode="append",
    )
    assert spark.table("dedup_jitter_out").count() == 2
    # batch fallback: plain key dedup
    batch = ev.normalize_ts(spark.read.schema(ev.raw_events_schema(spark, d)).parquet(d))
    assert ev.dedup_keys_within_watermark(batch, keys=("event_id",)).count() == 2


def test_raw_events_schema_rejects_non_events_dir(spark, tmp_path):
    """A parquet dir without a ts field must fail with a clear error —
    and must restore the nanosAsLong probe conf on the way out."""
    import pytest

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    d = str(tmp_path / "not_events")
    spark.range(3).write.parquet(d)
    prev = spark.conf.get(conf, None)
    try:
        spark.conf.unset(conf)
        with pytest.raises(ValueError, match="no 'ts' field"):
            ev.raw_events_schema(spark, d)
        assert spark.conf.get(conf, None) is None, "probe conf leaked on error"
    finally:
        if prev is not None:
            spark.conf.set(conf, prev)
