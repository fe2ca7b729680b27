"""Event-time operators on streams: a stream drained through each
operator must equal the batch run of the same plan (unified-API
property), and watermarked append emits finalized sessions only."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType

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


def _with_ts(df):
    """ts → TIMESTAMP (LTZ; watermarks reject NTZ), whichever physical
    type it landed as — the UTC session keeps wall clocks stable."""
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _batch_events(spark, events_dir):
    return _with_ts(spark.read.parquet(events_dir))


def _stream(spark, events_dir, max_files_per_trigger=None):
    """readStream over the events directory with the batch read's schema
    (a file stream never infers one)."""
    reader = spark.readStream.schema(spark.read.parquet(events_dir).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _with_ts(reader.parquet(events_dir))


def _drain(result, name, output_mode):
    """Drain all available input into an in-memory table (blocking)."""
    result.writeStream.format("memory").queryName(name).outputMode(output_mode).trigger(
        availableNow=True
    ).start().awaitTermination()


def test_stream_windowed_counts_equal_batch(spark, events_dir):
    stream = _stream(spark, events_dir)
    _drain(ev.windowed_counts(stream), "win_counts", output_mode="complete")
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
    stream = _stream(spark, events_dir)
    _drain(
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


def test_stream_sessionize_append_subset_of_batch(spark, events_dir):
    stream = _stream(spark, events_dir, max_files_per_trigger=1)
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
    stream = _stream(spark, events_dir)
    agg = ev.enrich_with_dim(stream, dim, on="user_id").groupBy("tier").agg(
        F.count("*").alias("n")
    )
    _drain(agg, "enrich_test", output_mode="complete")
    got = {(r["tier"], r["n"]) for r in spark.table("enrich_test").collect()}
    want = {
        (r["tier"], r["n"])
        for r in ev.enrich_with_dim(_batch_events(spark, events_dir), dim, on="user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


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

    sc, sp = split(_stream(spark, events_dir))
    _drain(
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

    sc, sp = split(_stream(spark, events_dir, max_files_per_trigger=1))
    _drain(
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


