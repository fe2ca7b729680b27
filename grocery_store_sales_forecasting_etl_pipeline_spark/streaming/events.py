"""Streaming operators over the events stream.

Source: parquet file stream of (event_id, ts, user_id, event_type, value,
props). The same transformations run identically on a static frame —
Structured Streaming's unified-API property — so each operator takes any
DataFrame (batch or streaming) and the tests validate stream output
against the batch run of the same plan.

Scale notes: every streaming agg here declares a watermark so state is
bounded (late rows beyond the watermark are dropped, emitted windows are
finalized and evicted). Stateful shuffles key by (window/session, group)
— the same partitioning rules as batch apply.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# explicit source schema (streaming reads never infer) for the
# nanos-as-long data generation; ts is rebuilt to a timestamp. Newer
# generations carry native TIMESTAMP(MICROS) — raw_events_schema()
# probes one footer (driver-side metadata op) and picks the right one.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def raw_events_schema(spark: SparkSession, path: str) -> StructType:
    """Explicit schema for a parquet events directory, probed from the
    footers so either ts generation (nanos-as-long / native micros)
    reads correctly. One driver metadata job; no data scan.

    An empty/not-yet-created source directory falls back to
    EVENTS_RAW_SCHEMA — a stream must be startable before the first file
    arrives. The nanosAsLong conf is left set only when the landed (or
    fallback) schema actually carries ts as long — the micro-batch scans
    need it then; otherwise the previous session value is restored so
    the probe leaves no session-wide residue."""
    from pyspark.errors import AnalysisException

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)

    def _restore() -> None:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)

    spark.conf.set(conf, "true")
    try:
        try:
            schema = spark.read.parquet(path).schema
        except AnalysisException:
            # empty dir / missing path: no footers to infer from. ONLY
            # this — transient IO/corruption errors must surface here,
            # not resurface later as a wrong-schema stream failure far
            # from the root cause (restored + re-raised below).
            schema = EVENTS_RAW_SCHEMA
        if "ts" not in schema.fieldNames():
            raise ValueError(
                f"{path} parquet schema has no 'ts' field — not an events "
                f"directory (found: {schema.fieldNames()})"
            )
    except BaseException:
        _restore()
        raise
    if not isinstance(schema["ts"].dataType, LongType):
        # native-micros generation: scans don't need the legacy conf
        _restore()
    return schema


def normalize_ts(df: DataFrame) -> DataFrame:
    """ts → TIMESTAMP (LTZ; watermarks reject NTZ — the caller pins the
    session TZ to UTC so wall clocks stay deterministic), branching on
    the landed dtype like plans/_tables._ts_as_ntz."""
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a parquet events directory (S1-analog for
    streams). ``max_files_per_trigger`` bounds micro-batch size (and
    makes availableNow run several batches, advancing the watermark
    between them)."""
    # pin UTC for the LTZ rebuild — same reasoning as plans/_tables.events
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(raw_events_schema(spark, path))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(path)
    return normalize_ts(raw)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) window counts/sums per event_type with a
    watermark bounding state (late rows beyond it dropped). Works
    identically on static frames (unified-API rule, like ``sessionize``
    — a batch watermark is a no-op). The value sum accumulates in
    exact decimal (rounded on output) so results are bit-stable across
    partition orderings and engines."""
    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        df.groupBy(win.alias("win"), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: tuple[str, ...] = ("event_id",), watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: state holds keys for `watermark` of event
    time (the silver dedup D1 expressed as a stream; SURVEY.md §2.12).

    Keys the state on (keys, ts): two deliveries of the same key are
    duplicates only if they carry the SAME event time. For replayed
    deliveries whose timestamps may differ inside a tolerance window,
    use ``dedup_keys_within_watermark`` instead."""
    return events.withWatermark("ts", watermark).dropDuplicates([*keys, "ts"])


def dedup_keys_within_watermark(
    events: DataFrame, keys: tuple[str, ...] = ("event_id",), watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup on the BARE key via
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+): two rows with the
    same key dedup even when their event times differ, as long as the
    first-seen row's time is within the watermark delay — the correct
    semantics for at-least-once sources that re-deliver with a fresh
    ingestion timestamp. State per key is evicted once the watermark
    passes its first-seen time (bounded, unlike a bare
    ``dropDuplicates(keys)`` on a stream, whose state grows forever).
    On a BATCH frame this falls back to plain ``dropDuplicates(keys)``
    — the watermark qualifier has no batch meaning (unified-API rule;
    same convention as ``sessionize``)."""
    if not events.isStreaming:
        return events.dropDuplicates(list(keys))
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def sessionize(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-user session aggregation with a dynamic-gap session window:
    events closer than ``gap`` merge into one session. Works identically
    on static frames (the plans/ oracle checks it in batch mode).

    Scale notes (measured, BASELINE.md streaming drain probe): the
    streaming path is bounded by session-STATE ops, not event volume —
    budget ~100k state get/puts per second per 32-core node, and note
    that neither the RocksDB provider, smaller micro-batches, nor
    ``sessionWindow.merge.sessions.in.local.partition`` moves that bound
    when sessions are near-singleton. Drain BACKFILLS through this same
    function in batch mode (30× faster at 10M near-singleton sessions);
    reserve the streaming form for the incremental tail where per-trigger
    event counts are modest and live state stays small."""
    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        df.groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "session_value"
            ),
        )
        .select(
            F.col("user_id"),
            F.col("sw.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def run_to_memory(
    spark: SparkSession, result: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain all available input through the streaming plan into an
    in-memory table (test/debug sink): trigger=availableNow, blocking."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_upsert_to_table(
    spark: SparkSession,
    result: DataFrame,
    table: str,
    keys: tuple[str, ...],
    partition_cols: tuple[str, ...] = (),
    checkpoint_dir: str | None = None,
) -> None:
    """foreachBatch sink: keyed-upsert each micro-batch into ``table``
    (merge_upsert, or partition_upsert when ``partition_cols`` given) —
    the incremental-ingest pattern that turns Structured Streaming's
    at-least-once batch delivery into exactly-once TABLE state: a
    replayed micro-batch re-upserts the same keys and the table is
    unchanged (idempotence), unlike an append sink which would
    duplicate.

    Runs with trigger=availableNow (drain-all, blocking) — a continuous
    deployment passes a processingTime trigger instead. Scale notes: per
    micro-batch cost is the upsert's (partition-scoped rewrite when
    ``partition_cols`` bound it); the checkpoint tracks source progress
    so restarts resume, and replays are safe by construction.
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.sources import maintenance

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not spark.catalog.tableExists(table):
            w = batch_df.write.mode("overwrite").format("parquet")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.saveAsTable(table)
        elif partition_cols:
            maintenance.partition_upsert(
                spark, table, batch_df, keys=list(keys), partition_cols=list(partition_cols)
            )
        else:
            maintenance.merge_upsert(spark, table, batch_df, keys=list(keys))

    writer = result.writeStream.foreachBatch(do_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


def stream_scd2_to_table(
    spark: SparkSession,
    changes: DataFrame,
    table: str,
    keys: tuple[str, ...],
    checkpoint_dir: str | None = None,
) -> None:
    """foreachBatch CDC-history sink: fold each micro-batch of dimension
    upserts into an SCD2 history table (``valid_from``/``valid_to``
    stamped with the micro-batch id). The streaming sibling of
    ``sources.maintenance.scd2_merge``: per batch it applies
    ``scd2_apply_changes`` — changed keys close-and-reopen at the batch
    version, new keys open, keys absent from the batch stay open (CDC
    semantics, NOT full-snapshot deletion).

    Exactly-once table state from at-least-once delivery: the failure
    mode Structured Streaming actually exhibits is re-delivery of the
    LAST batch (crash between table write and checkpoint commit), and
    re-applying that batch at the same version is a no-op — every row
    is attribute-identical against the already-folded open rows. A
    FULL replay from a fresh checkpoint is deliberately NOT a no-op:
    SCD2 folds are ordered (old change sets re-applied over newer
    history re-version it), unlike ``stream_upsert_to_table``'s
    last-writer-wins convergence.

    Scale notes: per-batch cost is one equi-join of the OPEN slice
    against the batch; partition the history table by ``valid_to IS
    NULL`` at scale so closed history is never read. Drains with
    trigger=availableNow (blocking); continuous deployments pass a
    processingTime trigger instead.
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.sources import maintenance

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # exact duplicate rows (source replays) collapse deterministically;
        # CONFLICTING same-key rows in one batch have no total order to
        # pick from — validate=True below fails loudly instead of
        # folding an arbitrary winner into history
        batch_df = batch_df.dropDuplicates()
        exists = spark.catalog.tableExists(table)
        current = (
            spark.table(table)
            if exists
            # first batch: apply against an empty history so the same
            # merge (and its key-uniqueness validation) covers init
            else batch_df.limit(0).select(
                "*",
                F.lit(None).cast("long").alias("valid_from"),
                F.lit(None).cast("long").alias("valid_to"),
            )
        )
        merged = maintenance.scd2_apply_changes(
            current, batch_df, keys=list(keys), version=batch_id, validate=True
        )
        if exists:
            maintenance.rewrite_staged(spark, table, merged)
        else:
            merged.write.mode("overwrite").format("parquet").saveAsTable(table)

    writer = changes.writeStream.foreachBatch(do_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


def enrich_with_dim(stream_df: DataFrame, dim_df: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream–static join: enrich a (possibly streaming) event frame
    with a static dimension table. Spark plans this as a broadcast (or
    locality-preserving) join evaluated per micro-batch against the
    CURRENT dim snapshot — no state store involved, unlike
    stream-stream joins.

    Scale notes: the static side re-resolves each micro-batch, so a dim
    refreshed in place (overwrite) is picked up without restarting the
    query; keep the dim broadcast-sized or pre-bucketed on the key.
    """
    return stream_df.join(dim_df, on=on, how=how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    prefixes: tuple[str, str] = ("l", "r"),
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch-batch: same plan, unified API) interval
    join: each RIGHT row matches LEFT rows of the same ``key`` whose
    timestamp falls in [right_ts - lookback, right_ts].

    ``how="leftOuter"`` additionally emits unmatched LEFT rows with
    null right columns — in streaming, an unmatched left row is emitted
    only once the watermark passes ``left_ts + lookback`` (before that
    a match could still arrive), so rows near the end of a drained
    stream stay buffered and the streaming result is a prefix-subset of
    the batch result (matched pairs are identical; the tail of
    null-padded rows arrives as the watermark advances).

    For streaming inputs both sides get watermarks, which together with
    the two-sided time-range predicate lets Spark bound join state: a
    buffered left row is evictable once the right watermark passes
    left_ts + lookback (without the range condition a stream-stream
    inner join would buffer both sides forever — the state-bound rule
    the Structured Streaming guide mandates). State shuffles by the
    equi-key, same partitioning rules as batch.

    Columns come out prefixed (``l_ts``, ``r_ts``, …) because both
    sides usually share a schema (one events stream filtered two ways).
    """
    lp, rp = prefixes
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    lsel = lw.select(
        F.col(key).alias(f"{lp}_{key}"),
        *[F.col(c).alias(f"{lp}_{c}") for c in lw.columns if c != key],
    )
    rsel = rw.select(
        F.col(key).alias(f"{rp}_{key}"),
        *[F.col(c).alias(f"{rp}_{c}") for c in rw.columns if c != key],
    )
    if how not in ("inner", "leftOuter", "left_outer", "left"):
        raise ValueError(f"interval_join supports inner/leftOuter, got {how!r}")
    cond = (
        (F.col(f"{lp}_{key}") == F.col(f"{rp}_{key}"))
        & (F.col(f"{lp}_{left_ts}") <= F.col(f"{rp}_{right_ts}"))
        & (
            F.col(f"{lp}_{left_ts}")
            >= F.col(f"{rp}_{right_ts}") - F.expr(f"INTERVAL {lookback}")
        )
    )
    return lsel.join(rsel, cond, "leftOuter" if how != "inner" else "inner")
