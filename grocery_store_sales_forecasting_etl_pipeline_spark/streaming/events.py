"""Event-time operators over the events table: windowed counts,
session windows, stream-static enrichment and interval joins.

Each operator takes any DataFrame, batch or streaming (Structured
Streaming's unified API); the stateful ones declare a watermark only
when their input is a stream. ``plans/streamops.py`` registers their batch forms, and
``tests/test_streaming.py`` checks that a stream drained through each one
matches the batch run of the same plan.

Scale notes: every streaming agg here declares a watermark so state is
bounded (late rows beyond the watermark are dropped, emitted windows are
finalized and evicted). Stateful shuffles key by (window/session, group)
— the same partitioning rules as batch apply.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


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
