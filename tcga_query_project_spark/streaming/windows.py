"""Batch/stream-symmetric time-window operators (SURVEY.md §2.10).

The reference is batch-only (no streaming anywhere in
``/root/reference/``); this layer is the north-star extension: the same
transformation functions run on a batch DataFrame *or* a ``readStream``
source — Structured Streaming's contract. Watermarking is applied only
when the input is streaming, so batch tests and oracle checks exercise
identical logic.

Timestamps in outputs are emitted as epoch microseconds (BIGINT), never
raw timestamps, so results are independent of the session timezone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: Event-time lateness a streaming aggregation tolerates before a
#: window's state is finalized and evicted.
WATERMARK = "10 minutes"


def _maybe_watermark(df: DataFrame, ts_col: str) -> DataFrame:
    if df.isStreaming:
        return df.withWatermark(ts_col, WATERMARK)
    return df


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Tumbling-window aggregation: ``window(ts, duration)`` + groupBy.
    Epoch-aligned, timezone-free for sub-day durations. In streaming
    mode the watermark bounds state and handles late data."""
    w = _maybe_watermark(df, ts_col)
    return (
        w.groupBy(F.window(F.col(ts_col), duration).alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("window_start_us", F.unix_micros(F.col("_w.start")))
        .drop("_w")
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Sliding (hopping) windows — each event lands in
    duration/slide windows; Spark expands them JVM-side."""
    w = _maybe_watermark(df, ts_col)
    return (
        w.groupBy(F.window(F.col(ts_col), duration, slide).alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("window_start_us", F.unix_micros(F.col("_w.start")))
        .drop("_w")
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into
    one session per key (``session_window``). The batch-mode oracle is
    the classic gaps-and-islands SQL; the streaming mode is the same
    call with a watermark — state eviction is handled by Spark."""
    w = _maybe_watermark(df, ts_col)
    return (
        w.groupBy(F.session_window(F.col(ts_col), gap).alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("session_start_us", F.unix_micros(F.col("_w.start")))
        # session_window.end = last event time + gap (Spark semantics;
        # the batch oracle mirrors it as MAX(ts) + gap)
        .withColumn("session_end_us", F.unix_micros(F.col("_w.end")))
        .drop("_w")
    )
