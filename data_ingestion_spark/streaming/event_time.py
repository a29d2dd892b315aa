"""Event-time windowed aggregation — batch/stream-polymorphic.

Absent from the reference (its stream has no event-time semantics —
SURVEY.md §2.4 "Streaming" row); these are the operators Structured
Streaming unlocks once ingestion is a real stream. Every function takes a
DataFrame that may be a batch read OR a ``readStream`` source: the same
expressions compile to a batch plan or an incremental stateful plan, which
is exactly Spark's design — tests exploit it by asserting
stream-over-file-source results equal the batch results.

Scale notes: windowed aggs shuffle on (window, keys); the watermark bounds
state size — without it an unbounded-stream agg accumulates state forever.
Session windows merge per key, so skewed keys (one hot user) are the risk;
AQE skew-join handling does not apply to stateful ops, so the gap duration
and key design are the knobs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of the synthetic events table (TESTDATA.md) — needed because a
#: file-source STREAM requires an explicit schema (no inference at start).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """events as an unbounded stream from a directory of parquet files."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def _maybe_watermark(df: DataFrame, watermark: Optional[str]) -> DataFrame:
    # withWatermark on a batch DataFrame is a no-op in semantics but only
    # valid on streaming plans in some operations; gate it so the same
    # function serves both.
    return df.withWatermark("ts", watermark) if watermark else df


def tumbling_window_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Non-overlapping event-time buckets: count + value sum per event_type."""
    df = _maybe_watermark(events, watermark)
    return (
        df.groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "user_id",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Per-key sessions: events closer than ``gap`` merge into one session.

    ``F.session_window`` is Spark's native merging-window state operator; the
    batch plan is checkable against a gaps-and-islands SQL oracle
    (lag → new-session flag → cumulative sum → group), which is exactly how
    the registry's DuckDB twin states it. ``window.end`` of a session is
    last_ts + gap by definition; ``session_end`` below is the LAST EVENT time
    (max ts) so the oracle needs no interval arithmetic.
    """
    df = _maybe_watermark(events, watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            "session_end",
            "n_events",
            "sum_value",
        )
    )
