"""Stream-stream joins and streaming dedup — batch/stream-polymorphic.

Stream-stream joins are the Structured Streaming surface that needs the
most care at scale: BOTH sides buffer rows in the state store until the
watermark proves no more matches can arrive. The event-time bound in the
join condition is what lets Spark evict state — an unbounded-time join over
unbounded streams would hold both streams forever. Same functions accept
batch DataFrames (watermark=None) and produce the equivalent batch join,
which is how the tests establish stream == batch.

Streaming dedup (``dropDuplicatesWithinWatermark``) is the exactly-once
companion: at-least-once upstream delivery (retried files, replayed SQS
events — the reference redelivers on visibility-timeout expiry,
template.yaml:41) collapses to exactly-once rows as long as duplicates
arrive within the watermark; state is one entry per key, evicted at the
watermark.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within_seconds: int,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Inner join: right-row lands in ``[left_ts, left_ts + within_seconds)``
    for the same key — the click→conversion attribution shape.

    On streams, the time bound + watermarks let Spark evict buffered state
    once ``watermark`` has passed the interval; state per key is
    O(events within the interval). On batch the same condition plans as an
    equi-join on key with the range as a post-join filter.
    """
    lw = left.withWatermark(left_ts, watermark) if watermark else left
    rw = right.withWatermark(right_ts, watermark) if watermark else right
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] < lw[left_ts] + F.expr(f"INTERVAL {within_seconds} SECONDS"))
    )
    return lw.join(rw, cond, "inner")


def dedup_events(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark: Optional[str] = None,
) -> DataFrame:
    """Exactly-once event dedup by key.

    Streaming (watermark given): ``dropDuplicatesWithinWatermark`` — keeps
    one state-store entry per key, evicted once the watermark passes, so
    redelivered events are dropped without unbounded state. Batch: plain
    ``dropDuplicates`` (the same semantics over a finite input).
    """
    if watermark:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))
