"""Structured Streaming surfaces.

The reference's only "stream" is an SQS long-poll loop feeding the per-file
pipeline (src/ecs_service.rs:113-174) — no event-time semantics anywhere.
This package rebuilds that loop with three front doors — a landing-dir
file stream and an SQS-message stream (ingest_stream), and a boto3-shaped
SQS receive/delete adapter (sqs_source) — which differ only in source and
decode: every receive goes through one shared per-receive step (receive).
It adds the event-time operators Spark unlocks for free once the loop is a
real stream: watermarked tumbling/session windows (event_time), a custom
stateful sessionizer (sessionize), and the stateful guards — running
totals, exact dedup, SimHash near-dup, heavy hitters, rate limit — as
foreachBatch processors over versioned state tables (foreach_batch_state).
Those guards are batch-granular and share one replay guard keyed by
(query id, batch_id), so a redelivered micro-batch is a no-op.
"""

from .event_time import (
    session_window_agg,
    stream_events_from_dir,
    tumbling_window_counts,
)
from .ingest_stream import IngestionStreamLoop, SqsFrontDoorLoop
from .s3_events import S3_EVENT_SCHEMA, s3_event_files
from .sqs_source import SqsIngestLoop, make_sqs_client
from .stream_joins import dedup_events, interval_join

__all__ = [
    "IngestionStreamLoop",
    "SqsFrontDoorLoop",
    "SqsIngestLoop",
    "make_sqs_client",
    "S3_EVENT_SCHEMA",
    "s3_event_files",
    "dedup_events",
    "interval_join",
    "session_window_agg",
    "stream_events_from_dir",
    "tumbling_window_counts",
]
