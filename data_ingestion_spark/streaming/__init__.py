"""Structured Streaming surfaces.

The reference's only "stream" is an SQS long-poll loop feeding the per-file
pipeline (src/ecs_service.rs:113-174) — no event-time semantics anywhere.
This package rebuilds that loop with three front doors — a landing-dir
file stream and an SQS-message stream (ingest_stream), and a boto3-shaped
SQS receive/delete adapter (sqs_source) — which differ only in source and
decode: every receive goes through one shared per-receive step (receive).
It adds the event-time operators Spark unlocks for free once the loop is a
real stream: watermarked tumbling/sliding/session windows (event_time) and
a custom stateful sessionizer (sessionize).
"""

from .event_time import (
    session_window_agg,
    sliding_window_counts,
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
    "sliding_window_counts",
    "stream_events_from_dir",
    "tumbling_window_counts",
]
