"""Send one receive through any of the three ingest front doors.

The landing-directory stream (``IngestionStreamLoop``) receives whatever
lies under its landing directory, so the files a receive names must be the
files there; the two SQS doors receive one S3-event body per file. The
record that names no file is a bucket-less landing on the landing stream
and a body that is not JSON on the SQS doors.
"""

from __future__ import annotations

import json
import os

from test_sqs_source import FakeSqsClient

from data_ingestion_spark.streaming import (
    IngestionStreamLoop,
    SqsFrontDoorLoop,
    SqsIngestLoop,
)

DOORS = ("landing_stream", "sqs_stream", "sqs_client")

STRAY = "stray.csv"
POISON = "not json"


def s3_event(bucket: str, key: str) -> str:
    return json.dumps({"Records": [{"s3": {"bucket": {"name": bucket}, "object": {"key": key}}}]})


def run_receive(door: str, pipe, landing: str, files: list, work_dir: str, no_file: bool = False):
    """Ingest one receive naming ``files`` ((bucket, key) pairs, all under
    ``landing``) through ``door``, plus one record naming no file when
    ``no_file``; returns the front door with its tallies."""
    ckpt = os.path.join(work_dir, "ckpt")
    if door == "landing_stream":
        if no_file:
            with open(os.path.join(landing, STRAY), "w") as f:
                f.write("x\n1\n")
        loop = IngestionStreamLoop(pipe, landing, ckpt)
        loop.run_available()
        return loop
    bodies = [s3_event(b, k) for b, k in files] + ([POISON] if no_file else [])
    if door == "sqs_stream":
        queue = os.path.join(work_dir, "queue")
        os.makedirs(queue)
        with open(os.path.join(queue, "receive.json"), "w") as f:
            f.write("".join(b + "\n" for b in bodies))
        loop = SqsFrontDoorLoop(pipe, queue, ckpt)
        loop.run_available()
        return loop
    assert door == "sqs_client", door
    loop = SqsIngestLoop(pipe, "https://sqs/q", client=FakeSqsClient(bodies))
    assert loop.poll_once() == len(bodies)
    return loop
