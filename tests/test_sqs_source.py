"""SQS receive/delete adapter tests (streaming/sqs_source.py) against a
fake boto3-shaped client.

Contract under test (reference contrast: src/ecs_service.rs:121-165
receives 10 messages per long-poll and deletes each message EVEN when
processing failed — at-most-once):

- receive batch → s3-event decode → per-file pipeline → delete-on-success;
- a message with a failed file is NOT deleted (SQS redelivers it) and the
  retry is idempotent: succeeded siblings are replay-skipped;
- poison bodies (invalid JSON / no Records / missing bucket-key) become
  Failed audit rows and their message IS acked (redelivery can't fix them).
"""

from __future__ import annotations

import json

import pytest

from data_ingestion_spark.pipeline import IngestionPipeline
from data_ingestion_spark.streaming import SqsIngestLoop


class FakeSqsClient:
    """boto3.client('sqs') surface with real SQS visibility semantics:
    a received message becomes INVISIBLE to further receives until its
    visibility timeout expires (``expire_visibility()`` here) — which is
    exactly why the loop's drain mode terminates: undeleted messages
    don't echo back in the same drain, they reappear on the next one."""

    def __init__(self, bodies):
        self.messages = [
            {"MessageId": f"m{i}", "Body": b, "ReceiptHandle": f"rh{i}"}
            for i, b in enumerate(bodies)
        ]
        self.inflight: set[str] = set()
        self.receive_calls = 0
        self.deleted_handles = []

    def receive_message(self, QueueUrl, MaxNumberOfMessages, WaitTimeSeconds):
        self.receive_calls += 1
        visible = [
            m for m in self.messages if m["ReceiptHandle"] not in self.inflight
        ]
        batch = visible[:MaxNumberOfMessages]
        self.inflight.update(m["ReceiptHandle"] for m in batch)
        return {"Messages": batch}

    def delete_message(self, QueueUrl, ReceiptHandle):
        self.deleted_handles.append(ReceiptHandle)
        self.messages = [
            m for m in self.messages if m["ReceiptHandle"] != ReceiptHandle
        ]
        self.inflight.discard(ReceiptHandle)

    def expire_visibility(self):
        """Simulate the visibility timeout lapsing: retained messages
        become receivable again (SQS redelivery)."""
        self.inflight.clear()


def s3_event(*files):
    return json.dumps(
        {
            "Records": [
                {"s3": {"bucket": {"name": b}, "object": {"key": k}}}
                for b, k in files
            ]
        }
    )


@pytest.fixture()
def landing(tmp_path):
    b = tmp_path / "landing" / "qbucket"
    (b / "uploads").mkdir(parents=True)
    (b / "uploads" / "a.csv").write_text("name,age\nJohn,30\nJane,25\n")
    (b / "uploads" / "b.json").write_text('[{"k": 1}, {"k": 2}, {"k": 3}]')
    return str(tmp_path / "landing")


def make_pipe(spark, tmp_path, landing):
    return IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=landing
    )


def test_receive_process_delete_happy_path(spark, tmp_path, landing):
    pipe = make_pipe(spark, tmp_path, landing)
    client = FakeSqsClient(
        [
            s3_event(("qbucket", "uploads/a.csv")),
            s3_event(("qbucket", "uploads/b.json")),
        ]
    )
    loop = SqsIngestLoop(pipe, "https://sqs/q", client=client)
    results = loop.run()

    assert {r.file_name: r.rows for r in results} == {
        "qbucket/uploads/a.csv": 2,
        "qbucket/uploads/b.json": 3,
    }
    assert client.messages == []  # both messages acked
    assert loop.deleted == 2 and loop.redelivered == 0
    assert pipe.sink.read_table("csv_data").count() == 2
    # drain mode stops on the empty receive after the queue empties
    assert client.receive_calls == 2


def test_failed_file_keeps_message_for_redelivery(spark, tmp_path, landing):
    pipe = make_pipe(spark, tmp_path, landing)
    client = FakeSqsClient(
        [
            s3_event(("qbucket", "uploads/a.csv")),
            s3_event(("qbucket", "uploads/missing.csv")),  # file never landed
        ]
    )
    loop = SqsIngestLoop(pipe, "https://sqs/q", client=client)
    loop.run(max_polls=1)

    # good message acked; failing one stays visible for SQS redelivery —
    # the upgrade over the reference's delete-even-on-failure
    assert [m["MessageId"] for m in client.messages] == ["m1"]
    assert loop.deleted == 1 and loop.redelivered == 1
    assert [f for f, _ in loop.failures] == ["qbucket/uploads/missing.csv"]


def test_failed_sink_write_keeps_message_for_redelivery(spark, tmp_path, landing, monkeypatch):
    # the parse succeeds but the sink write fails on a later partition, so
    # process_file returns a Failed result instead of raising
    from pyspark.sql import functions as F

    from data_ingestion_spark import pipeline as pipeline_mod

    def poisoned_parse(spark, path, ftype, parser_config):
        ids = spark.range(0, 100, numPartitions=4)
        bad = F.raise_error(F.lit("row 90 is poisoned"))
        return ids.select(F.when(F.col("id") == 90, bad).otherwise(F.col("id")).alias("id"))

    monkeypatch.setattr(pipeline_mod, "parse_file", poisoned_parse)
    pipe = make_pipe(spark, tmp_path, landing)
    client = FakeSqsClient([s3_event(("qbucket", "uploads/a.csv"))])
    loop = SqsIngestLoop(pipe, "https://sqs/q", client=client)
    loop.run(max_polls=1)

    assert loop.redelivered == 1 and loop.deleted == 0
    assert client.deleted_handles == []
    assert [m["MessageId"] for m in client.messages] == ["m0"]
    assert [f for f, _ in loop.failures] == ["qbucket/uploads/a.csv"]
    assert "row 90 is poisoned" in loop.failures[0][1]


def test_redelivery_retry_is_idempotent(spark, tmp_path, landing):
    pipe = make_pipe(spark, tmp_path, landing)
    # ONE message carrying a good file and a bad file: first pass ingests
    # the good one but keeps the message; the retry must not double-ingest
    client = FakeSqsClient(
        [
            s3_event(
                ("qbucket", "uploads/a.csv"), ("qbucket", "uploads/missing.csv")
            )
        ]
    )
    loop = SqsIngestLoop(pipe, "https://sqs/q", client=client)
    loop.run(max_polls=1)
    assert len(client.messages) == 1  # retained
    assert pipe.sink.read_table("csv_data").count() == 2

    # the broken file lands; the visibility timeout lapses and SQS
    # redelivers the retained message
    import pathlib

    (pathlib.Path(landing) / "qbucket" / "uploads" / "missing.csv").write_text(
        "x\n1\n"
    )
    client.expire_visibility()
    loop.run(max_polls=1)
    assert client.messages == []  # acked on the clean retry
    # replay guard: a.csv was skipped, not re-ingested (still 2 rows)
    assert loop.skipped == ["qbucket/uploads/a.csv"]
    assert pipe.sink.read_table("csv_data").count() == 2 + 1


def test_poison_messages_audited_and_acked(spark, tmp_path, landing):
    pipe = make_pipe(spark, tmp_path, landing)
    client = FakeSqsClient(
        [
            "not json at all",
            json.dumps({"Records": [{"s3": {"bucket": {"name": "qbucket"}}}]}),
            json.dumps({"hello": "world"}),
        ]
    )
    loop = SqsIngestLoop(pipe, "https://sqs/q", client=client)
    loop.run()

    assert client.messages == []  # all acked: redelivery can't fix a body
    assert loop.warns == {
        "invalid_json": 1,
        "missing_bucket_or_key": 1,
        "no_records": 1,
    }
    # warn-as-audit-row: every poison body is a queryable Failed row
    failed = [
        r["message"]
        for r in pipe.log.current_status().collect()
        if r["status"] == "Failed"
    ]
    assert sorted(failed) == [
        "s3-event: invalid_json",
        "s3-event: missing_bucket_or_key",
        "s3-event: no_records",
    ]


def test_randomized_mixed_queue_invariants(spark, tmp_path, landing):
    """Seeded-random sweep of the delivery contract: 7 messages mixing
    good files, missing files, and poison bodies, drained across repeated
    polls with the missing files landing between rounds. Invariants:

    - a message is retained exactly while it references a not-yet-landed
      file, and every message is eventually deleted;
    - every distinct good file ingests EXACTLY once (audit log: one
      Success row per file) no matter how many redeliveries saw it;
    - every poison body leaves exactly one Failed audit row.
    """
    import pathlib
    import random

    rng = random.Random(63)
    base = pathlib.Path(landing) / "qbucket" / "uploads"
    good, missing, poison = [], [], 0
    bodies = []
    for i in range(7):
        kind = rng.choice(["good", "good", "mixed", "poison"])
        if kind == "poison":
            bodies.append(rng.choice(["not json", '{"Records": []}']))
            poison += 1
            continue
        files = []
        for j in range(rng.randint(1, 2)):
            name = f"f{i}_{j}.csv"
            files.append(("qbucket", f"uploads/{name}"))
            if kind == "mixed" and j == 0:
                missing.append(name)  # lands later
            else:
                (base / name).write_text("h\n1\n2\n")
                good.append(name)
        bodies.append(s3_event(*files))
    rng.shuffle(bodies)
    assert missing and poison and good  # the seed exercises all three arms

    pipe = make_pipe(spark, tmp_path, landing)
    client = FakeSqsClient(bodies)
    loop = SqsIngestLoop(pipe, "https://sqs/q", client=client, max_messages=3)
    loop.run()  # drain what can succeed; mixed messages stay retained

    assert len(client.messages) == len(missing)  # one retained per missing file
    # late files land; visibility lapses; everything drains on the retry
    for name in missing:
        (base / name).write_text("h\n9\n")
    client.expire_visibility()
    loop.run()
    assert client.messages == []

    status = pipe.log.current_status().collect()
    success = [r["file_name"] for r in status if r["status"] == "Success"]
    assert len(success) == len(set(success)) == len(good) + len(missing)
    n_poison_rows = sum(
        1
        for r in status
        if r["status"] == "Failed" and str(r["message"]).startswith("s3-event:")
    )
    assert n_poison_rows == poison
    # exactly-once sink effect: 2 rows per originally-good csv, 1 per late
    assert pipe.sink.read_table("csv_data").count() == 2 * len(good) + len(missing)


def test_lazy_client_factory_not_called_when_injected(spark, tmp_path, landing):
    pipe = make_pipe(spark, tmp_path, landing)
    calls = []
    loop = SqsIngestLoop(
        pipe,
        "https://sqs/q",
        client=FakeSqsClient([]),
        client_factory=lambda: calls.append(1),
    )
    loop.run()
    assert calls == []  # injected client wins; boto3 path never touched
