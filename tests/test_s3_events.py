"""S3-event JSON decode (streaming/s3_events.py).

Fixture bodies follow the real AWS S3 ObjectCreated:Put notification shape
(extra fields present, keys percent-encoded) — from_json must read exactly
the fields the reference reads (Records[].s3.bucket.name / .object.key,
ecs_service.rs:193-196) and ignore the rest; malformed shapes become
status rows, mirroring the reference's warn-and-skip semantics.
"""

from __future__ import annotations

import json

from data_ingestion_spark.pipeline import IngestionPipeline
from data_ingestion_spark.streaming import s3_event_files
from data_ingestion_spark.streaming.receive import FrontDoor, event_records


def _event(bucket: str, key: str) -> str:
    # the full AWS envelope: decode must tolerate every extra field
    return json.dumps(
        {
            "Records": [
                {
                    "eventVersion": "2.1",
                    "eventSource": "aws:s3",
                    "awsRegion": "us-east-1",
                    "eventTime": "2024-01-01T00:00:00.000Z",
                    "eventName": "ObjectCreated:Put",
                    "s3": {
                        "s3SchemaVersion": "1.0",
                        "configurationId": "cfg",
                        "bucket": {
                            "name": bucket,
                            "ownerIdentity": {"principalId": "A1"},
                            "arn": f"arn:aws:s3:::{bucket}",
                        },
                        "object": {
                            "key": key,
                            "size": 1024,
                            "eTag": "d41d8cd98f00b204e9800998ecf8427e",
                            "sequencer": "0055AED6DCD90281E5",
                        },
                    },
                }
            ]
        }
    )


def test_s3_event_decode_statuses(spark):
    bodies = [
        (_event("corpus", "uploads/a.csv"),),
        # two records in one message — both decoded
        (
            json.dumps(
                {
                    "Records": [
                        {"s3": {"bucket": {"name": "b1"}, "object": {"key": "k1"}}},
                        {"s3": {"bucket": {"name": "b2"}, "object": {"key": "k2"}}},
                    ]
                }
            ),
        ),
        # record missing the key -> warn-and-skip (ecs_service.rs:212)
        (json.dumps({"Records": [{"s3": {"bucket": {"name": "b3"}}}]}),),
        # JSON object without Records -> warn (ecs_service.rs:218)
        (json.dumps({"Event": "s3:TestEvent"}),),
        # not JSON at all -> the reference fails the message; here a row
        ("this is not json",),
    ]
    df = spark.createDataFrame(bodies, ["body"])
    out = s3_event_files(df).collect()
    by_status: dict[str, list] = {}
    for r in out:
        by_status.setdefault(r["status"], []).append((r["bucket"], r["key"]))
    assert sorted(by_status["ok"]) == [
        ("b1", "k1"),
        ("b2", "k2"),
        ("corpus", "uploads/a.csv"),
    ]
    assert len(by_status["missing_bucket_or_key"]) == 1
    assert len(by_status["no_records"]) == 1
    assert len(by_status["invalid_json"]) == 1


def test_s3_event_keys_not_url_decoded(spark):
    # S3 percent-encodes keys in events; the reference passes them through
    # verbatim — so do we (documented fidelity point)
    df = spark.createDataFrame([(_event("b", "dir/My+File%281%29.csv"),)], ["body"])
    [r] = s3_event_files(df).filter("status = 'ok'").collect()
    assert r["key"] == "dir/My+File%281%29.csv"


def test_files_to_process_feeds_pipeline_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    (landing / "stream-bucket" / "uploads").mkdir(parents=True)
    (landing / "stream-bucket" / "uploads" / "a.csv").write_text(
        "name,age\nJohn,30\nJane,25\n"
    )
    bodies = spark.createDataFrame(
        [
            (_event("stream-bucket", "uploads/a.csv"),),
            (json.dumps({"Records": [{"s3": {}}]}),),  # skipped, counted
        ],
        ["body"],
    )
    records = event_records(s3_event_files(bodies).collect())
    assert [r.file.file_name for r in records if r.file] == ["stream-bucket/uploads/a.csv"]

    # the decoded receive through the step every front door shares
    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(landing)
    )
    door = FrontDoor(pipe)
    assert door.ingest(records) == [True, True]
    assert door.warns == {"missing_bucket_or_key": 1}
    assert door.failures == [] and door.skipped == []
    assert [r.rows for r in door.results] == [2]
    assert pipe.sink.read_table("csv_data").count() == 2
