"""Structured Streaming tests: the event loop (reference ecs_service.rs
rebuilt on a file-source stream), the event-time operators and the
stateful guards behind their one replay guard.

Stream results are asserted EQUAL to the same functions run in batch mode —
the batch/stream polymorphism of the DataFrame API is itself the test.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

from data_ingestion_spark.pipeline import IngestionPipeline
from data_ingestion_spark.session import load_table
from data_ingestion_spark.streaming import (
    IngestionStreamLoop,
    session_window_agg,
    stream_events_from_dir,
    tumbling_window_counts,
)

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Event loop
# ---------------------------------------------------------------------------
@pytest.fixture()
def landing(tmp_path):
    b = tmp_path / "landing" / "stream-bucket"
    (b / "uploads").mkdir(parents=True)
    (b / "uploads" / "a.csv").write_text("name,age\nJohn,30\nJane,25\n")
    (b / "uploads" / "b.json").write_text('[{"k": 1}, {"k": 2}, {"k": 3}]')
    (b / "uploads" / "bad.pdf").write_text("%PDF-fake")
    return str(tmp_path / "landing")


def test_ingest_stream_drains_landing_dir(spark, tmp_path, landing):
    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=landing
    )
    loop = IngestionStreamLoop(
        pipe, landing, checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    results = loop.run_available()

    assert {r.file_name: r.rows for r in results} == {
        "stream-bucket/uploads/a.csv": 2,
        "stream-bucket/uploads/b.json": 3,
    }
    # unsupported type fails its file only — siblings in the batch unaffected
    assert [f for f, _ in loop.failures] == ["stream-bucket/uploads/bad.pdf"]
    assert pipe.sink.read_table("csv_data").count() == 2

    # audit log: 2 Success + 1 Failed (upgrade over reference's L3 gap)
    status = {
        (r["file_name"], r["status"])
        for r in pipe.log.current_status().collect()
    }
    assert ("stream-bucket/uploads/bad.pdf", "Failed") in status
    assert ("stream-bucket/uploads/a.csv", "Success") in status


def test_ingest_stream_bucketless_file_fails_only_itself(spark, tmp_path, landing):
    """ADVICE regression: a file DIRECTLY under landing_dir has no bucket
    segment — it must become a per-file Failed audit row, not a
    half-decoded FileToProcess with an empty key, and its batch siblings
    still process."""
    import pathlib

    pathlib.Path(landing, "stray.csv").write_text("x\n1\n")
    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=landing
    )
    loop = IngestionStreamLoop(pipe, landing, checkpoint_dir=str(tmp_path / "ckpt"))
    results = loop.run_available()

    assert {r.file_name for r in results} == {
        "stream-bucket/uploads/a.csv",
        "stream-bucket/uploads/b.json",
    }
    failed = dict(loop.failures)
    assert "bucket directory" in failed["stray.csv"]
    status = {
        (r["file_name"], r["status"])
        for r in pipe.log.current_status().collect()
    }
    assert ("stray.csv", "Failed") in status


def test_ingest_stream_checkpoint_skips_seen_files(spark, tmp_path, landing):
    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=landing
    )
    ckpt = str(tmp_path / "ckpt")
    IngestionStreamLoop(pipe, landing, ckpt).run_available()

    # second run over the same checkpoint: nothing new → no reprocessing
    loop2 = IngestionStreamLoop(pipe, landing, ckpt)
    assert loop2.run_available() == []

    # a NEW file is picked up exactly once (txt routes under logs/ in the
    # default rule set, mirroring the reference's seed rules)
    logs_dir = os.path.join(landing, "stream-bucket", "logs")
    os.makedirs(logs_dir, exist_ok=True)
    with open(os.path.join(logs_dir, "c.txt"), "w") as f:
        f.write("hello\nworld\n")
    loop3 = IngestionStreamLoop(pipe, landing, ckpt)
    results = loop3.run_available()
    assert [r.file_name for r in results] == ["stream-bucket/logs/c.txt"]
    assert results[0].rows == 2


# ---------------------------------------------------------------------------
# Event-time windows: stream == batch
# ---------------------------------------------------------------------------
def _run_stream_to_memory(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_tumbling_window_stream_equals_batch(spark, tmp_path):
    events_batch = load_table(spark, SF_DIR, "events")
    # re-write as plain parquet dir (stream source needs a directory +
    # explicit schema; testdata is a single file with NANOS timestamps)
    src = str(tmp_path / "events_src")
    events_batch.write.parquet(src)

    batch = {
        tuple(r)
        for r in tumbling_window_counts(
            spark.read.parquet(src), "6 hours"
        ).collect()
    }
    sdf = tumbling_window_counts(
        stream_events_from_dir(spark, src), "6 hours", watermark="1 hour"
    )
    stream = {tuple(r) for r in _run_stream_to_memory(spark, sdf, "t_tumble").collect()}
    assert stream == batch and len(batch) > 0


def test_session_window_stream_equals_batch(spark, tmp_path):
    events_batch = load_table(spark, SF_DIR, "events").filter("user_id < 20")
    src = str(tmp_path / "events_sess_src")
    events_batch.write.parquet(src)

    batch = {
        tuple(r)
        for r in session_window_agg(
            spark.read.parquet(src), gap="30 minutes"
        ).collect()
    }
    sdf = session_window_agg(
        stream_events_from_dir(spark, src), gap="30 minutes", watermark="1 hour"
    )
    stream = {tuple(r) for r in _run_stream_to_memory(spark, sdf, "t_sess").collect()}
    assert stream == batch and len(batch) > 0


# ---------------------------------------------------------------------------
# Custom stateful operator
# ---------------------------------------------------------------------------
def test_sessionize_stream_closed_sessions(spark, tmp_path):
    from data_ingestion_spark.streaming.sessionize import sessionize_stream

    events_batch = load_table(spark, SF_DIR, "events").filter("user_id < 10")
    src = str(tmp_path / "events_state_src")
    events_batch.write.parquet(src)

    sdf = sessionize_stream(stream_events_from_dir(spark, src), gap_seconds=1800)
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("t_state").collect()
    }

    # oracle: batch session_window gives ALL sessions; the stateful operator
    # emits only CLOSED ones — every user's final (still-open) session stays
    # in state. closed = all minus each user's last session.
    all_sessions = session_window_agg(
        spark.read.parquet(src), gap="30 minutes"
    ).collect()
    last_start = {}
    for r in all_sessions:
        cur = last_start.get(r["user_id"])
        if cur is None or r["session_start"] > cur:
            last_start[r["user_id"]] = r["session_start"]
    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in all_sessions
        if r["session_start"] != last_start[r["user_id"]]
    }
    assert got == expected and len(expected) > 0


# ---------------------------------------------------------------------------
# Stream-stream join + streaming dedup
# ---------------------------------------------------------------------------
def test_interval_join_stream_equals_batch(spark, tmp_path):
    from data_ingestion_spark.streaming import interval_join, stream_events_from_dir

    events_batch = load_table(spark, SF_DIR, "events").filter("user_id < 15")
    src = str(tmp_path / "events_join_src")
    events_batch.write.parquet(src)

    def sides(df):
        clicks = df.filter("event_type = 'click'").select(
            "user_id",
            df["event_id"].alias("click_id"),
            df["ts"].alias("click_ts"),
        )
        buys = df.filter("event_type = 'purchase'").select(
            df["user_id"].alias("b_user_id"),
            df["event_id"].alias("buy_id"),
            df["ts"].alias("buy_ts"),
        ).withColumnRenamed("b_user_id", "user_id")
        return clicks, buys

    bc, bb = sides(spark.read.parquet(src))
    batch = {
        (r["click_id"], r["buy_id"])
        for r in interval_join(
            bc, bb, "user_id", "click_ts", "buy_ts", within_seconds=3600
        ).collect()
    }

    sc_, sb = sides(stream_events_from_dir(spark, src))
    joined = interval_join(
        sc_, sb, "user_id", "click_ts", "buy_ts", within_seconds=3600,
        watermark="2 hours",
    ).select("click_id", "buy_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_sjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = {tuple(r) for r in spark.table("t_sjoin").collect()}
    assert stream == batch and len(batch) > 0


def test_streaming_dedup_collapses_redelivery(spark, tmp_path):
    from data_ingestion_spark.streaming import dedup_events, stream_events_from_dir

    base = load_table(spark, SF_DIR, "events").filter("user_id < 10")
    src = str(tmp_path / "events_dup_src")
    # simulate at-least-once redelivery: every event lands twice
    base.write.parquet(src)
    base.write.mode("append").parquet(src)

    n_unique = base.select("event_id").distinct().count()
    deduped = dedup_events(
        stream_events_from_dir(spark, src), keys=["event_id"], watermark="1 hour"
    ).select("event_id")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_sdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_sdedup").collect()
    assert len(got) == len({r["event_id"] for r in got}) == n_unique


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """Late-data semantics end-to-end: run 1 processes on-time events and
    advances the watermark (persisted in the checkpoint); run 2 appends a
    file whose events are older than the watermark — in append mode those
    rows must NOT resurrect already-finalized windows."""
    from datetime import datetime

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    sink = str(tmp_path / "late_sink")
    os.makedirs(src)

    def write_batch(rows):
        df = spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value"]
        )
        df.coalesce(1).write.mode("append").parquet(src)

    def run():
        sdf = tumbling_window_counts(
            stream_events_from_dir(spark, src), "1 hour", watermark="30 minutes"
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: events at 10:00-12:10 -> watermark advances to ~11:40
    write_batch([
        (1, datetime(2024, 1, 1, 10, 5), 1, "view", 1.0),
        (2, datetime(2024, 1, 1, 10, 50), 1, "view", 1.0),
        (3, datetime(2024, 1, 1, 12, 10), 1, "view", 1.0),
    ])
    run()
    first = spark.read.parquet(sink).collect()
    # append mode emits only windows fully below the watermark: the 10:00
    # window (max_ts 12:10 - 30min = 11:40 > 11:00 close)
    emitted = {(r["window_start"].hour, r["n_events"]) for r in first}
    assert (10, 2) in emitted

    # run 2: a LATE event inside the already-finalized 10:00 window, plus a
    # fresh on-time event that pushes the watermark further
    write_batch([
        (4, datetime(2024, 1, 1, 10, 20), 1, "view", 1.0),   # late -> dropped
        (5, datetime(2024, 1, 1, 14, 0), 1, "view", 1.0),    # on time
    ])
    run()
    rows = spark.read.parquet(sink).collect()
    by_window = {}
    for r in rows:
        by_window.setdefault(r["window_start"].hour, 0)
        by_window[r["window_start"].hour] += r["n_events"]
    # the 10:00 window was NOT re-emitted with the late row: still 2 events
    assert by_window[10] == 2
    # and the 12:00 window closed in run 2 (watermark moved past 13:00)
    assert by_window.get(12) == 1


def test_ingest_stream_handles_avro_landing(spark, tmp_path):
    """A binary .avro container landing in the watched dir routes through
    the dispatch like any text format — the stream loop must not assume
    UTF-8 payloads."""
    from data_ingestion_spark.sources.avro_source import write_avro_file

    b = tmp_path / "landing" / "stream-bucket"
    (b / "uploads").mkdir(parents=True)
    write_avro_file(
        str(b / "uploads" / "ev.avro"),
        {
            "type": "record",
            "name": "E",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "tag", "type": "string"},
            ],
        },
        [{"k": 1, "tag": "x"}, {"k": 2, "tag": "y"}],
        codec="deflate",
    )
    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(tmp_path / "landing")
    )
    loop = IngestionStreamLoop(
        pipe, str(tmp_path / "landing"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    results = loop.run_available()
    assert {r.file_name: r.rows for r in results} == {
        "stream-bucket/uploads/ev.avro": 2
    }
    got = pipe.sink.read_table("avro_data")
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_compact_table_rewrites_small_files(spark, tmp_path):
    import pyspark.sql.functions as F

    from data_ingestion_spark.sinks.parquet_sink import compact_table

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    # simulate micro-batch append storm: 20 appends x 4 partitions each
    for i in range(20):
        df.filter((F.col("k") % 20) == i).repartition(4).write.mode(
            "append"
        ).parquet(path)
    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["files_before"] >= 60
    assert stats["files_after"] == 1  # well under one 128MB target
    assert stats["rows"] == 1000
    got = spark.read.parquet(path)
    assert got.count() == 1000
    assert got.agg(F.sum("k")).collect()[0][0] == 499500


def test_compact_table_clustered(spark, tmp_path):
    import pyspark.sql.functions as F

    from data_ingestion_spark.sinks.parquet_sink import compact_table

    path = str(tmp_path / "tc")
    spark.range(0, 500).withColumnRenamed("id", "k").repartition(8).write.parquet(path)
    stats = compact_table(spark, path, target_file_mb=128, cluster_by=["k"])
    assert stats["files_after"] == 1 and stats["rows"] == 500
    got = spark.read.parquet(path)
    # clustered rewrite preserves values and sorts within the single file
    vals = [r["k"] for r in got.collect()]
    assert sorted(vals) == list(range(500))


# ---------------------------------------------------------------------------
# SQS front door: message stream -> S3-event decode -> ingest -> audit
# ---------------------------------------------------------------------------
def test_sqs_front_door_one_stream_run(spark, tmp_path):
    """The reference's only E2E path (dev-test.sh -> ecs_service.rs:176-224)
    in ONE stream run: event-JSON message bodies (incl. malformed records)
    land in a queue dir; the stream decodes, ingests each named file, and
    both target-table counts and warn-status audit rows come out."""
    import json as _json

    from data_ingestion_spark.streaming import SqsFrontDoorLoop

    # data files the events point at: {base_dir}/{bucket}/{key}
    data = tmp_path / "s3" / "my-bucket" / "uploads"
    data.mkdir(parents=True)
    (data / "a.csv").write_text("name,age\nJohn,30\nJane,25\n")
    (data / "b.json").write_text('[{"k": 1}, {"k": 2}, {"k": 3}]')

    def ev(*records):
        return _json.dumps({"Records": list(records)})

    def rec(bucket, key):
        return {"s3": {"bucket": {"name": bucket}, "object": {"key": key}}}

    queue = tmp_path / "queue"
    queue.mkdir()
    # message 1: two good records in one event (multi-record SQS body)
    (queue / "m1.json").write_text(
        ev(rec("my-bucket", "uploads/a.csv"), rec("my-bucket", "uploads/b.json"))
        + "\n"
    )
    # message 2: one record missing the key (warn), one body with no
    # Records array (warn), one body that is not JSON at all (warn)
    (queue / "m2.json").write_text(
        ev({"s3": {"bucket": {"name": "my-bucket"}}})
        + "\n"
        + _json.dumps({"Event": "s3:TestEvent"})
        + "\n"
        + "this is not json\n"
    )
    # message 3: a good record naming a file that doesn't exist (fetch fail)
    (queue / "m3.json").write_text(
        ev(rec("my-bucket", "uploads/ghost.csv")) + "\n"
    )

    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(tmp_path / "s3")
    )
    loop = SqsFrontDoorLoop(
        pipe, str(queue), checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    results = loop.run_available()

    # per-file ingest results from the stream run
    assert {r.file_name: r.rows for r in results} == {
        "my-bucket/uploads/a.csv": 2,
        "my-bucket/uploads/b.json": 3,
    }
    # target-table counts
    assert pipe.sink.read_table("csv_data").count() == 2
    assert pipe.sink.read_table("json_data").count() == 3
    # the ghost file failed its file only
    assert [f for f, _ in loop.failures] == ["my-bucket/uploads/ghost.csv"]
    # the three malformed shapes were warned-and-skipped, not fatal
    assert loop.warns == {
        "missing_bucket_or_key": 1,
        "no_records": 1,
        "invalid_json": 1,
    }
    # audit log: Success rows for the two ingests, Failed rows for the
    # ghost fetch AND each warn-status record (warn-as-data upgrade)
    status = {
        (r["file_name"], r["status"])
        for r in pipe.log.current_status().collect()
    }
    assert ("my-bucket/uploads/a.csv", "Success") in status
    assert ("my-bucket/uploads/b.json", "Success") in status
    assert ("my-bucket/uploads/ghost.csv", "Failed") in status
    warn_rows = [s for s in status if s[0] == "<sqs-message>"]
    assert len(warn_rows) == 1 and warn_rows[0][1] == "Failed"
    msgs = {
        r["message"]
        for r in pipe.log.read().collect()
        if r["message"] and r["message"].startswith("s3-event:")
    }
    assert msgs == {
        "s3-event: missing_bucket_or_key",
        "s3-event: no_records",
        "s3-event: invalid_json",
    }


def test_sqs_front_door_checkpoint_is_exactly_once(spark, tmp_path):
    """Run 2 with the same checkpoint re-reads nothing; a NEW message after
    run 1 is picked up alone (the SURVEY 3.4 exactly-once upgrade over the
    reference's delete-even-on-failure loop)."""
    import json as _json

    from data_ingestion_spark.streaming import SqsFrontDoorLoop

    data = tmp_path / "s3" / "b" / "in"
    data.mkdir(parents=True)
    (data / "x.csv").write_text("h\n1\n")
    (data / "y.csv").write_text("h\n1\n2\n")

    def msg(key):
        return _json.dumps(
            {"Records": [{"s3": {"bucket": {"name": "b"}, "object": {"key": key}}}]}
        )

    queue = tmp_path / "q"
    queue.mkdir()
    (queue / "m1.json").write_text(msg("in/x.csv") + "\n")

    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(tmp_path / "s3")
    )

    def run():
        loop = SqsFrontDoorLoop(pipe, str(queue), checkpoint_dir=str(tmp_path / "ck"))
        loop.run_available()
        return loop

    l1 = run()
    assert [r.file_name for r in l1.results] == ["b/in/x.csv"]
    l2 = run()  # same checkpoint, nothing new
    assert l2.results == [] and l2.warns == {}
    (queue / "m2.json").write_text(msg("in/y.csv") + "\n")
    l3 = run()
    assert [r.file_name for r in l3.results] == ["b/in/y.csv"]
    assert pipe.sink.read_table("csv_data").count() == 3


def test_batch_replay_does_not_duplicate_ingested_rows(spark, tmp_path, landing):
    """Exactly-once SINK effect, not just discovery: a micro-batch
    re-offered after a mid-batch crash (simulated by re-driving the same
    paths through _process_batch) must skip files whose audit row already
    finalized Success — target-table counts unchanged; failed files DO
    retry."""
    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=landing
    )
    loop = IngestionStreamLoop(
        pipe, landing, checkpoint_dir=str(tmp_path / "ckpt")
    )
    loop.run_available()
    assert pipe.sink.read_table("csv_data").count() == 2
    n_results = len(loop.results)

    # crash-replay: the whole batch is re-offered
    paths = [
        "file://" + os.path.join(landing, "stream-bucket", "uploads", n)
        for n in ("a.csv", "b.json", "bad.pdf")
    ]
    replay = spark.createDataFrame([(p,) for p in paths], "path string")
    loop._process_batch(replay, batch_id=99)

    assert sorted(loop.skipped) == [
        "stream-bucket/uploads/a.csv",
        "stream-bucket/uploads/b.json",
    ]
    assert len(loop.results) == n_results  # nothing re-ingested
    assert pipe.sink.read_table("csv_data").count() == 2  # no duplicates
    assert pipe.sink.read_table("json_data").count() == 3
    # the failed pdf retried (still fails — it's a bad file, not a dup)
    assert [f for f, _ in loop.failures].count("stream-bucket/uploads/bad.pdf") == 2


def test_sqs_front_door_compressed_landing(spark, tmp_path):
    """The streaming front door × compressed-text dispatch intersection:
    an S3 event naming a .csv.gz key routes through the csv parser
    (transparent Hadoop-codec decompression) inside one stream run."""
    import gzip
    import json as _json

    from data_ingestion_spark.streaming import SqsFrontDoorLoop

    data = tmp_path / "s3" / "zbucket" / "uploads"
    data.mkdir(parents=True)
    with gzip.open(data / "c.csv.gz", "wt") as f:
        f.write("name,score\nAda,9\nLin,7\nRex,5\n")

    queue = tmp_path / "queue"
    queue.mkdir()
    (queue / "m1.json").write_text(
        _json.dumps(
            {
                "Records": [
                    {
                        "s3": {
                            "bucket": {"name": "zbucket"},
                            "object": {"key": "uploads/c.csv.gz"},
                        }
                    }
                ]
            }
        )
        + "\n"
    )

    pipe = IngestionPipeline(
        spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(tmp_path / "s3")
    )
    loop = SqsFrontDoorLoop(
        pipe, str(queue), checkpoint_dir=str(tmp_path / "ckpt")
    )
    results = loop.run_available()
    assert {r.file_name: r.rows for r in results} == {
        "zbucket/uploads/c.csv.gz": 3
    }
    rows = {
        (r["name"], r["score"])
        for r in pipe.sink.read_table("csv_data").collect()
    }
    assert rows == {("Ada", "9"), ("Lin", "7"), ("Rex", "5")}
    assert loop.failures == [] and loop.warns == {}


# ---------------------------------------------------------------------------
# Stateful guards: foreachBatch processors over versioned state tables,
# each behind the one (query id, batch_id) replay guard
# ---------------------------------------------------------------------------
def test_running_totals_stream_equals_batch(spark, tmp_path):
    """Final per-key running totals must equal the batch groupBy aggregate
    over the same data, through a real readStream with a checkpoint."""
    import pyspark.sql.functions as F

    from data_ingestion_spark.operators import tableformat
    from data_ingestion_spark.streaming.foreach_batch_state import (
        run_stream,
        running_totals_batch,
    )

    events_batch = load_table(spark, SF_DIR, "events").filter("user_id < 10")
    src = str(tmp_path / "events_rt_src")
    events_batch.write.parquet(src)
    batch = {
        r["user_id"]: (r["n"], r["total"])
        for r in events_batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    root = str(tmp_path / "rt")
    run_stream(
        stream_events_from_dir(spark, src),
        running_totals_batch(root),
        str(tmp_path / "rt_ckpt"),
    ).awaitTermination()
    final = {
        r["user_id"]: (r["n_events"], r["total"])
        for r in tableformat.read_atomic(spark, root, "state").collect()
    }
    assert set(final) == set(batch) and len(batch) > 0
    for k in batch:
        assert final[k][0] == batch[k][0]
        assert abs(final[k][1] - batch[k][1]) < 1e-6


def test_streaming_dedup_stream_equals_batch(spark, tmp_path):
    """E2E: the final kept-set equals the batch min-per-fingerprint
    winners, and every input row surfaces exactly once with a verdict."""
    import pyspark.sql.functions as F

    from data_ingestion_spark.streaming.foreach_batch_state import (
        dedup_batch,
        read_output,
        run_stream,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .limit(200)
        .select(
            F.md5(F.substring("text", 1, 40)).alias("fp"),
            F.col("doc_id"),
        )
    )
    src = str(tmp_path / "docs_dedup_src")
    docs.write.parquet(src)
    batch = {
        r["fp"]: r["w"]
        for r in docs.groupBy("fp").agg(F.min("doc_id").alias("w")).collect()
    }
    root = str(tmp_path / "dedup")
    run_stream(
        spark.readStream.schema("fp string, doc_id long").parquet(src),
        dedup_batch(root),
        str(tmp_path / "dedup_ckpt"),
    ).awaitTermination()
    out = read_output(spark, root)
    kept = {r["fp"]: r["doc_id"] for r in out.filter("kept").collect()}
    assert kept == batch and len(batch) > 0
    assert out.count() == docs.count()


def test_streaming_neardup_e2e_flags_planted_near_dups(spark, tmp_path):
    """E2E: of a planted same-batch duplicate pair the higher id is
    flagged; unrelated docs are not."""
    from data_ingestion_spark.streaming.foreach_batch_state import (
        neardup_batch,
        read_output,
        run_stream,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (3, "completely different content about other things entirely"),
    ]
    src = str(tmp_path / "neardup_src")
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(src)
    root = str(tmp_path / "neardup")
    run_stream(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        neardup_batch(root),
        str(tmp_path / "neardup_ckpt"),
    ).awaitTermination()
    out = read_output(spark, root)
    assert {r["doc_id"] for r in out.filter("NOT kept").collect()} == {2}
    assert {r["doc_id"] for r in out.filter("kept").collect()} == {1, 3}


def test_dedup_fallback_state_persists_across_streams(spark, tmp_path):
    """A fingerprint kept in stream run 1 must be flagged as a replay in
    stream run 2 (separate query, same state root) — the nightly-restart
    shape: state outlives the streaming query."""
    from data_ingestion_spark.operators import tableformat
    from data_ingestion_spark.streaming.foreach_batch_state import (
        dedup_batch,
        read_output,
        run_stream,
    )

    root = str(tmp_path / "dedup")
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [("fpA", 1), ("fpB", 2)], "fp string, doc_id long"
    ).write.parquet(src1)
    spark.createDataFrame(
        [("fpA", 3), ("fpC", 4)], "fp string, doc_id long"
    ).write.parquet(src2)
    for i, src in enumerate([src1, src2]):
        run_stream(
            spark.readStream.schema("fp string, doc_id long").parquet(src),
            dedup_batch(root),
            str(tmp_path / f"ckpt{i}"),
        ).awaitTermination()
    out = {(r["fp"], r["doc_id"]): r["kept"] for r in read_output(spark, root).collect()}
    assert out == {
        ("fpA", 1): True,
        ("fpB", 2): True,
        ("fpA", 3): False,  # replay across stream restarts
        ("fpC", 4): True,
    }
    state = {r["fp"]: (r["winner_id"], r["n_dup"]) for r in
             tableformat.read_atomic(spark, root, "state").collect()}
    assert state == {"fpA": (1, 1), "fpB": (2, 0), "fpC": (4, 0)}


def test_neardup_fallback_state_persists_across_streams(spark, tmp_path):
    """A doc near-identical to a member stored by an EARLIER stream run
    must be flagged; genuinely new content must not be."""
    from data_ingestion_spark.streaming.foreach_batch_state import (
        neardup_batch,
        read_output,
        run_stream,
    )

    root = str(tmp_path / "neardup")
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).write.parquet(src1)
    spark.createDataFrame(
        [(2, text), (3, "utterly unrelated words about some other topic here")],
        "doc_id long, text string",
    ).write.parquet(src2)
    for i, src in enumerate([src1, src2]):
        run_stream(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            neardup_batch(root),
            str(tmp_path / f"ckpt{i}"),
        ).awaitTermination()
    out = {r["doc_id"]: r["kept"] for r in read_output(spark, root).collect()}
    assert out == {1: True, 2: False, 3: True}


def test_mg_merge_guarantee_and_lower_bounds():
    """Pure-logic check of the weighted MG table: counts are lower bounds
    of the exact frequencies and any token with freq > total/(k+1)
    survives — on random weighted streams."""
    import random

    from data_ingestion_spark.streaming.foreach_batch_state import _mg_merge

    rnd = random.Random(88)
    for trial in range(5):
        k = rnd.choice((4, 8, 16))
        stream = [
            (f"t{rnd.randrange(40)}", rnd.randrange(1, 6)) for _ in range(300)
        ]
        counters: dict = {}
        exact: dict = {}
        for tok, wgt in stream:
            _mg_merge(counters, tok, wgt, k)
            exact[tok] = exact.get(tok, 0) + wgt
        total = sum(exact.values())
        assert len(counters) <= k
        for tok, c in counters.items():
            assert c <= exact[tok], (trial, tok)
        for tok, f in exact.items():
            if f > total / (k + 1):
                assert tok in counters, (trial, tok, f, total)


def test_heavy_hitters_stream_cross_batch(spark, tmp_path):
    """E2E: documents streamed one file per micro-batch; the final state
    must lower-bound the exact token counts and contain every token whose
    global frequency clears the per-shard MG support bound. State must
    survive across micro-batches (two source files ⇒ two batches), and a
    redelivery of an applied batch must leave it unchanged."""
    import pyspark.sql.functions as F

    from data_ingestion_spark.functions import tokens
    from data_ingestion_spark.operators import tableformat
    from data_ingestion_spark.streaming.foreach_batch_state import (
        heavy_hitters_batch,
        run_stream,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "hh_src")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(src)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    n_shards, k = 8, 16
    exact = {
        r["token"]: (r["shard"], r["freq"])
        for r in docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .withColumn("shard", F.pmod(F.xxhash64("token"), F.lit(n_shards)).cast("long"))
        .groupBy("token", "shard")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()
    }
    shard_totals: dict = {}
    for tok, (shard, freq) in exact.items():
        shard_totals[shard] = shard_totals.get(shard, 0) + freq

    root = str(tmp_path / "hh")
    q = run_stream(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        heavy_hitters_batch(root, n_shards=n_shards, k=k),
        str(tmp_path / "hh_ckpt"),
    )
    q.awaitTermination()
    assert tableformat.read_manifest(os.path.join(root, "state"))["current"] >= 1  # ≥2 batches

    def snapshot():
        return {
            (r["shard"], r["token"]): r["count_lb"]
            for r in tableformat.read_atomic(spark, root, "state").collect()
        }

    final = snapshot()
    for (shard, tok), lb in final.items():
        assert lb <= exact[tok][1], (shard, tok)
    hit = 0
    for tok, (shard, freq) in exact.items():
        if freq > shard_totals[shard] / (k + 1):
            assert (shard, tok) in final, (tok, freq)
            hit += 1
    assert hit > 0  # the fixture actually exercises the guarantee
    # a redelivery of batch 1 of the same query is a no-op
    replay = heavy_hitters_batch(root, n_shards=n_shards, k=k)
    with _as_query(spark, q.id):
        replay(docs.filter("doc_id % 2 = 1"), 1)
    assert snapshot() == final


# ---------------------------------------------------------------------------
# Per-key quota / rate-limit admission
# ---------------------------------------------------------------------------
def test_rate_limit_admission_across_batches(spark, tmp_path):
    """cap=3 per (user, hour window): batch 1 admits the first 3 of user
    7's 5 in-window events (deterministic (ts, event_id) order); batch 2's
    2 more events in the SAME window are rejected, while an event in the
    NEXT window is admitted. State and output commit per batch."""
    import json

    from data_ingestion_spark.operators import tableformat as tf
    from data_ingestion_spark.streaming.foreach_batch_state import (
        rate_limit_batch,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for eid, uid, ts in rows:
                f.write(json.dumps(
                    {"event_id": eid, "user_id": uid, "ts": ts}) + "\n")

    write_batch("b1.jsonl", [
        (1, 7, "2026-01-01 10:00:01"),
        (2, 7, "2026-01-01 10:00:02"),
        (3, 7, "2026-01-01 10:00:03"),
        (4, 7, "2026-01-01 10:00:04"),
        (5, 7, "2026-01-01 10:00:05"),
        (6, 9, "2026-01-01 10:00:01"),
    ])
    root = str(tmp_path / "rl")
    proc = rate_limit_batch(root, cap=3)

    def run_once():
        q = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .json(str(src))
            .writeStream.foreachBatch(proc)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    out1 = {
        r["event_id"]: r["admitted"]
        for r in tf.read_atomic(spark, root, "out").collect()
    }
    assert out1 == {1: True, 2: True, 3: True, 4: False, 5: False, 6: True}

    write_batch("b2.jsonl", [
        (7, 7, "2026-01-01 10:30:00"),   # same window -> over quota
        (8, 7, "2026-01-01 11:00:00"),   # next window -> fresh quota
    ])
    run_once()
    out2 = {
        r["event_id"]: r["admitted"]
        for r in tf.read_atomic(spark, root, "out").collect()
    }
    assert out2 == {7: False, 8: True}


def test_rate_limit_replay_is_idempotent(spark, tmp_path):
    """Re-delivering an already-applied batch_id must not change state or
    commit a new output version (the foreachBatch replay contract)."""
    from data_ingestion_spark.operators import tableformat as tf
    from data_ingestion_spark.streaming.foreach_batch_state import (
        rate_limit_batch,
    )

    root = str(tmp_path / "rl")
    proc = rate_limit_batch(root, cap=2)
    from pyspark.sql import functions as SF

    batch = spark.createDataFrame(
        [(1, 5, "2026-01-01 09:00:00"), (2, 5, "2026-01-01 09:00:01"),
         (3, 5, "2026-01-01 09:00:02")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", SF.to_timestamp("ts"))
    proc(batch, 0)
    state_v = tf.read_manifest(root + "/state")["current"]
    out_v = tf.read_manifest(root + "/out")["current"]
    admitted = sorted(
        r["event_id"]
        for r in tf.read_atomic(spark, root, "out").collect()
        if r["admitted"]
    )
    assert admitted == [1, 2]
    proc(batch, 0)  # replay
    assert tf.read_manifest(root + "/state")["current"] == state_v
    assert tf.read_manifest(root + "/out")["current"] == out_v


def test_rate_limit_torn_commit_replay_is_consistent(spark, tmp_path):
    """r10 (was an r9 ADVICE finding): a crash BETWEEN a member commit and
    the group txn flip must not double-admit or double-emit on replay.
    Simulated by committing orphan member versions directly (the torn
    half) without flipping _txn.json: the replayed batch reads the PINNED
    state, recomputes, and commits a fresh consistent pair; consumers via
    read_atomic see each batch's output exactly once."""
    from data_ingestion_spark.operators import tableformat as tf
    from data_ingestion_spark.streaming.foreach_batch_state import (
        rate_limit_batch,
    )
    from pyspark.sql import functions as SF

    root = str(tmp_path / "rl")
    proc = rate_limit_batch(root, cap=2)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts string"
        ).withColumn("ts", SF.to_timestamp("ts"))

    b0 = mk([(1, 5, "2026-01-01 09:00:00"), (2, 5, "2026-01-01 09:00:01")])
    proc(b0, 0)
    # torn batch 1: members committed, txn NEVER flipped (the crash)
    b1 = mk([(3, 5, "2026-01-01 09:00:02"), (4, 5, "2026-01-01 09:00:03")])
    torn_out = b1.select(
        "event_id", "user_id", SF.lit(0).alias("win_start"),
        SF.lit(True).alias("admitted"), SF.lit(1).alias("batch_id"),
    )
    tf.commit_version(torn_out, root + "/out")
    tf.commit_version(
        spark.createDataFrame(
            [(-1, 0, 1)], "user_id long, win_start long, admitted long"
        ),
        root + "/state",
    )
    # replay of batch 1: pinned txn still says batch 0 -> must re-run
    proc(b1, 1)
    out = tf.read_atomic(spark, root, "out").collect()
    assert {r["event_id"]: r["admitted"] for r in out} == {3: False, 4: False}
    assert all(r["batch_id"] == 1 for r in out)
    # quota state is single-counted: user 5 admitted exactly 2 overall
    st = {
        (r["user_id"], r["win_start"]): r["admitted"]
        for r in tf.read_atomic(spark, root, "state").collect()
        if r["user_id"] >= 0
    }
    assert list(st.values()) == [2]
    # the feed view dedupes torn content by batch_id: one logical batch 1
    import itertools
    all_out = []
    man = tf.read_manifest(root + "/out")
    for e in man["versions"]:
        all_out.extend(tf.read_version(spark, root + "/out", e["v"]).collect())
    by_batch = {
        k: {r["event_id"] for r in g}
        for k, g in itertools.groupby(
            sorted(all_out, key=lambda r: r["batch_id"]),
            key=lambda r: r["batch_id"],
        )
    }
    assert by_batch[1] == {3, 4}


# ---------------------------------------------------------------------------
# The replay guard: every processor is replay-safe and restart-safe
# ---------------------------------------------------------------------------
@contextmanager
def _as_query(spark, query_id):
    """Run the body as Spark runs a foreachBatch call of query
    ``query_id`` — the thread's ``sql.streaming.queryId`` property."""
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", str(query_id))
    try:
        yield
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


def _guard_cases(spark):
    """(processor factory, one input batch) per stateful guard."""
    from pyspark.sql import functions as SF

    from data_ingestion_spark.streaming import foreach_batch_state as fbs

    events = spark.createDataFrame(
        [(1, 1, 2.0, "2026-01-01 09:00:00"), (2, 1, 3.0, "2026-01-01 09:00:01"),
         (3, 1, 4.0, "2026-01-01 09:00:02"), (4, 2, 5.0, "2026-01-01 09:00:00")],
        "event_id long, user_id long, value double, ts string",
    ).withColumn("ts", SF.to_timestamp("ts"))
    fps = spark.createDataFrame(
        [("fpA", 1), ("fpA", 2), ("fpB", 3)], "fp string, doc_id long"
    )
    texts = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "completely different content about other things entirely")],
        "doc_id long, text string",
    )
    return {
        "running_totals": (fbs.running_totals_batch, events),
        "dedup": (fbs.dedup_batch, fps),
        "neardup": (fbs.neardup_batch, texts),
        "heavy_hitters": (fbs.heavy_hitters_batch, texts),
        "rate_limit": (lambda root: fbs.rate_limit_batch(root, cap=2), events),
    }


def _guard_view(spark, root):
    """Sorted state rows and, where the guard emits, sorted output rows."""
    from data_ingestion_spark.operators import tableformat as tf
    from data_ingestion_spark.streaming.foreach_batch_state import read_output

    state = sorted(map(tuple, tf.read_atomic(spark, root, "state").collect()), key=repr)
    if not os.path.exists(os.path.join(root, "out")):
        return state, None
    return state, sorted(map(tuple, read_output(spark, root).collect()), key=repr)


@pytest.mark.parametrize(
    "guard", ["running_totals", "dedup", "neardup", "heavy_hitters", "rate_limit"]
)
def test_guard_replay_leaves_state_and_output_unchanged(spark, tmp_path, guard):
    """A second call with the same batch — a foreachBatch redelivery —
    leaves state and output exactly as after the first call."""
    make, batch = _guard_cases(spark)[guard]
    root = str(tmp_path / guard)
    proc = make(root)
    proc(batch, 0)
    first = _guard_view(spark, root)
    proc(batch, 0)
    assert _guard_view(spark, root) == first
    with _as_query(spark, "q-1"):
        proc(batch, 3)
        second = _guard_view(spark, root)
        proc(batch, 3)
    assert _guard_view(spark, root) == second != first


@pytest.mark.parametrize("guard", ["heavy_hitters", "rate_limit"])
def test_guard_applies_a_new_query_restarting_at_batch_zero(spark, tmp_path, guard):
    """A second streaming query (new checkpoint, same root) restarts at
    batch 0; the guard applies its batch instead of skipping it."""
    from data_ingestion_spark.operators import tableformat as tf
    from data_ingestion_spark.streaming.foreach_batch_state import run_stream

    make, batch = _guard_cases(spark)[guard]
    root = str(tmp_path / guard)
    src1, src2 = str(tmp_path / "src1"), str(tmp_path / "src2")
    key = "user_id" if guard == "rate_limit" else "doc_id"
    batch.filter(f"{key} = 1").write.parquet(src1)
    batch.filter(f"{key} = 2").write.parquet(src2)
    schema = batch.schema
    for i, src in enumerate([src1, src2]):
        run_stream(
            spark.readStream.schema(schema).parquet(src),
            make(root),
            str(tmp_path / f"ckpt{i}"),
        ).awaitTermination()
    ledger = tf.read_atomic(spark, root, "applied").collect()
    assert sorted(r["batch_id"] for r in ledger) == [0, 0]
    assert len({r["query_id"] for r in ledger}) == 2
    state = tf.read_atomic(spark, root, "state").collect()
    if guard == "rate_limit":
        assert {r["user_id"] for r in state} == {1, 2}
        assert {r["user_id"] for r in tf.read_atomic(spark, root, "out").collect()} == {2}
    else:
        got = {r["token"] for r in state}
        assert {"alpha", "completely"} <= got
