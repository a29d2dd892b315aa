"""Spark jobs and tasks of the per-file ingest actions, and the contracts
the cheaper forms must keep.

Jobs are counted with the DAG scheduler's job counter and tasks with the
status tracker, as ``perfbench/workloads.py`` does: a count repeats
exactly run to run, so a regression to the Python-worker path (one task
per ``defaultParallelism`` slice) or to a separate count job shows here.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest
from front_doors import DOORS, run_receive
from pyspark.sql import functions as F

from data_ingestion_spark.logs import LOG_SCHEMA, IngestionLogWriter
from data_ingestion_spark.pipeline import IngestionPipeline
from data_ingestion_spark.session import local_frame
from data_ingestion_spark.sinks.parquet_sink import ParquetSink


def _measure(spark, fn):
    """(fn's result, jobs, stages, tasks) of the Spark work fn runs."""
    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    j1 = sched.nextJobId()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = [s for j in range(j0, j1) for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
    return out, j1 - j0, len(stages), tasks


def _parts(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def test_local_frame_keeps_schema_and_values(spark):
    message = "it's \"quoted\" \\ back\nslash é 😀 X'00'"
    ts = datetime(2024, 2, 29, 23, 59, 58, 123456)
    rows = [
        ("a", "f.csv", ts, None, "Success", None),
        ("a", "f.csv", ts, ts, "Failed", message),
    ]
    df = local_frame(spark, rows, LOG_SCHEMA)
    assert df.schema == LOG_SCHEMA  # nullability included
    # nullable fields stay nullable when every row holds a value
    assert local_frame(spark, rows[1:], LOG_SCHEMA).schema == LOG_SCHEMA
    assert df.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in df.collect()] == rows
    with pytest.raises(ValueError):
        local_frame(spark, [(None, "f.csv", ts, None, "Success", None)], LOG_SCHEMA)


def test_one_row_audit_append_is_one_task(spark, warehouse):
    log = IngestionLogWriter(spark, warehouse)
    log.insert_log("warmup.csv")
    before = len(_parts(log.path))
    _, jobs, _, tasks = _measure(spark, lambda: log.insert_log("b/a.csv"))
    assert (jobs, tasks) == (1, 1)
    assert len(_parts(log.path)) == before + 1


def test_log_failure_is_one_append(spark, warehouse):
    log = IngestionLogWriter(spark, warehouse)
    start = datetime(2024, 1, 2, 3, 4, 5, 678901)
    _, jobs, _, tasks = _measure(spark, lambda: log.log_failure("b/bad.xyz", start, "boom"))
    assert (jobs, tasks) == (1, 1)
    assert len(_parts(log.path)) == 1
    rows = sorted(log.read().collect(), key=lambda r: r.end_time is not None)
    assert len(rows) == 2 and rows[0].log_id == rows[1].log_id
    assert (rows[0].end_time, rows[0].status, rows[0].message) == (None, "Success", None)
    assert (rows[1].start_time, rows[1].status, rows[1].message) == (start, "Failed", "boom")
    assert rows[1].end_time is not None
    (status,) = log.current_status().collect()
    assert (status.status, status.message) == ("Failed", "boom")


def test_insert_documents_counts_from_the_write(spark, tmp_path, warehouse):
    src = str(tmp_path / "src")
    spark.range(0, 137, numPartitions=3).selectExpr("id", "cast(id AS string) AS s").write.parquet(src)
    df = spark.read.parquet(src)
    sink = ParquetSink(spark, warehouse)
    n, jobs, _, _ = _measure(spark, lambda: sink.insert_documents("t", df))
    assert jobs <= 2
    assert n == 137 == sink.read_table("t").count()


def test_zero_row_frame_writes_nothing(spark, tmp_path, warehouse):
    src = str(tmp_path / "src")
    spark.range(0, 10).selectExpr("id", "cast(id AS string) AS s").write.parquet(src)
    sink = ParquetSink(spark, warehouse)
    assert sink.insert_documents("empty", spark.read.parquet(src).filter("id < 0")) == 0
    assert sink.insert_documents("empty", spark.range(0).selectExpr("id AS other")) == 0
    assert not sink.table_exists("empty")


def test_failed_write_leaves_no_table_and_raises_its_cause(spark, tmp_path, monkeypatch):
    from data_ingestion_spark import pipeline as pipeline_mod
    from data_ingestion_spark.errors import IngestionError
    from data_ingestion_spark.queries.ingestion import _run_pipeline

    def poisoned_parse(spark, path, ftype, parser_config):
        # the empty-probe job reads partition 0; the write fails on the last
        ids = spark.range(0, 100, numPartitions=4)
        bad = F.raise_error(F.lit("row 90 is poisoned"))
        return ids.select(F.when(F.col("id") == 90, bad).otherwise(F.col("id")).alias("id"))

    monkeypatch.setattr(pipeline_mod, "parse_file", poisoned_parse)
    (tmp_path / "b").mkdir()
    (tmp_path / "b" / "a.csv").write_text("h\n1\n")
    pipe = IngestionPipeline(spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(tmp_path))
    result = pipe.process_key("b", "a.csv")
    assert result.status == "Failed" and "row 90 is poisoned" in result.message
    assert os.path.isdir(pipe.sink.table_path("csv_data"))  # the failed job's leftover
    assert not pipe.sink.table_exists("csv_data")
    with pytest.raises(IngestionError, match="row 90 is poisoned"):
        _run_pipeline(spark, {"uploads/a.csv": "h\n1\n"}, ["uploads/a.csv"])


def test_unreadable_audit_log_fails_the_replay_guard(spark, warehouse):
    log = IngestionLogWriter(spark, warehouse)
    log.log_failure("a.csv", datetime(2024, 1, 2), "seed")
    with open(os.path.join(log.path, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    # an empty guard would let the batch re-ingest every file it names
    with pytest.raises(Exception) as err:
        log.successful_files()
    assert "part-corrupt.parquet" in str(err.value)


def test_replay_guard_is_one_shuffle_free_job(spark, warehouse):
    log = IngestionLogWriter(spark, warehouse)
    t = datetime(2024, 5, 6, 7, 8, 9)
    log.insert_log("open_only.csv")
    ok = log.insert_log("ok.csv")
    log.finalize_log(ok, "ok.csv", t, True, None)
    bad = log.insert_log("bad.csv")
    log.finalize_log(bad, "bad.csv", t, False, "parse error")
    log.log_failure("early.csv", t, "no rule")
    # re-ingested: failed first, succeeded on the retry
    retry = log.insert_log("retried.csv")
    log.finalize_log(retry, "retried.csv", t, False, "sink error")
    retry = log.insert_log("retried.csv")
    log.finalize_log(retry, "retried.csv", t, True, None)
    # succeeded, then a replay that is still open
    again = log.insert_log("again.csv")
    log.finalize_log(again, "again.csv", t, True, None)
    log.insert_log("again.csv")

    done, jobs, stages, _ = _measure(spark, log.successful_files)
    assert (jobs, stages) == (1, 1)  # a shuffle would add a stage
    by_status = {
        r.file_name
        for r in log.current_status()
        .filter((F.col("status") == "Success") & F.col("end_time").isNotNull())
        .collect()
    }
    assert done == by_status == {"ok.csv", "retried.csv", "again.csv"}


@pytest.mark.parametrize("door", DOORS)
def test_one_receive_reads_the_guard_once_in_one_job(spark, tmp_path, door):
    landing = tmp_path / "landing"
    (landing / "bkt").mkdir(parents=True)
    keys = ["a.csv", "b.json", "c.csv"]
    for key in keys:
        (landing / "bkt" / key).write_text('[{"k": 1}]' if key.endswith(".json") else "h\n1\n")
    pipe = IngestionPipeline(spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(landing))
    pipe.log.log_failure("earlier.csv", datetime(2024, 1, 1), "seed")  # a log to read
    read, guard_jobs = pipe.log.successful_files, []

    def guard():
        done, jobs, _, _ = _measure(spark, read)
        guard_jobs.append(jobs)
        return done

    pipe.log.successful_files = guard
    loop = run_receive(door, pipe, str(landing), [("bkt", k) for k in keys], str(tmp_path))
    assert guard_jobs == [1]
    assert sorted(r.file_name for r in loop.results) == [f"bkt/{k}" for k in keys]


def test_log_timestamps_round_trip(spark, warehouse):
    log = IngestionLogWriter(spark, warehouse)
    start = datetime(2023, 12, 31, 23, 59, 59, 999999)
    log_id = log.insert_log("ts.csv")
    log.finalize_log(log_id, "ts.csv", start, True, None)
    (opened,) = log.read().filter(F.col("end_time").isNull()).collect()
    (closed,) = log.read().filter(F.col("end_time").isNotNull()).collect()
    assert closed.start_time == start
    assert opened.start_time <= closed.end_time
    assert opened.start_time.tzinfo is None and closed.end_time.tzinfo is None
