"""The three ingest front doors share one per-receive step
(``streaming/receive.py``: replay guard, audit of records naming no file,
replay skip, per-file ``process_file``).

The behavioural test sends the same receive through each door and pins
the same audit rows and tallies; the scan keeps the guard read and the
per-file ingest in that one step, so no door grows its own copy again.
A second scan keeps the stateful guards' commits in their one replay
guard (``streaming/foreach_batch_state.py``).
"""

from __future__ import annotations

import ast
import os

import pytest

from front_doors import DOORS, STRAY, run_receive

from data_ingestion_spark.pipeline import IngestionPipeline

STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_ingestion_spark",
    "streaming",
)

BUCKET = "bkt"
GOOD, UNROUTABLE, DONE = "uploads/good.csv", "uploads/blob.xyz", "uploads/done.csv"
NO_RULE = f"No configuration found for file: {UNROUTABLE}"


@pytest.mark.parametrize("door", DOORS)
def test_one_receive_same_audit_rows_and_tallies_on_every_door(spark, tmp_path, door):
    landing = tmp_path / "landing"
    (landing / BUCKET / "uploads").mkdir(parents=True)
    (landing / BUCKET / GOOD).write_text("name,age\nJohn,30\nJane,25\n")
    (landing / BUCKET / UNROUTABLE).write_text("no rule routes this\n")
    (landing / BUCKET / DONE).write_text("h\n1\n")
    pipe = IngestionPipeline(spark, warehouse_dir=str(tmp_path / "wh"), base_dir=str(landing))
    pipe.process_key(BUCKET, DONE)  # finalized Success before the receive

    files = [(BUCKET, k) for k in (GOOD, UNROUTABLE, DONE)]
    loop = run_receive(door, pipe, str(landing), files, str(tmp_path), no_file=True)

    # the record naming no file: a failure on the landing stream, a
    # tallied S3-event warning on the SQS doors
    if door == "landing_stream":
        no_file = (STRAY, "file landed outside a bucket directory: 'stray.csv' "
                   "(expected {landing_dir}/{bucket}/{key...})")
        extra_failures, warns = [no_file], {}
    else:
        no_file = ("<sqs-message>", "s3-event: invalid_json")
        extra_failures, warns = [], {"invalid_json": 1}
    audit = sorted(
        (r.file_name, r.status, r.message) for r in pipe.log.current_status().collect()
    )
    assert audit == sorted([
        (f"{BUCKET}/{DONE}", "Success", None),  # its one row, not re-ingested
        (f"{BUCKET}/{GOOD}", "Success", None),
        (f"{BUCKET}/{UNROUTABLE}", "Failed", NO_RULE),
        (no_file[0], "Failed", no_file[1]),
    ])
    assert [(r.file_name, r.status, r.rows) for r in loop.results] == [
        (f"{BUCKET}/{GOOD}", "Success", 2)
    ]
    assert sorted(loop.failures) == sorted([(f"{BUCKET}/{UNROUTABLE}", NO_RULE)] + extra_failures)
    assert loop.warns == warns
    assert loop.skipped == [f"{BUCKET}/{DONE}"]
    assert pipe.sink.read_table("csv_data").count() == 2 + 1
    if door == "sqs_client":
        # the unroutable file's message stays for redelivery; the good,
        # replayed and poison messages are acked
        assert (loop.deleted, loop.redelivered) == (3, 1)


def _calls(tree: ast.AST, attrs: set):
    """(attr, enclosing 'Class.method') per call of ``x.attr(...)``."""
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr in attrs):
                found.append((child.func.attr, scope))
            visit(child, inner)

    visit(tree, "")
    return found


def test_only_the_shared_step_reads_the_guard_or_ingests_a_file():
    calls = []
    for name in sorted(os.listdir(STREAMING)):
        if name.endswith(".py"):
            with open(os.path.join(STREAMING, name), encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=name)
            calls += [(name, *call) for call in _calls(tree, {"successful_files", "process_file"})]
    assert sorted(calls) == [
        ("receive.py", "process_file", "FrontDoor.ingest"),
        ("receive.py", "successful_files", "FrontDoor.ingest"),
    ]


def test_only_the_replay_guard_commits_stream_state():
    """Under ``streaming/`` only ``foreach_batch_state.guarded`` commits a
    versioned table or reads the streaming query id, so every stateful
    guard keeps its (query id, batch_id) replay check."""
    calls = []
    for name in sorted(os.listdir(STREAMING)):
        if name.endswith(".py"):
            with open(os.path.join(STREAMING, name), encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=name)
            calls += [(name, *call) for call in _calls(
                tree, {"commit_atomic", "commit_version", "getLocalProperty"})]
    assert sorted(calls) == [
        ("foreach_batch_state.py", "commit_atomic", "guarded.process"),
        ("foreach_batch_state.py", "getLocalProperty", "guarded.process"),
    ]
