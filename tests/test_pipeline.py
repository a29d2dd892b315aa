"""End-to-end pipeline tests: the automated version of the reference's
dev-test.sh + manual mongosh verification (SURVEY.md §3.3 / §5)."""

from __future__ import annotations

import pytest

from data_ingestion_spark.errors import ConfigError, FetchError, ParseError
from data_ingestion_spark.pipeline import FileToProcess, IngestionPipeline
from data_ingestion_spark.sources.dispatch import extract_file_type


@pytest.fixture()
def bucket(tmp_path):
    b = tmp_path / "landing" / "test-bucket"
    (b / "uploads").mkdir(parents=True)
    (b / "logs").mkdir()
    (b / "uploads" / "people.csv").write_text("name,age,city\nJohn,30,NYC\nJane,25,LA\n")
    (b / "uploads" / "test_no_headers.csv").write_text("John,30,john@x.com,NYC\n")
    (b / "uploads" / "data.json").write_text('[{"name":"Alice","value":100}]')
    (b / "logs" / "app.txt").write_text("started\ndone\n")
    (b / "uploads" / "recs.xml").write_text(
        "<data><record id='1'><name>X</name></record></data>"
    )
    (b / "uploads" / "report.pdf").write_text("%PDF-fake")
    return str(tmp_path / "landing")


def make_pipeline(spark, warehouse, bucket, **kw):
    return IngestionPipeline(spark, warehouse_dir=warehouse, base_dir=bucket, **kw)


def test_extract_file_type():
    # ingestion_service.rs:149-158
    assert extract_file_type("a/b/file.CSV") == "csv"
    assert extract_file_type("file.tar.gz") == "gz"
    assert extract_file_type("noext") == ""


def test_csv_end_to_end(spark, warehouse, bucket):
    pipe = make_pipeline(spark, warehouse, bucket)
    res = pipe.process_key("test-bucket", "uploads/people.csv")
    assert res.status == "Success" and res.rows == 2
    out = pipe.sink.read_table("csv_data")
    rows = {r["name"]: r.asDict() for r in out.collect()}
    assert rows["John"]["age"] == "30"
    # enrichment (ingestion_service.rs:81-90, data_repo.rs:36-39)
    assert rows["John"]["file_name"] == "test-bucket/uploads/people.csv"
    assert rows["John"]["log_id"] == res.log_id
    # audit log Success with end_time set
    log = {r["log_id"]: r.asDict() for r in pipe.log.current_status().collect()}
    assert log[res.log_id]["status"] == "Success"
    assert log[res.log_id]["end_time"] is not None


def test_no_headers_rule_routing(spark, warehouse, bucket):
    # longest-wins sends test_no_headers.csv to its own table with custom headers
    pipe = make_pipeline(spark, warehouse, bucket)
    res = pipe.process_key("test-bucket", "uploads/test_no_headers.csv")
    assert res.target_table == "csv_no_headers_data"
    out = pipe.sink.read_table("csv_no_headers_data")
    row = out.collect()[0].asDict()
    assert row["email"] == "john@x.com"


def test_json_txt_xml_end_to_end(spark, warehouse, bucket):
    pipe = make_pipeline(spark, warehouse, bucket)
    assert pipe.process_key("test-bucket", "uploads/data.json").rows == 1
    assert pipe.process_key("test-bucket", "logs/app.txt").rows == 2
    assert pipe.process_key("test-bucket", "uploads/recs.xml").rows == 1
    json_row = pipe.sink.read_table("json_data").collect()[0]
    assert json_row["value"] == 100  # JSON types preserved
    txt = pipe.sink.read_table("text_logs")
    assert {r["line_number"] for r in txt.collect()} == {1, 2}
    xml_row = pipe.sink.read_table("xml_data").collect()[0]
    assert xml_row["id"] == "1" and xml_row["name"] == "X"


def test_pdf_has_no_rule(spark, warehouse, bucket):
    # the reference seeds no pdf rule (migration.js:5-51): a PDF upload dies
    # at step 1 with ConfigError — and the rebuild logs it (upgrade vs L3)
    pipe = make_pipeline(spark, warehouse, bucket)
    with pytest.raises(ConfigError, match="No configuration found"):
        pipe.process_key("test-bucket", "uploads/report.pdf")
    logs = pipe.log.current_status().collect()
    assert len(logs) == 1 and logs[0]["status"] == "Failed"
    assert "No configuration found" in logs[0]["message"]


def test_unsupported_type_rejected_and_logged(spark, warehouse, bucket):
    # parser_adapter.rs:54-57 — a rule that matches an unsupported extension
    # reaches step 4 and is rejected by the dispatch with the reference's
    # message shape; the rebuild also logs the failure (upgrade vs L3)
    from data_ingestion_spark.rules import IngestionConfigRule, RuleSet

    rules = RuleSet([IngestionConfigRule(r".*\.pdf$", "pdf_data")])
    pipe = make_pipeline(spark, warehouse, bucket, rules=rules)
    with pytest.raises(ParseError, match="Unsupported file type: pdf"):
        pipe.process_key("test-bucket", "uploads/report.pdf")
    logs = pipe.log.current_status().collect()
    assert len(logs) == 1 and logs[0]["status"] == "Failed"
    assert "Unsupported file type" in logs[0]["message"]


def test_no_rule_match(spark, warehouse, bucket):
    pipe = make_pipeline(spark, warehouse, bucket)
    with pytest.raises(ConfigError, match="No configuration found"):
        pipe.process_file(FileToProcess("test-bucket", "uploads/file.unknownext"))


def test_missing_file(spark, warehouse, bucket):
    pipe = make_pipeline(spark, warehouse, bucket)
    with pytest.raises(FetchError, match="Failed to fetch"):
        pipe.process_key("test-bucket", "uploads/ghost.csv")


def test_heterogeneous_schema_union(spark, warehouse, bucket, tmp_path):
    # two JSON files with different shapes land in one table (Mongo-style
    # per-doc schemas → union-by-name with nulls, SURVEY.md §1.3)
    import os

    b = os.path.join(bucket, "test-bucket", "uploads")
    open(os.path.join(b, "j1.json"), "w").write('[{"a": 1}]')
    open(os.path.join(b, "j2.json"), "w").write('[{"b": "x"}]')
    pipe = make_pipeline(spark, warehouse, bucket)
    pipe.process_key("test-bucket", "uploads/j1.json")
    pipe.process_key("test-bucket", "uploads/j2.json")
    out = pipe.sink.read_table("json_data")
    assert {"a", "b"} <= set(out.columns)
    assert out.count() == 2


def test_register_parser_plugin_kv_format(spark, tmp_path):
    """User-extensible parser registry (the reference's DataParser trait,
    ports.rs:11-14): plug in a pure-DataFrame '.kv' parser and dispatch
    through the same path as the built-ins."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.sources import dispatch

    def read_kv(spark, path, parser_config=None):
        lines = spark.read.text(path)
        pairs = F.transform(
            F.split(F.col("value"), ";"), lambda kv: F.split(kv, "=")
        )
        return lines.select(
            F.map_from_entries(
                F.transform(pairs, lambda p: F.struct(p[0].alias("k"), p[1].alias("v")))
            ).alias("kv")
        ).select(F.col("kv")["a"].alias("a"), F.col("kv")["b"].alias("b"))

    p = tmp_path / "data.kv"
    p.write_text("a=1;b=2\na=3;b=4\n")
    try:
        dispatch.register_parser("kv", read_kv)
        out = dispatch.parse_file(spark, str(p)).orderBy("a").collect()
        assert [(r["a"], r["b"]) for r in out] == [("1", "2"), ("3", "4")]
        # shadowing a built-in without overwrite is refused
        with pytest.raises(ValueError):
            dispatch.register_parser("csv", read_kv)
        # bad names are refused
        with pytest.raises(ValueError):
            dispatch.register_parser("", read_kv)
    finally:
        dispatch.PARSERS.pop("kv", None)


def test_register_parser_unknown_still_rejected(spark, tmp_path):
    from data_ingestion_spark.sources import dispatch

    p = tmp_path / "f.weird"
    p.write_text("x")
    with pytest.raises(ParseError, match="Unsupported file type"):
        dispatch.parse_file(spark, str(p))


def test_register_parser_plugin_python_udtf(spark, tmp_path):
    """Parser plug-in via a Python UDTF (Spark 4's table function surface) —
    the sanctioned slow path for genuinely irregular formats where one
    input line explodes into a variable number of typed rows. A syslog-ish
    '.applog' format: 'LEVEL ts key=val key=val ...' where each key=val
    becomes its own row."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf

    from data_ingestion_spark.sources import dispatch

    @udtf(returnType="level: string, ts: string, k: string, v: string")
    class ExplodeAppLog:
        def eval(self, line: str):
            if not line or not line.strip():
                return
            head, *pairs = line.split()
            level, _, ts = head.partition("|")
            for p in pairs:
                k, _, v = p.partition("=")
                yield (level, ts, k, v)

    def read_applog(spark, path, parser_config=None):
        spark.udtf.register("explode_applog", ExplodeAppLog)
        lines = spark.read.text(path)
        return spark.sql(
            "SELECT t.* FROM {lines} AS f, LATERAL explode_applog(f.value) t",
            lines=lines,
        )

    p = tmp_path / "svc.applog"
    p.write_text(
        "ERROR|2024-01-01T00:00:00 code=500 route=/api\n"
        "INFO|2024-01-01T00:00:01 code=200\n"
    )
    try:
        dispatch.register_parser("applog", read_applog)
        out = dispatch.parse_file(spark, str(p)).orderBy("ts", "k").collect()
        assert [(r["level"], r["k"], r["v"]) for r in out] == [
            ("ERROR", "code", "500"),
            ("ERROR", "route", "/api"),
            ("INFO", "code", "200"),
        ]
    finally:
        dispatch.PARSERS.pop("applog", None)


def test_gzipped_csv_lands_through_the_pipeline(spark, tmp_path):
    """Compressed text landings: x.csv.gz dispatches as csv and the reader
    decompresses transparently; binary formats keep the reference's
    last-extension behavior."""
    import gzip

    from data_ingestion_spark.sources.dispatch import extract_file_type

    assert extract_file_type("a.csv.gz") == "csv"
    assert extract_file_type("b.json.gz") == "json"
    assert extract_file_type("logs/c.txt.bz2") == "txt"
    assert extract_file_type("file.tar.gz") == "gz"   # reference behavior
    assert extract_file_type("img.xlsx.gz") == "gz"   # binary: not transparent

    b = tmp_path / "landing" / "gz-bucket" / "uploads"
    b.mkdir(parents=True)
    with gzip.open(b / "people.csv.gz", "wt") as f:
        f.write("name,age\nann,30\nbob,40\n")
    pipe = IngestionPipeline(
        spark,
        warehouse_dir=str(tmp_path / "wh"),
        base_dir=str(tmp_path / "landing"),
    )
    res = pipe.process_key("gz-bucket", "uploads/people.csv.gz")
    assert res.rows == 2
    got = pipe.sink.read_table("csv_data")
    assert sorted(r["name"] for r in got.collect()) == ["ann", "bob"]
