"""Driver-gated queries for the INGESTION surface (SURVEY.md §2.1–§2.3).

Each query runs the real pipeline end-to-end — rule match → dispatch →
parse → enrich → parquet sink — on deterministic in-query fixtures, then
returns the sunk table. The DuckDB oracle is the expected output as a
literal ``VALUES`` relation, so the driver's value-hash compare checks the
parsers bit-for-bit (the automated version of the reference's
dev-test.sh + manual mongosh inspection, SURVEY.md §3.3).

``log_id`` is excluded from outputs (uuid-random per run); ``file_name``
enrichment IS included — it's deterministic.
"""

from __future__ import annotations

import os
from ..operators import stores

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import IngestionError
from ..pipeline import IngestionPipeline
from ..rules import DEFAULT_RULES


def _run_pipeline(spark: SparkSession, files: dict, keys: list[str], rules=None):
    """Write fixture files under a temp bucket, ingest each key, return the
    pipeline (fresh warehouse per call — queries must be rerunnable).
    File values: str → text file; callable → invoked with the target path
    (e.g. the xlsx writer). ``rules`` overrides DEFAULT_RULES (e.g. the
    opt-in pdf route). A key whose sink write failed raises its message,
    so the query fails with the root cause, not on the unwritten table."""
    tmp = stores.scratch_dir("ingestq_")
    landing = os.path.join(tmp, "landing")
    bucket = os.path.join(landing, "qbucket")
    for rel, content in files.items():
        path = os.path.join(bucket, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if callable(content):
            content(path)
        else:
            with open(path, "w") as f:
                f.write(content)
    pipe = IngestionPipeline(
        spark,
        warehouse_dir=os.path.join(tmp, "wh"),
        rules=rules if rules is not None else DEFAULT_RULES,
        base_dir=landing,
    )
    for key in keys:
        result = pipe.process_key("qbucket", key)
        if result.status == "Failed":
            raise IngestionError(result.message)
    return pipe


# --------------------------------------------------------------------------
# CSV: headers + ragged-row column_{i} fallback (§2.2 P1/P3)
# --------------------------------------------------------------------------
def ingest_csv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference CSV parser E2E (headers, ragged column_{i} fallback) through the full pipeline."""
    pipe = _run_pipeline(
        spark,
        {
            "uploads/people.csv": (
                "name,age,city\n"
                "John,30,NYC\n"
                "Jane,25,LA,extra1,extra2\n"  # ragged → column_3, column_4
                "Bob,41,SF\n"
            )
        },
        ["uploads/people.csv"],
    )
    out = pipe.sink.read_table("csv_data")
    return out.select(
        "name", "age", "city", "column_3", "column_4", "file_name"
    ).orderBy("name")


INGEST_CSV_DOCS_SQL = """
SELECT * FROM (VALUES
  ('Bob',  '41', 'SF',  NULL,     NULL,
   'qbucket/uploads/people.csv'),
  ('Jane', '25', 'LA',  'extra1', 'extra2',
   'qbucket/uploads/people.csv'),
  ('John', '30', 'NYC', NULL,     NULL,
   'qbucket/uploads/people.csv')
) t(name, age, city, column_3, column_4, file_name)
"""


# --------------------------------------------------------------------------
# JSON passthrough: native types preserved (§2.2 P5)
# --------------------------------------------------------------------------
def ingest_json_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference JSON parser E2E (array explode / single-object wrap) through the full pipeline."""
    pipe = _run_pipeline(
        spark,
        {
            "uploads/data.json": (
                '[{"name": "Alice", "value": 100, "active": true},'
                ' {"name": "Bob", "value": 2.5, "active": false}]'
            )
        },
        ["uploads/data.json"],
    )
    out = pipe.sink.read_table("json_data")
    return out.select("name", "value", "active", "file_name").orderBy("name")


INGEST_JSON_DOCS_SQL = """
SELECT name, CAST(value AS DOUBLE) AS value, active, file_name
FROM (VALUES
  ('Alice', 100.0, true,  'qbucket/uploads/data.json'),
  ('Bob',   2.5,   false, 'qbucket/uploads/data.json')
) t(name, value, active, file_name)
"""


# --------------------------------------------------------------------------
# TXT: 1-based line_number + content (§2.2 P6)
# --------------------------------------------------------------------------
def ingest_txt_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference TXT parser E2E (stable 1-based line_number) through the full pipeline."""
    pipe = _run_pipeline(
        spark,
        {"logs/app.txt": "service started\nprocessing batch\ndone\n"},
        ["logs/app.txt"],
    )
    out = pipe.sink.read_table("text_logs")
    return out.select("line_number", "content", "file_name").orderBy("line_number")


INGEST_TXT_DOCS_SQL = """
SELECT CAST(line_number AS BIGINT) AS line_number, content, file_name
FROM (VALUES
  (1, 'service started',  'qbucket/logs/app.txt'),
  (2, 'processing batch', 'qbucket/logs/app.txt'),
  (3, 'done',             'qbucket/logs/app.txt')
) t(line_number, content, file_name)
"""


# --------------------------------------------------------------------------
# XML: <record> elements, attributes + child-element text (§2.2 P7)
# --------------------------------------------------------------------------
def ingest_xml_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference XML <record> parser E2E (attrs, last-wins) through the full pipeline."""
    pipe = _run_pipeline(
        spark,
        {
            "uploads/recs.xml": (
                "<data>"
                "<record id='1' kind='a'><name>X</name><score>9</score></record>"
                "<record id='2'><name>Y</name></record>"
                "</data>"
            )
        },
        ["uploads/recs.xml"],
    )
    out = pipe.sink.read_table("xml_data")
    return out.select("id", "kind", "name", "score", "file_name").orderBy("id")


INGEST_XML_DOCS_SQL = """
SELECT * FROM (VALUES
  ('1', 'a',  'X', '9',  'qbucket/uploads/recs.xml'),
  ('2', NULL, 'Y', NULL, 'qbucket/uploads/recs.xml')
) t(id, kind, name, score, file_name)
"""


# --------------------------------------------------------------------------
# Excel: sheet-0 headers, stringified cells, overflow-cells DROPPED
# (§2.2 P8 — contrast CSV's column_{i} keep)
# --------------------------------------------------------------------------
def ingest_excel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Excel parser E2E (sheet 0, overflow-drop, xlsx-only) through the full pipeline."""
    from ..sources.xlsx_writer import make_xlsx

    pipe = _run_pipeline(
        spark,
        {
            "reports/q1.xlsx": lambda p: make_xlsx(
                p,
                [
                    [
                        ["product", "qty", "price"],
                        ["Widget", 5, 9.99],
                        ["Gadget", 2, 19.5, "OVERFLOW-DROPPED"],
                    ]
                ],
                shared=True,
            )
        },
        ["reports/q1.xlsx"],
    )
    out = pipe.sink.read_table("excel_reports")
    return out.select("product", "qty", "price", "file_name").orderBy("product")


INGEST_EXCEL_DOCS_SQL = """
SELECT * FROM (VALUES
  ('Gadget', '2', '19.5', 'qbucket/reports/q1.xlsx'),
  ('Widget', '5', '9.99', 'qbucket/reports/q1.xlsx')
) t(product, qty, price, file_name)
"""


# --------------------------------------------------------------------------
# Audit log: per-file Success/Failed statuses incl. the unsupported-type
# rejection path (§2.2 P9 + §2.3 L1/L2)
# --------------------------------------------------------------------------
def ingest_audit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit-log lifecycle E2E: insert -> finalize rows the reference writes per file."""
    pipe = _run_pipeline(
        spark,
        {
            "uploads/a.csv": "h1,h2\nv1,v2\n",
            "uploads/bad.pdf": "%PDF-fake",
        },
        [],
    )
    for key in ["uploads/a.csv", "uploads/bad.pdf"]:
        try:
            pipe.process_key("qbucket", key)
        except Exception:  # noqa: BLE001 — rejection path is the point
            pass
    cur = pipe.log.current_status()
    return cur.select(
        "file_name",
        "status",
        F.col("end_time").isNotNull().alias("finalized"),
    ).orderBy("file_name")


INGEST_AUDIT_LOG_SQL = """
SELECT * FROM (VALUES
  ('qbucket/uploads/a.csv',   'Success', true),
  ('qbucket/uploads/bad.pdf', 'Failed',  true)
) t(file_name, status, finalized)
"""


# --------------------------------------------------------------------------
# ORC: native columnar ingest (rebuild extension; typed passthrough like JSON)
# --------------------------------------------------------------------------
def ingest_orc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip through the dispatch registry."""
    def write_orc_fixture(path: str) -> None:
        src = spark.createDataFrame(
            [(1, "ann", 1.5), (2, "bob", None), (3, "cy", -0.25)],
            "id: long, name: string, score: double",
        )
        tmp = path + ".dir"
        src.coalesce(1).write.mode("overwrite").orc(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".orc"))
        os.replace(os.path.join(tmp, part), path)

    pipe = _run_pipeline(
        spark,
        {"uploads/metrics.orc": write_orc_fixture},
        ["uploads/metrics.orc"],
    )
    out = pipe.sink.read_table("orc_data")
    return out.select("id", "name", "score", "file_name").orderBy("id")


INGEST_ORC_DOCS_SQL = """
SELECT CAST(id AS BIGINT) AS id, name, CAST(score AS DOUBLE) AS score, file_name
FROM (VALUES
  (1, 'ann', 1.5,   'qbucket/uploads/metrics.orc'),
  (2, 'bob', NULL,  'qbucket/uploads/metrics.orc'),
  (3, 'cy',  -0.25, 'qbucket/uploads/metrics.orc')
) t(id, name, score, file_name)
"""


# --------------------------------------------------------------------------
# Avro: pure-stdlib Object Container File ingest (rebuild extension)
# --------------------------------------------------------------------------
def ingest_avro_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink round-trip through the dispatch registry."""
    from ..sources.avro_source import write_avro_file

    schema = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": ["null", "double"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ],
    }
    records = [
        {"id": 1, "name": "ann", "score": 1.25, "tags": ["a", "b"]},
        {"id": 2, "name": "bob", "score": None, "tags": []},
        {"id": 3, "name": "cy", "score": -0.5, "tags": ["z"]},
    ]
    pipe = _run_pipeline(
        spark,
        {
            "uploads/events.avro": (
                lambda p: write_avro_file(p, schema, records, codec="deflate")
            )
        },
        ["uploads/events.avro"],
    )
    out = pipe.sink.read_table("avro_data")
    return out.select(
        "id",
        "name",
        "score",
        F.array_join("tags", ",").alias("tags_csv"),
        "file_name",
    ).orderBy("id")


INGEST_AVRO_DOCS_SQL = """
SELECT CAST(id AS BIGINT) AS id, name, CAST(score AS DOUBLE) AS score,
       tags_csv, file_name
FROM (VALUES
  (1, 'ann', 1.25, 'a,b', 'qbucket/uploads/events.avro'),
  (2, 'bob', NULL, '',    'qbucket/uploads/events.avro'),
  (3, 'cy',  -0.5, 'z',   'qbucket/uploads/events.avro')
) t(id, name, score, tags_csv, file_name)
"""


# --------------------------------------------------------------------------
# Logfmt via the Spark 4 Python Data Source API (the third plug-in tier)
# --------------------------------------------------------------------------
def ingest_logfmt_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse .logfmt/.log fixtures through the registered Python Data
    Source (sources/logfmt_source.py): file-per-partition parallel read,
    all-string doc shape, last-wins duplicate keys, junk preserved under
    _raw — never silently dropped."""
    from ..sources.logfmt_source import LogfmtDataSource

    spark.dataSource.register(LogfmtDataSource)
    tmp = stores.scratch_dir("logfmtq_")
    with open(os.path.join(tmp, "a.logfmt"), "w") as f:
        f.write(
            'level=info msg="service started" port=8080\n'
            'level=error msg="bind failed: \\"addr in use\\"" retry\n'
        )
    with open(os.path.join(tmp, "b.log"), "w") as f:
        f.write('a=1 b=two  junk? c="x y"\n\ndup=1 dup=2\n')
    return (
        spark.read.format("logfmt")
        .option("path", tmp)
        .load()
        .orderBy("file_name", "line_number")
    )


INGEST_LOGFMT_DOCS_SQL = r"""
SELECT file_name, CAST(line_number AS INTEGER) AS line_number, kv_json
FROM (VALUES
  ('a.logfmt', 1, '{"level": "info", "msg": "service started", "port": "8080"}'),
  ('a.logfmt', 2, '{"level": "error", "msg": "bind failed: \"addr in use\"", "retry": ""}'),
  ('b.log',    1, '{"_raw": "?", "a": "1", "b": "two", "c": "x y", "junk": ""}'),
  ('b.log',    3, '{"dup": "2"}')
) t(file_name, line_number, kv_json)
"""


# --------------------------------------------------------------------------
# PDF via the opt-in stdlib extractor (EXCEEDS reference: instructions.md:8
# asked for PDF, parser_adapter.rs:54-57 rejects it; here it's a scoped
# plug-in registration so the default registry still matches the reference)
# --------------------------------------------------------------------------
def ingest_pdf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline E2E over a two-page PDF built by the repo's own
    spec-conformant writer: rule match (custom .pdf route) → scoped parser
    registration → FlateDecode + page-tree extraction → enrich → sink.
    Escapes in line 2 exercise the literal-string parser."""
    from ..rules import IngestionConfigRule, RuleSet
    from ..sources.dispatch import parser_registered
    from ..sources.pdf_source import pdf_encode_simple, read_pdf

    pdf_bytes = pdf_encode_simple(
        [["Q1 revenue up 12%", "Net (of tax) margin: 8%"], ["Appendix A"]]
    )
    with parser_registered("pdf", read_pdf):
        pipe = _run_pipeline(
            spark,
            {
                "docs/report.pdf": lambda p: open(p, "wb").write(pdf_bytes)
            },
            ["docs/report.pdf"],
            rules=RuleSet([IngestionConfigRule(r".*\.pdf$", "pdf_data")]),
        )
    out = pipe.sink.read_table("pdf_data")
    return out.select(
        "page_number", "line_number", "content", "file_name"
    ).orderBy("page_number", "line_number")


INGEST_PDF_DOCS_SQL = """
SELECT CAST(page_number AS INTEGER) AS page_number,
       CAST(line_number AS INTEGER) AS line_number, content, file_name
FROM (VALUES
  (1, 1, 'Q1 revenue up 12%',        'qbucket/docs/report.pdf'),
  (1, 2, 'Net (of tax) margin: 8%',  'qbucket/docs/report.pdf'),
  (2, 1, 'Appendix A',               'qbucket/docs/report.pdf')
) t(page_number, line_number, content, file_name)
"""


# --------------------------------------------------------------------------
# HTML via the opt-in stdlib main-content extractor (EXCEEDS reference:
# like PDF, outside the shipped parser menu — scoped registration keeps the
# default dispatch reference-faithful)
# --------------------------------------------------------------------------
_HTML_FIXTURE = """<!doctype html>
<html><head><title>Quarterly Report &amp; Outlook</title>
<style>p { color: red }</style>
<script>var x = "<p>not text</p>";</script></head>
<body>
<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>
<h1>Results Overview</h1>
<p>Revenue grew 12% year over year, driven by the new
  platform line.</p>
<p>Margins held at 8% despite <a href="/fx">currency headwinds</a> in two regions.</p>
<p>Ok</p>
<footer><a href="/terms">Terms</a> | <a href="/privacy">Privacy</a></footer>
</body></html>
"""


def ingest_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline E2E over an HTML page: rule match (custom .html
    route) → scoped parser registration → block segmentation +
    link-density boilerplate gate (integer basis points) → enrich → sink.
    The fixture exercises script/style skipping, entity decoding, inline
    anchors inside prose, and all three drop reasons (nav link-farm,
    footer, too-short block)."""
    from ..rules import IngestionConfigRule, RuleSet
    from ..sources.dispatch import parser_registered
    from ..sources.html_source import read_html

    with parser_registered("html", read_html):
        pipe = _run_pipeline(
            spark,
            {"site/report.html": _HTML_FIXTURE},
            ["site/report.html"],
            rules=RuleSet([IngestionConfigRule(r".*\.html$", "html_data")]),
        )
    out = pipe.sink.read_table("html_data")
    return out.select(
        "block_number", "tag", "content", "n_chars", "link_density_bp", "kept"
    ).orderBy("block_number")


INGEST_HTML_DOCS_SQL = """
SELECT CAST(block_number AS INTEGER) AS block_number, tag, content,
       CAST(n_chars AS INTEGER) AS n_chars,
       CAST(link_density_bp AS INTEGER) AS link_density_bp, kept
FROM (VALUES
  (1, 'title',  'Quarterly Report & Outlook', 26, 0, TRUE),
  (2, 'nav',    'Home About Contact', 18, 10000, FALSE),
  (3, 'h1',     'Results Overview', 16, 0, TRUE),
  (4, 'p',      'Revenue grew 12% year over year, driven by the new platform line.', 65, 0, TRUE),
  (5, 'p',      'Margins held at 8% despite currency headwinds in two regions.', 61, 3050, TRUE),
  (6, 'p',      'Ok', 2, 0, FALSE),
  (7, 'footer', 'Terms | Privacy', 15, 9230, FALSE)
) t(block_number, tag, content, n_chars, link_density_bp, kept)
"""


QUERIES: dict = {
    "ingest_csv_docs": (ingest_csv_docs, INGEST_CSV_DOCS_SQL),
    "ingest_json_docs": (ingest_json_docs, INGEST_JSON_DOCS_SQL),
    "ingest_txt_docs": (ingest_txt_docs, INGEST_TXT_DOCS_SQL),
    "ingest_xml_docs": (ingest_xml_docs, INGEST_XML_DOCS_SQL),
    "ingest_excel_docs": (ingest_excel_docs, INGEST_EXCEL_DOCS_SQL),
    "ingest_audit_log": (ingest_audit_log, INGEST_AUDIT_LOG_SQL),
    "ingest_orc_docs": (ingest_orc_docs, INGEST_ORC_DOCS_SQL),
    "ingest_avro_docs": (ingest_avro_docs, INGEST_AVRO_DOCS_SQL),
    "ingest_logfmt_docs": (ingest_logfmt_docs, INGEST_LOGFMT_DOCS_SQL),
    "ingest_pdf_docs": (ingest_pdf_docs, INGEST_PDF_DOCS_SQL),
    "ingest_html_docs": (ingest_html_docs, INGEST_HTML_DOCS_SQL),
}
