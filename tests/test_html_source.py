"""Tests for the HTML main-content extraction source
(sources/html_source.py): block segmentation, the link-density boilerplate
gate, skip tags, entities, opt-in dispatch, and malformed-input tolerance."""

from __future__ import annotations

from data_ingestion_spark.sources import dispatch
from data_ingestion_spark.sources.html_source import (
    html_extract_blocks,
    html_main_text,
    read_html,
)


def test_blocks_gate_and_entities():
    html = (
        b"<title>A &amp; B testing page</title>"
        b"<nav><a href='/'>One</a> <a href='/b'>Two</a></nav>"
        b"<p>Real paragraph content with enough characters.</p>"
    )
    rows = html_extract_blocks(html)
    assert [(r[0], r[1], r[5]) for r in rows] == [
        (1, "title", True),
        (2, "nav", False),
        (3, "p", True),
    ]
    assert rows[0][2] == "A & B testing page"
    assert rows[1][4] > 5000  # all-anchor nav


def test_script_style_skipped_and_nesting():
    html = (
        b"<script>document.write('<p>fake</p>')</script>"
        b"<style>.x{}</style>"
        b"<div>Outer prose stays intact here <b>bold <i>deep</i></b> end.</div>"
    )
    rows = html_extract_blocks(html)
    assert len(rows) == 1
    assert rows[0][2] == "Outer prose stays intact here bold deep end."


def test_inline_anchor_partial_density():
    html = b"<p>aaaaaaaaaa <a href='x'>bbbbb</a> cccccccccc</p>"
    (row,) = html_extract_blocks(html)
    # 5 anchor chars of 25 total → 2000 bp, kept
    assert row[4] == 2000 and row[5] is True


def test_malformed_html_never_raises():
    junk = b"<p>unclosed <div><<< &bogus; \xff\xfe raw bytes"
    rows = html_extract_blocks(junk)
    assert rows  # something extracted, no exception
    assert html_main_text(b"") == ""


def test_main_text_joins_kept_blocks_only():
    html = (
        b"<nav><a href='/'>Home Page Link</a></nav>"
        b"<p>First real paragraph.</p><p>Second real paragraph.</p>"
    )
    assert html_main_text(html) == "First real paragraph.\nSecond real paragraph."


def test_default_dispatch_still_rejects_html(spark):
    import pytest

    from data_ingestion_spark.errors import ParseError
    from data_ingestion_spark.sources import dispatch

    assert "html" not in dispatch.PARSERS
    with pytest.raises(ParseError, match="Unsupported file type"):
        dispatch.parse_file(spark, "/tmp/nope.html", "html")


def test_read_html_distributed(spark, tmp_path):
    p = tmp_path / "a.html"
    p.write_bytes(
        b"<h1>Heading block one</h1><p>Paragraph with plenty of text.</p>"
    )
    with dispatch.parser_registered("html", read_html):
        rows = sorted(
            (r["block_number"], r["tag"], r["kept"])
            for r in read_html(spark, str(p)).collect()
        )
    assert rows == [(1, "h1", True), (2, "p", True)]
