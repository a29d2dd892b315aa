"""The whole-file read layer of the ingest parsers (``sources/files.py``)
and the one way into the parser registry (``dispatch.register_parser`` /
``dispatch.parser_registered``): the listing's skip of Spark's hidden
side files, the lexicographically-first-file header peek, the bounded Avro
schema peek, the scoped registration, and AST
scans that keep every ``binaryFile`` read and Hadoop listing of
``sources/`` in ``files.py`` and every ``PARSERS`` write in ``dispatch.py``."""

from __future__ import annotations

import ast
import os

import pytest

from data_ingestion_spark.sources import avro_source, dispatch, files
from data_ingestion_spark.sources.avro_source import read_avro, write_avro_file
from data_ingestion_spark.sources.csv_source import read_csv
from data_ingestion_spark.sources.excel_source import read_excel
from data_ingestion_spark.sources.xlsx_writer import make_xlsx

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data_ingestion_spark")


def _record_schema(field: str, ftype: str) -> dict:
    return {"type": "record", "name": "R", "fields": [{"name": field, "type": ftype}]}


def test_list_files_lists_a_file_a_tree_a_glob_and_nothing(spark, tmp_path):
    (tmp_path / "d" / "sub").mkdir(parents=True)
    (tmp_path / "d" / "a.txt").write_text("abc")
    (tmp_path / "d" / "sub" / "b.txt").write_text("hello")
    listed = sorted((os.path.basename(p), n) for p, n in files.list_files(spark, str(tmp_path / "d")))
    assert listed == [("a.txt", 3), ("b.txt", 5)]
    [(one, n)] = files.list_files(spark, str(tmp_path / "d" / "a.txt"))
    assert one.endswith("/d/a.txt") and n == 3
    assert [n for _, n in files.list_files(spark, str(tmp_path / "d" / "*.txt"))] == [3]
    assert files.list_files(spark, str(tmp_path / "missing")) == []


def _hide_beside(d) -> None:
    """The side files a Spark or Hadoop writer leaves next to its output,
    each sorting before ``part-``; Spark's readers skip them all."""
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.crc").write_bytes(b"\x00crc")
    (d / "_temporary" / "0").mkdir(parents=True)
    (d / "_temporary" / "0" / "part-9").write_bytes(b"partial")


def test_list_files_skips_the_names_spark_readers_skip(spark, tmp_path):
    d = tmp_path / "out"
    (d / "_col=1").mkdir(parents=True)
    (d / "part-0").write_text("abc")
    (d / "_col=1" / "part-1").write_text("de")
    _hide_beside(d)
    listed = sorted((os.path.basename(p), n) for p, n in files.list_files(spark, str(d)))
    assert listed == [("part-0", 3), ("part-1", 2)]
    assert files.first_path(spark, str(d)).endswith("/out/_col=1/part-1")
    assert files.first_path(spark, str(tmp_path / "missing")) is None


def test_header_peeks_skip_hidden_side_files(spark, tmp_path):
    """A directory a Spark or Hadoop job wrote: the header and schema come
    from ``part-0.*``, not from ``_SUCCESS`` or a ``.crc`` file."""
    avro_dir, xlsx_dir, csv_dir = tmp_path / "avro", tmp_path / "xlsx", tmp_path / "csv"
    write_avro_file(str(avro_dir / "part-0.avro"), _record_schema("n", "long"), [{"n": 1}])
    xlsx_dir.mkdir()
    make_xlsx(str(xlsx_dir / "part-0.xlsx"), [[["col"], ["v"]]])
    spark.createDataFrame([("1", "x"), ("2", "y")], "id string, s string").coalesce(1) \
        .write.option("header", True).csv(str(csv_dir))
    for d in (avro_dir, xlsx_dir, csv_dir):
        _hide_beside(d)
    assert [tuple(r) for r in read_avro(spark, str(avro_dir)).collect()] == [(1,)]
    assert [tuple(r) for r in read_excel(spark, str(xlsx_dir)).collect()] == [("v",)]
    csv = read_csv(spark, str(csv_dir))
    assert csv.columns == ["id", "s"]
    assert sorted(tuple(r) for r in csv.collect()) == [("1", "x"), ("2", "y")]


def test_decode_files_decodes_each_file_once(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"xy")
    (tmp_path / "b.bin").write_bytes(b"")  # decodes to no rows at all
    df = files.decode_files(
        spark, str(tmp_path), lambda data: [(i, chr(c)) for i, c in enumerate(data)],
        "n int, s string",
    )
    assert sorted(tuple(r) for r in df.collect()) == [(0, "x"), (1, "y")]


def test_excel_header_from_lexicographically_first_file(spark, tmp_path):
    """The header comes from the first file by name, as for CSV — not from
    whichever file the scan reaches first (binaryFile packs the largest
    file first)."""
    d = tmp_path / "xlsxdir"
    d.mkdir()
    make_xlsx(str(d / "a.xlsx"), [[["from_a"], ["1"]]])
    make_xlsx(str(d / "b.xlsx"), [[["from_b"]] + [[f"row {i}"] for i in range(3000)]])
    assert os.path.getsize(d / "b.xlsx") > os.path.getsize(d / "a.xlsx")
    df = read_excel(spark, str(d))
    assert df.columns == ["from_a"]
    assert df.count() == 3001


def test_avro_schema_from_lexicographically_first_file(spark, tmp_path):
    d = tmp_path / "avrodir"
    write_avro_file(str(d / "a.avro"), _record_schema("from_a", "long"), [{"from_a": 7}])
    write_avro_file(str(d / "b.avro"), _record_schema("from_b", "string"),
                    [{"from_b": f"value {i}"} for i in range(3000)])
    assert os.path.getsize(d / "b.avro") > os.path.getsize(d / "a.avro")
    df = read_avro(spark, str(d))
    assert df.columns == ["from_a"]
    assert sorted(r[0] for r in df.collect() if r[0] is not None) == [7]


def test_avro_schema_peek_collects_only_the_header_window(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "big.avro")
    write_avro_file(path, _record_schema("text", "string"),
                    [{"text": f"{i:08d} " + "x" * 60} for i in range(20000)])
    assert os.path.getsize(path) > 1 << 20
    peeked = []

    def spy(spark, path, max_bytes=0):
        head = files.first_file(spark, path, max_bytes)
        peeked.append(len(head))
        return head

    monkeypatch.setattr(avro_source, "first_file", spy)
    df = read_avro(spark, path)
    assert peeked and all(n <= 65536 for n in peeked)
    assert df.columns == ["text"]
    assert df.count() == 20000


def test_parser_registered_restores_the_previous_entry():
    def fake(spark, path, parser_config=None):
        raise AssertionError("never called")

    builtin = dispatch.PARSERS["csv"]
    with dispatch.parser_registered(".CSV", fake):
        assert dispatch.PARSERS["csv"] is fake
    assert dispatch.PARSERS["csv"] is builtin
    with dispatch.parser_registered("pdf", fake):
        assert dispatch.PARSERS["pdf"] is fake
    assert "pdf" not in dispatch.PARSERS
    with pytest.raises(ValueError, match="non-empty"):
        with dispatch.parser_registered(".", fake):
            pass


def _sites(root: str, is_site) -> list:
    """``(relative file, enclosing top-level function)`` of every node
    under ``root`` that ``is_site`` accepts."""
    found = []
    for d, _dirs, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for top in tree.body:
                for node in ast.walk(top):
                    if is_site(node):
                        owner = getattr(top, "name", "<module>")
                        found.append((os.path.relpath(path, root), owner))
    return sorted(found)


def _method_call(node, method: str) -> bool:
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == method)


def _is_binary_file_read(node) -> bool:
    return _method_call(node, "format") and any(
        isinstance(a, ast.Constant) and a.value == "binaryFile" for a in node.args)


def _names_parsers(node) -> bool:
    return (isinstance(node, ast.Name) and node.id == "PARSERS") or (
        isinstance(node, ast.Attribute) and node.attr == "PARSERS")


def _writes_parsers(node) -> bool:
    if isinstance(node, ast.Subscript) and isinstance(node.ctx, (ast.Store, ast.Del)):
        return _names_parsers(node.value)
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in {"pop", "popitem", "clear", "update", "setdefault"}
            and _names_parsers(node.func.value))


def test_whole_file_reads_and_listings_live_in_files_py():
    sources = os.path.join(PKG, "sources")
    assert {f for f, _ in _sites(sources, _is_binary_file_read)} == {"files.py"}
    assert _sites(sources, lambda n: _method_call(n, "listFiles")) == [("files.py", "list_files")]


def test_only_the_registration_helpers_write_the_parser_registry():
    assert sorted(set(_sites(PKG, _writes_parsers))) == [
        (os.path.join("sources", "dispatch.py"), "parser_registered"),
        (os.path.join("sources", "dispatch.py"), "register_parser"),
    ]
