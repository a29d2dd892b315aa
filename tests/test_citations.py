"""Every test a code comment or doc cites must exist: a
``tests/<file>.py`` or ``tests/<file>.py::<name>`` citation in the package,
README.md or SCALING.md names a test file that is there and, when a name
follows, a top-level ``def`` or ``class`` of that name in it."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CITATION = re.compile(r"tests/(\w+\.py)(?:::(\w+))?")


def _cited_texts():
    for d, _dirs, names in os.walk(os.path.join(ROOT, "data_ingestion_spark")):
        for name in sorted(names):
            if name.endswith(".py"):
                yield os.path.join(d, name)
    yield os.path.join(ROOT, "README.md")
    yield os.path.join(ROOT, "SCALING.md")


def _top_level_names(test_file: str) -> set:
    with open(test_file, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=test_file)
    return {n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}


def test_every_cited_test_exists():
    missing, cited = [], 0
    for path in _cited_texts():
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for m in CITATION.finditer(text):
            cited += 1
            where = f"{os.path.relpath(path, ROOT)}:{text.count(chr(10), 0, m.start()) + 1}"
            test_file = os.path.join(ROOT, "tests", m.group(1))
            if not os.path.isfile(test_file):
                missing.append(f"{where} {m.group(0)}: no such file")
            elif m.group(2) and m.group(2) not in _top_level_names(test_file):
                missing.append(f"{where} {m.group(0)}: no top-level def/class {m.group(2)}")
    assert cited > 0
    assert missing == []
