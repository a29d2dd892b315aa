"""Every test and module a code comment or doc cites must exist.

A ``tests/<file>.py`` or ``tests/<file>.py::<name>`` citation in the
package, README.md, SCALING.md or SURVEY.md names a test file that is
there and, when a name follows, a top-level ``def`` or ``class`` of that
name in it. A package-module path (``streaming/<name>.py``,
``operators/<name>.py``, … for every subpackage) or a ``tools/<name>.py``
path in the same texts names a file that is there."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "data_ingestion_spark")
CITATION = re.compile(r"tests/(\w+\.py)(?:::(\w+))?")
SUBPACKAGES = sorted(
    d for d in os.listdir(PKG) if os.path.isfile(os.path.join(PKG, d, "__init__.py"))
)
# not preceded by another path component, except the package's own name
MODULE = re.compile(
    r"(?<![\w./-])(?:data_ingestion_spark/)?((?:%s|tools)/\w+\.py)"
    % "|".join(SUBPACKAGES)
)


def _cited_texts():
    for d, _dirs, names in os.walk(PKG):
        for name in sorted(names):
            if name.endswith(".py"):
                yield os.path.join(d, name)
    for doc in ("README.md", "SCALING.md", "SURVEY.md"):
        yield os.path.join(ROOT, doc)


def _top_level_names(test_file: str) -> set:
    with open(test_file, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=test_file)
    return {n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}


def _citations(pattern):
    """(``path:line``, match) per match of ``pattern`` in the cited texts."""
    for path in _cited_texts():
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for m in pattern.finditer(text):
            line = text.count(chr(10), 0, m.start()) + 1
            yield f"{os.path.relpath(path, ROOT)}:{line}", m


def test_every_cited_test_exists():
    missing, cited = [], 0
    for where, m in _citations(CITATION):
        cited += 1
        test_file = os.path.join(ROOT, "tests", m.group(1))
        if not os.path.isfile(test_file):
            missing.append(f"{where} {m.group(0)}: no such file")
        elif m.group(2) and m.group(2) not in _top_level_names(test_file):
            missing.append(f"{where} {m.group(0)}: no top-level def/class {m.group(2)}")
    assert cited > 0
    assert missing == []


def test_every_cited_module_exists():
    missing, cited = [], 0
    for where, m in _citations(MODULE):
        cited += 1
        rel = m.group(1)
        base = ROOT if rel.startswith("tools/") else PKG
        if not os.path.isfile(os.path.join(base, rel)):
            missing.append(f"{where} {m.group(0)}: no such file")
    assert cited > 0
    assert missing == []
