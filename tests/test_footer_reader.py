"""Parquet footers under ``storage/`` are parsed in one place,
``parquet_read.file_stats``, whose answers the event store keeps per
file. A second parser would read footers that index already holds, so
a footer parse anywhere else under ``storage/`` fails here."""

from __future__ import annotations

import ast
import pathlib

import env_event_stream_spark

STORAGE = pathlib.Path(env_event_stream_spark.__file__).parent / "storage"


def _name(node: ast.AST) -> str | None:
    return getattr(node, "attr", getattr(node, "id", None))


def _footer_parses(tree: ast.AST):
    """Yield every footer parse in ``tree``: a use of ``read_metadata``,
    and ``.metadata`` of ``ParquetFile(...)`` or of a name bound to one
    (by ``=`` or ``with ... as``)."""
    files = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and _is_parquet_file(node.value):
            files.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.withitem) and _is_parquet_file(node.context_expr):
            if isinstance(node.optional_vars, ast.Name):
                files.add(node.optional_vars.id)
    for node in ast.walk(tree):
        if isinstance(node, (ast.Name, ast.Attribute)) and _name(node) == "read_metadata":
            yield node
        elif isinstance(node, ast.Attribute) and node.attr == "metadata" and (
            _is_parquet_file(node.value)
            or (isinstance(node.value, ast.Name) and node.value.id in files)
        ):
            yield node


def _is_parquet_file(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and _name(node.func) == "ParquetFile"


def test_only_parquet_read_parses_footers():
    found, own = [], 0
    for path in sorted(STORAGE.rglob("*.py")):
        parses = list(_footer_parses(ast.parse(path.read_text(), str(path))))
        if path.name == "parquet_read.py":
            own = len(parses)
        else:
            found += [f"{path.relative_to(STORAGE)}:{n.lineno}" for n in parses]
    assert found == [], f"footer parsed outside parquet_read.file_stats: {found}"
    assert own >= 1  # the scanner sees the one parser there is


def test_scanner_sees_every_parse_form():
    src = (
        "import pyarrow.parquet as pq\nfrom pyarrow.parquet import ParquetFile, read_metadata\n"
        "pq.read_metadata('a'); read_metadata('b'); pq.ParquetFile('c').metadata\n"
        "f = ParquetFile('d')\nf.metadata\n"
        "with pq.ParquetFile('e') as g:\n    g.metadata\n"
        "event.metadata; row['metadata']\n"
    )
    got = sorted(n.lineno for n in _footer_parses(ast.parse(src)))
    assert got == [3, 3, 3, 5, 7]
