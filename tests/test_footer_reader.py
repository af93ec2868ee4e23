"""Parquet footers under ``storage/`` are parsed in one place,
``parquet_read``: ``file_stats`` reads each file's footer once, and the
event store keeps its answers per file; ``read_rows`` reads rows. A
second parser would read footers that index already holds, and every
open of a file for reading parses its footer, so ``read_metadata`` or a
pyarrow parquet reader called anywhere else under ``storage/`` fails
here."""

from __future__ import annotations

import ast
import pathlib

import env_event_stream_spark

STORAGE = pathlib.Path(env_event_stream_spark.__file__).parent / "storage"

# pyarrow's footer readers and its ways to open parquet for reading
_READERS = {"read_metadata", "read_schema", "ParquetFile", "ParquetDataset", "read_table",
            "read_pandas", "dataset"}


def _footer_parses(tree: ast.AST):
    """Yield every use in ``tree`` of a name in ``_READERS``, called
    (``pq.read_table(...)``) or passed on (``map(read_metadata, ...)``)."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.Name, ast.Attribute)) and _name(node) in _READERS:
            yield node


def _name(node: ast.AST) -> str | None:
    return getattr(node, "attr", getattr(node, "id", None))


def test_only_parquet_read_parses_footers():
    found, own = [], 0
    for path in sorted(STORAGE.rglob("*.py")):
        parses = list(_footer_parses(ast.parse(path.read_text(), str(path))))
        if path.name == "parquet_read.py":
            own = len(parses)
        else:
            found += [f"{path.relative_to(STORAGE)}:{n.lineno}" for n in parses]
    assert found == [], f"parquet read outside parquet_read: {found}"
    assert own >= 2  # file_stats' ParquetFile and read_rows' dataset


def test_scanner_sees_every_parse_form():
    src = (
        "import pyarrow.parquet as pq\nfrom pyarrow.parquet import ParquetFile, read_metadata\n"
        "pq.read_metadata('a'); read_metadata('b'); pq.ParquetFile('c').metadata\n"
        "f = ParquetFile('d')\npq.read_table('e'); ds.dataset(['f']); map(read_metadata, g)\n"
        "event.metadata; row['metadata']; pq.write_table(t, 'h'); spark.read.parquet('i')\n"
    )
    got = sorted(n.lineno for n in _footer_parses(ast.parse(src)))
    assert got == [3, 3, 3, 4, 5, 5, 5]
