"""Driver-side parquet reads for results that end on the driver.

A Spark plan that only feeds ``collect()`` a handful of rows pays a
job's scheduling, task launch and result round trip for every call.
The readers here answer the same questions from the files with
pyarrow, without a Spark job, and read only what they need:

- ``file_stats`` is the one footer reader: a file's rows, size and
  the min/max of its ``timestamp`` and sequence columns, with the
  sequence's NULL count, from one parse of its footer. Store files
  carry INT64 UTC-microsecond timestamps with statistics, whether the
  driver or Spark wrote them (``session.get_spark`` makes Spark write
  INT64). A column without usable statistics (INT96 timestamps in a
  legacy or foreign file, or a file written without statistics) is
  read instead.
- ``read_rows`` is the one row reader: the rows of some files
  matching a pushed-down filter (pyarrow's dataset skips the row
  groups whose statistics rule it out), sorted, or only the first
  ``k`` of them, streamed batch by batch, so the driver holds ``k``
  rows plus the scanner's read-ahead batches, never the whole scan
  (Spark's ``TakeOrderedAndProject`` merges each partition's top
  ``k`` on the driver too).
- ``to_rows`` turns such a table into the Rows ``collect()`` returns
  (local naive datetimes, maps as dicts, nested structs as Rows),
  column by column, with no JVM round trip.

Timestamps are compared as Spark stores them: microseconds since the
epoch, UTC (INT96 values are UTC instants, as Spark writes them).
Visibility follows Spark's listing: ``.``/``_``-names are skipped.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from typing import Any, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_row

__all__ = [
    "FileStats", "file_stats", "read_rows", "to_rows", "visible_files",
]

_INT96_AS_US = {"coerce_int96_timestamp_unit": "us"}
_FORMAT = ds.ParquetFileFormat(read_options=ds.ParquetReadOptions(**_INT96_AS_US))


def visible_files(directory: str) -> list[str]:
    """The parquet files directly under ``directory`` that Spark reads."""
    if not os.path.isdir(directory):
        return []
    return sorted(
        os.path.join(directory, n) for n in os.listdir(directory)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


class FileStats(NamedTuple):
    """One file's rows, uncompressed size in bytes, ``timestamp`` range
    (μs since the epoch), sequence column range, and rows with no
    sequence number; a range is None when no row has a value."""

    path: str
    rows: int
    size: int
    lo: int | None
    hi: int | None
    seq_lo: int | None
    seq_hi: int | None
    seq_nulls: int


def file_stats(path: str, seq: str) -> FileStats:
    """``FileStats`` of one file, ``seq`` its int64 sequence column,
    from one parse of its footer; a column whose statistics are
    incomplete is read instead (``_range``)."""
    with pq.ParquetFile(path, **_INT96_AS_US) as pf:
        md = pf.metadata
        size = sum(md.row_group(g).total_byte_size for g in range(md.num_row_groups))
        lo, hi, _nulls = _range(pf, "timestamp")
        return FileStats(path, md.num_rows, size, lo, hi, *_range(pf, seq))


def _range(pf: pq.ParquetFile, column: str) -> tuple[int | None, int | None, int]:
    """min, max and NULL count of ``column`` as int64 (timestamps in
    UTC μs). The footer answers when the column is INT64 (a timestamp:
    UTC μs, so not INT96) and every row group has a NULL count and, if
    it holds a value, a min/max; otherwise the column is read. A file
    without the column has no value in any row."""
    md = pf.metadata
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    if column not in names:
        return None, None, md.num_rows
    i = names.index(column)
    col = md.schema.column(i)
    logical = json.loads(col.logical_type.to_json())
    stats = [(md.row_group(g).num_rows, md.row_group(g).column(i).statistics)
             for g in range(md.num_row_groups)]
    exact = col.physical_type == "INT64" and logical.get("isAdjustedToUTC", True) \
        and logical.get("timeUnit", "microseconds") == "microseconds"
    if exact and all(s is not None and s.has_null_count and (s.has_min_max or s.null_count == n)
                     for n, s in stats):
        ranged = [s for _n, s in stats if s.has_min_max]
        return (min((s.min_raw for s in ranged), default=None),
                max((s.max_raw for s in ranged), default=None),
                sum(s.null_count for _n, s in stats))
    values = _int64(pf.read(columns=[column]).column(0))
    return pc.min(values).as_py(), pc.max(values).as_py(), values.null_count


def _int64(values: pa.ChunkedArray) -> pa.ChunkedArray:
    """``values`` as int64, a timestamp in μs."""
    if pa.types.is_timestamp(values.type):
        values = values.cast(pa.timestamp("us", values.type.tz))
    return values.cast(pa.int64())


def read_rows(
    schema: T.StructType,
    files: list[str],
    where: pc.Expression | None = None,
    order: Sequence[tuple[str, str]] = (),
    k: int | None = None,
) -> pa.Table:
    """The rows of ``files`` matching ``where``, sorted by the
    ``(column, "ascending" | "descending")`` keys of ``order`` with
    NULLs first (strings compare as bytes, as Spark compares them);
    with ``k``, only the first ``k``. Only ``schema``'s fields are
    read, every one nullable and every timestamp UTC μs, as ``where``
    must compare them. With ``k`` a running top ``k`` is merged with
    each record batch as it is read, so memory is ``k`` rows plus the
    read-ahead batches, however many rows match. A listed file that is
    gone raises FileNotFoundError."""
    relaxed = _relaxed(schema)
    if not files:
        return relaxed.empty_table()
    scan = ds.dataset(files, format=_FORMAT, schema=relaxed)

    def sort(table: pa.Table) -> pa.Table:
        return table.sort_by(list(order), null_placement="at_start") if order else table

    if k is None:
        return sort(scan.to_table(filter=where))
    top = relaxed.empty_table()
    for batch in scan.to_batches(filter=where):
        if batch.num_rows:
            top = sort(pa.concat_tables([top, pa.Table.from_batches([batch])])).slice(0, k)
    return top


def _relaxed(schema: T.StructType) -> pa.Schema:
    """``schema`` in Arrow, every field nullable and every timestamp
    read as UTC μs, so files written by the driver and by Spark (INT64
    or INT96, other nullability) read alike."""

    def relax(t: pa.DataType) -> pa.DataType:
        if pa.types.is_timestamp(t):
            return pa.timestamp("us", "UTC")
        if pa.types.is_struct(t):
            return pa.struct([pa.field(f.name, relax(f.type)) for f in t])
        if pa.types.is_map(t):
            return pa.map_(relax(t.key_type), relax(t.item_type))
        return t

    return pa.schema([pa.field(f.name, relax(f.type)) for f in to_arrow_schema(schema)])


def to_rows(schema: T.StructType, table: pa.Table) -> list[T.Row]:
    """The rows of ``table`` as ``collect()`` returns them for
    ``schema``: its fields by name and in its order, timestamps as the
    host zone's naive datetimes (``TimestampType.fromInternal``), maps
    as dicts and structs as Rows. Converted column by column, not
    through ``Table.to_pylist()``, whose tz-aware datetimes and map
    pairs cost several times more."""
    columns = [_values(f.dataType, table.column(f.name)) for f in schema.fields]
    return [_create_row(schema.names, v) for v in zip(*columns)]


def _values(dtype: T.DataType, array: pa.Array | pa.ChunkedArray) -> list[Any]:
    """``array``'s values as ``collect()`` gives values of ``dtype``."""
    if isinstance(array, pa.ChunkedArray):
        array = array.combine_chunks()
    if isinstance(dtype, T.TimestampType):
        micros = array.cast(pa.timestamp("us", array.type.tz)).cast(pa.int64())
        return [None if v is None else dtype.fromInternal(v) for v in micros.to_pylist()]
    if isinstance(dtype, T.MapType):
        # offsets index the whole key/item children, also in a slice
        keys = _values(dtype.keyType, array.keys)
        items = _values(dtype.valueType, array.items)
        offsets = array.offsets.to_pylist()
        return [dict(zip(keys[lo:hi], items[lo:hi])) if ok else None
                for ok, lo, hi in zip(array.is_valid().to_pylist(), offsets, offsets[1:])]
    if isinstance(dtype, T.StructType):
        children = dict(zip((f.name for f in array.type), array.flatten()))
        fields = zip(*(_values(f.dataType, children[f.name]) for f in dtype.fields))
        return [_create_row(dtype.names, v) if ok else None
                for ok, v in zip(array.is_valid().to_pylist(), fields)]
    return array.to_pylist()
