"""Driver-side parquet reads for results that end on the driver.

A Spark plan that only feeds ``collect()`` a handful of rows pays a
job's scheduling, task launch and result round trip for every call.
The readers here answer the same questions from the files with
pyarrow, without a Spark job, and read only what they need:

- ``file_keys`` gives each visible file's row count and the min/max of
  its ``timestamp`` column from the footer alone. Store files carry
  INT64 UTC-microsecond timestamps with statistics, whether the driver
  or Spark wrote them (``session.get_spark`` makes Spark write INT64).
  A legacy or foreign file with INT96 timestamps (no usable statistics:
  written before that setting, or by a session built elsewhere) has its
  ``timestamp`` and ``id`` columns read instead (``read_keys``).
- ``read_top_k`` gives the first ``k`` rows matching a pushed-down
  filter in an ORDER BY's order, streamed batch by batch, so the
  driver holds ``k`` rows plus the scanner's read-ahead batches,
  never the whole scan (Spark's ``TakeOrderedAndProject`` merges each
  partition's top ``k`` on the driver too). pyarrow's dataset skips
  the row groups whose statistics rule the filter out.
- ``seq_span`` gives a file's row count, the min/max and NULL count of
  an int64 sequence column, and its uncompressed size, from the footer
  alone when its statistics are complete; ``read_sorted`` reads the
  rows of some files matching a pushed-down filter, sorted.
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
from typing import Any, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_row

__all__ = [
    "FileKeys", "SeqSpan", "file_keys", "read_keys", "read_sorted", "read_top_k",
    "seq_span", "to_rows", "visible_files",
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


class FileKeys(NamedTuple):
    """One file's row count and ``timestamp`` range (μs since the epoch);
    ``keys`` holds its ``(timestamp, id)`` columns when they were read."""

    path: str
    rows: int
    lo: int
    hi: int
    keys: pa.Table | None = None


def file_keys(directory: str) -> list[FileKeys]:
    """``FileKeys`` of every visible file under ``directory`` that holds
    rows; only a file whose footer has no ``timestamp`` range has its
    columns read."""
    out = []
    for path in visible_files(directory):
        md = pq.read_metadata(path)
        if md.num_rows == 0:
            continue
        f = FileKeys(path, md.num_rows, 0, 0)
        span = _footer_span(md)
        if span is None:
            f = f._replace(keys=read_keys(f))
            ts = f.keys.column("timestamp")
            span = pc.min(ts).as_py(), pc.max(ts).as_py()
        out.append(f._replace(lo=span[0], hi=span[1]))
    return out


def read_keys(f: FileKeys) -> pa.Table:
    """The ``(timestamp, id)`` columns of one file, timestamp in μs."""
    if f.keys is not None:
        return f.keys
    table = pq.ParquetFile(f.path, **_INT96_AS_US).read(columns=["timestamp", "id"])
    ts = table.column("timestamp")
    if ts.type.unit != "us":
        ts = ts.cast(pa.timestamp("us", ts.type.tz))
    return pa.table({"timestamp": ts.cast(pa.int64()), "id": table.column("id")})


def _footer_span(md: pq.FileMetaData) -> tuple[int, int] | None:
    """min/max of ``timestamp`` from the footer statistics when it is an
    INT64 UTC-microsecond column with min/max in every row group."""
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    if "timestamp" not in names:
        return None
    i = names.index("timestamp")
    col = md.schema.column(i)
    logical = json.loads(col.logical_type.to_json())
    if col.physical_type != "INT64" or logical.get("timeUnit") != "microseconds" \
            or not logical.get("isAdjustedToUTC"):
        return None
    stats = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
    if any(s is None or not s.has_min_max for s in stats):
        return None
    return min(s.min_raw for s in stats), max(s.max_raw for s in stats)


class SeqSpan(NamedTuple):
    """One file's rows, the min/max of its sequence column (None when
    no row has a value), how many rows have none, and the file's
    uncompressed size in bytes as its footer states it."""

    rows: int
    lo: int | None
    hi: int | None
    nulls: int
    size: int


def seq_span(path: str, column: str) -> SeqSpan:
    """``SeqSpan`` of the int64 ``column`` of one file. A file without
    the column has no value in any row. The footer answers when every
    row group has a NULL count and, if it holds a value, a min/max;
    otherwise the column is read."""
    md = pq.read_metadata(path)
    groups = [md.row_group(g) for g in range(md.num_row_groups)]
    size = sum(g.total_byte_size for g in groups)
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    if column not in names:
        return SeqSpan(md.num_rows, None, None, md.num_rows, size)
    i = names.index(column)
    stats = [(g.num_rows, g.column(i).statistics) for g in groups]
    if all(s is not None and s.has_null_count and (s.has_min_max or s.null_count == n)
           for n, s in stats):
        ranged = [s for _n, s in stats if s.has_min_max]
        return SeqSpan(md.num_rows, min((s.min for s in ranged), default=None),
                       max((s.max for s in ranged), default=None),
                       sum(s.null_count for _n, s in stats), size)
    values = pq.read_table(path, columns=[column]).column(0)
    return SeqSpan(md.num_rows, pc.min(values).as_py(), pc.max(values).as_py(),
                   values.null_count, size)


def read_sorted(
    schema: T.StructType, files: list[str], where: pc.Expression, order: list[tuple[str, str]],
) -> pa.Table:
    """Rows of ``files`` matching ``where``, sorted by the ``(column,
    "ascending" | "descending")`` keys of ``order`` with NULLs first,
    every field nullable and every timestamp UTC μs (``read_top_k``'s
    shape). A listed file that is gone raises FileNotFoundError."""
    table = ds.dataset(files, format=_FORMAT, schema=_relaxed(schema)).to_table(filter=where)
    return table.sort_by(order, null_placement="at_start")


def read_top_k(
    schema: T.StructType, directory: str, where: pc.Expression, order: list[str], k: int,
) -> pa.Table:
    """The first ``k`` rows under ``directory`` matching ``where`` in
    ``order``, ascending with NULLs first (an ORDER BY's defaults;
    strings compare as bytes, as Spark compares them), every field
    nullable and every timestamp UTC μs, as ``where`` must compare
    them. A running top ``k`` is merged with each record batch as it
    is read, so memory is ``k`` rows plus the read-ahead batches,
    however many rows match."""
    relaxed = _relaxed(schema)
    top = relaxed.empty_table()
    files = visible_files(directory)
    if not files:
        return top
    keys = [(c, "ascending") for c in order]
    for batch in ds.dataset(files, format=_FORMAT, schema=relaxed).to_batches(filter=where):
        if batch.num_rows:
            merged = pa.concat_tables([top, pa.Table.from_batches([batch])])
            top = merged.sort_by(keys, null_placement="at_start").slice(0, k)
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
