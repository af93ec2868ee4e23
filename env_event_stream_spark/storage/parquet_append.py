"""Driver-side parquet append for rows already held in driver memory.

``spark.createDataFrame(rows).write.parquet(...)`` starts a Spark job
for every call: scheduling, task launch, the commit protocol and,
without libhadoop, one ``/bin/chmod`` fork per ``setPermission``. For a
single published event that is hundreds of milliseconds around a few
hundred bytes. ``append_rows`` writes the same table from the driver
and keeps what the Spark writer guarantees:

- rows are verified as ``createDataFrame(verifySchema=True)`` verifies
  them and converted with the same ``toInternal`` rules (a naive
  timestamp is read in the host's local zone, as PySpark reads it);
- one snappy parquet file per partition value per call, in the
  directory Spark's partitioned writer names (``topic=a%2Fb``), with
  the partition column left out of the file;
- a file becomes visible all at once: it is written under a hidden
  ``.``-name (Spark's listing skips ``.``/``_`` names) and renamed into
  place last;
- a Hadoop ``.crc`` sidecar is written before the rename, so the local
  filesystem verifies the file on every read, as it does for files
  Spark writes.

A caller may also number each file's rows in an extra int64 column
(``seq``), from a first number it hands out per file.

Local paths only, like the stores that call it.
"""

from __future__ import annotations

import os
import struct
import uuid
import zlib
from collections.abc import Callable, Iterable
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

__all__ = ["append_rows", "partition_dir"]

_CRC_CHUNK = 512  # Hadoop's default bytes per checksum
_PART_DIRS: dict[tuple[str, Any], str] = {}


def partition_dir(spark: SparkSession, column: str, value: Any) -> str:
    """``column=value`` escaped exactly as Spark's partitioned writer
    names the directory (``a/b`` -> ``topic=a%2Fb``, empty -> the
    default partition). One py4j call per distinct value."""
    key = (column, value)
    name = _PART_DIRS.get(key)
    if name is None:
        utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        name = _PART_DIRS[key] = utils.getPartitionPathString(column, value)
    return name


def append_rows(
    spark: SparkSession,
    schema: T.StructType,
    rows: Iterable[Any],
    path: str,
    partition_by: str | None = None,
    seq: tuple[str, Callable[[str, int], int]] | None = None,
) -> None:
    """Append ``rows`` to the parquet table at ``path`` without a Spark
    job, as ``createDataFrame(rows, schema).write.mode("append")
    .partitionBy(partition_by).parquet(path)`` would. Every row is
    checked before any file is written.

    With ``seq = (column, first)`` each file gets one more int64
    column, ``column``, holding ``first(directory, n)``, its successor
    and so on for the file's ``n`` rows in the order given."""
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    if not internal:
        return
    groups: dict[str, list[tuple]] = {}
    if partition_by is None:
        groups[path] = internal
        fields = schema.fields
    else:
        i = schema.names.index(partition_by)
        for r in internal:
            d = os.path.join(path, partition_dir(spark, partition_by, r[i]))
            groups.setdefault(d, []).append(r[:i] + r[i + 1:])
        fields = [f for f in schema.fields if f.name != partition_by]
    if seq is not None:
        fields = [*fields, T.StructField(seq[0], T.LongType(), False)]
    file_schema = T.StructType(fields)
    arrow_schema = to_arrow_schema(file_schema).with_metadata({
        # read back as written by Spark >= 3: no calendar rebase
        "org.apache.spark.version": pyspark.__version__,
        "org.apache.spark.sql.parquet.row.metadata": file_schema.json(),
    })
    for directory, group in groups.items():
        columns = [pa.array(list(col), type=f.type) for col, f in zip(zip(*group), arrow_schema)]
        if seq is not None:
            first = seq[1](directory, len(group))
            columns.append(pa.array(range(first, first + len(group)), pa.int64()))
        _write_file(pa.Table.from_arrays(columns, schema=arrow_schema), directory)


def _write_file(table: pa.Table, directory: str) -> None:
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy", store_schema=False)
    data = buf.getvalue().to_pybytes()
    os.makedirs(directory, exist_ok=True)
    name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
    final = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")
    crc = os.path.join(directory, f".{name}.crc")
    try:
        with open(tmp, "wb") as f:
            f.write(data)
        with open(crc, "wb") as f:
            f.write(_hadoop_crc(data))
        os.rename(tmp, final)
    except BaseException:
        for p in (tmp, crc):
            if os.path.exists(p):
                os.remove(p)
        raise


def _hadoop_crc(data: bytes) -> bytes:
    """The ``.crc`` sidecar Hadoop's ChecksumFileSystem keeps next to a
    file: ``crc\\0``, the chunk size, then one CRC-32 per chunk, all
    big-endian."""
    view = memoryview(data)
    sums = [zlib.crc32(view[i:i + _CRC_CHUNK]) for i in range(0, len(data), _CRC_CHUNK)]
    return b"crc\0" + struct.pack(f">i{len(sums)}I", _CRC_CHUNK, *sums)
