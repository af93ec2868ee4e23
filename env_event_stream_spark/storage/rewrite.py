"""Crash-safe replacement of a parquet directory.

``replace_dir`` writes the new rows to a hidden ``.<name>.tmp``, renames
``<name>`` aside to ``.<name>.old``, renames the tmp into place and
drops ``.old``, so one complete copy always exists. ``recover`` puts
``.old`` back when a crash left ``<name>`` missing and drops other
leftovers. The prefix is ``.``, not ``_``: Spark's listing keeps
``_``-names that contain ``=``, so ``_topic=x.tmp`` would be a partition.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["WRITE_OPTIONS", "drop_rows", "has_parquet", "recover", "replace_dir"]

# Options of every Spark write of a store file. Format v2 data pages let
# parquet-mr pick the DELTA encodings, so a monotone int64 column (the
# event store's ``_seq``, an INT64 timestamp) takes bytes, not megabytes.
# A per-write option: the session's other parquet writes keep v1.
WRITE_OPTIONS = {"parquet.writer.version": "v2"}


def _aside(path: str, suffix: str) -> str:
    parent, name = os.path.split(path.rstrip(os.sep))
    return os.path.join(parent, f".{name}{suffix}")


def recover(path: str) -> None:
    """Repair what a crash inside ``replace_dir`` left at ``path`` or at
    a directory directly under it (a table's partitions)."""
    names = os.listdir(path) if os.path.isdir(path) else []
    under = {n[1:-4] for n in names if n.startswith(".") and n.endswith((".tmp", ".old"))}
    for p in [path, *(os.path.join(path, n) for n in under)]:
        tmp, old = _aside(p, ".tmp"), _aside(p, ".old")
        if not os.path.exists(p) and os.path.isdir(old):
            os.rename(old, p)
        for d in (tmp, old):
            if os.path.isdir(d):
                shutil.rmtree(d)


def replace_dir(df: DataFrame, path: str) -> None:
    """Make ``path`` hold the rows of ``df`` (which may read ``path``);
    a failed swap is rolled back before it raises."""
    recover(path)
    tmp, old = _aside(path, ".tmp"), _aside(path, ".old")
    df.write.options(**WRITE_OPTIONS).parquet(tmp)
    try:
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
    except BaseException:
        recover(path)
        raise
    if os.path.isdir(old):
        shutil.rmtree(old)


def drop_rows(df: DataFrame, path: str, drop: Column) -> int:
    """Rewrite ``path`` (which holds ``df``) without the rows where
    ``drop`` is true. NULL keeps the row: an erase over a JSON field a
    row lacks must not delete it. No row to drop, no write. Returns
    rows removed."""
    df = df.cache()
    try:
        total = df.count()
        keep = df.where(~F.coalesce(drop, F.lit(False)))
        kept = keep.count()
        if kept < total:
            replace_dir(keep, path)
        return total - kept
    finally:
        df.unpersist()


def has_parquet(path: str) -> bool:
    """A parquet file lies under ``path``, outside hidden dirs."""
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False
