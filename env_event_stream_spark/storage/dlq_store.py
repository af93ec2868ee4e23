"""Dead-letter queues (reference src/deadletter.ts).

Entry shape (reference src/types.ts:151-176; FIXTURES.md §A2):
``event STRUCT<...>, error STRING, subscription STRING,
timestamp TIMESTAMP, attempts INT``.

Semantics ported:
- ``add_event``    — append failed event (attempts starts at 1,
  reference src/deadletter.ts:19-34).
- ``get_events``   — filter topic/type, ORDER BY timestamp DESC, LIMIT
  (src/deadletter.ts:39-72).
- ``retry_event``  — re-run handler; success removes the entry, failure
  increments ``attempts`` and records the new error
  (src/deadletter.ts:78-103). The Postgres backend's
  ``ON CONFLICT ... attempts+1`` upsert (src/deadletter.ts:320-327)
  becomes a keyed overwrite here.
- ``remove_event`` — delete by event id (src/deadletter.ts:108-112).
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from typing import Any

import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from env_event_stream_spark.operators.event_queries import get_dlq_events
from env_event_stream_spark.storage.event_store import EVENT_SCHEMA
from env_event_stream_spark.storage.parquet_append import append_rows
from env_event_stream_spark.storage.parquet_read import read_rows, to_rows, visible_files
from env_event_stream_spark.storage.rewrite import drop_rows, has_parquet, recover, replace_dir

DLQ_SCHEMA = T.StructType(
    [
        T.StructField("event", EVENT_SCHEMA, False),
        T.StructField("error", T.StringType(), True),
        T.StructField("subscription", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("attempts", T.IntegerType(), False),
    ]
)

__all__ = ["DLQ_SCHEMA", "ParquetDeadLetterQueue"]


def _now() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def _event_tuple(event: Row) -> tuple:
    """Normalize an event Row to EVENT_SCHEMA field order by NAME —
    rows collected from partitioned reads can carry a different
    positional order (partition column last)."""
    return tuple(event[f] for f in EVENT_SCHEMA.fieldNames())


class ParquetDeadLetterQueue:
    """Durable DLQ on parquet. At scale this is an append-only table
    compacted by a MERGE-style rewrite keyed on ``event.id`` — we keep
    the latest attempt per id (the upsert of the Postgres backend,
    reference src/deadletter.ts:320-327) by versioning rows and taking
    max(attempts) per id at read time, with an explicit ``compact()``.
    Appends (``add_event(s)``, a failed ``retry_event``) are written by
    the driver, one file per call, no Spark job, and the redrive lookup
    (``get_entry``) reads on the driver too. Removals and
    ``compact`` swap the dir via ``replace_dir``; the constructor's
    ``recover`` rolls a crashed swap back (old or new entries, never
    none)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        recover(path)

    def _append(self, rows: list[tuple]) -> None:
        """Driver-side append of one file, no Spark job (append_rows)."""
        append_rows(self.spark, DLQ_SCHEMA, rows, self.path)

    def add_event(self, event: Row, error: str, subscription: str) -> None:
        self.add_events([(event, error, subscription)])

    def add_events(self, triples: list[tuple[Row, str, str]]) -> None:
        self._append(
            [
                (_event_tuple(e), err, sub, _now(), 1)
                for (e, err, sub) in triples
            ]
        )

    def _raw(self) -> DataFrame:
        if not has_parquet(self.path):
            return self.spark.createDataFrame([], schema=DLQ_SCHEMA)
        return self.spark.read.schema(DLQ_SCHEMA).parquet(self.path)

    def to_df(self) -> DataFrame:
        """Latest row per event id (append-log → current state).
        row_number over (id ORDER BY timestamp DESC) = last-write-wins,
        i.e. the reference's Map.set / ON CONFLICT upsert
        (src/deadletter.ts:25-31, :320-327): a fresh add_event after
        earlier retry failures RESETS the visible entry (attempts=1),
        exactly as Map.set replaces. attempts DESC is only the
        tie-break for same-timestamp retry appends."""
        from pyspark.sql import Window as W

        w = W.partitionBy("event.id").orderBy(
            F.col("timestamp").desc(), F.col("attempts").desc()
        )
        return (
            self._raw()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def get_events(
        self,
        topic: str | None = None,
        event_type: str | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        return get_dlq_events(
            self.to_df(), topic=topic, topic_col="event.topic", event_type=event_type,
            type_col="event.type", ts_col="timestamp", limit=limit, tiebreak_col="event.id",
        )

    def get_entry(self, event_id: str) -> Row | None:
        """The entry ``to_df`` keeps for ``event_id`` (latest
        ``(timestamp, attempts)`` version), or None. Read on the driver
        with the id filter pushed down, no Spark job; the Row equals
        what ``collect()`` returns."""
        latest = read_rows(
            DLQ_SCHEMA, visible_files(self.path), pc.field("event", "id") == event_id,
            [("timestamp", "descending"), ("attempts", "descending")], k=1,
        )
        return to_rows(DLQ_SCHEMA, latest)[0] if latest.num_rows else None

    def retry_event(self, event_id: str, handler: Callable[[Row], Any]) -> bool:
        """Re-deliver; success removes the entry. The reference's
        callback contract is boolean: ``False`` return = soft failure
        (attempts+1, error text kept), raise = hard failure (attempts+1,
        error replaced); both refresh the timestamp via the versioned
        append (reference src/deadletter.ts:78-103). A None-returning
        handler that doesn't raise counts as success; removal is by id,
        so an entry the handler re-dead-lettered goes too."""
        entry = self.get_entry(event_id)
        if entry is None:
            return False
        error = entry.error
        try:
            ok = handler(entry.event)
        except Exception as exc:
            ok, error = False, str(exc)
        if ok is False:
            self._append(
                [
                    (
                        _event_tuple(entry.event),
                        error,
                        entry.subscription,
                        _now(),
                        entry.attempts + 1,
                    )
                ]
            )
            return False
        self.remove_event(event_id)
        return True

    def delete_matching(self, predicate) -> int:
        """Drop the entries matching a Column predicate over the DLQ
        schema in one rewrite; NULL keeps the entry. Returns count."""
        return drop_rows(self.to_df(), self.path, predicate)

    def remove_event(self, event_id: str) -> bool:
        return self.delete_matching(F.col("event.id") == event_id) > 0

    def delete_topic(self, topic: str) -> int:
        """Drop all dead letters for a topic (broker deleteTopic)."""
        return self.delete_matching(F.col("event.topic") == topic)

    def compact(self) -> None:
        """Collapse the append log to current state (VACUUM analog)."""
        replace_dir(self.to_df(), self.path)
