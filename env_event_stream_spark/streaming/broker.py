"""EventBroker: topics, publish, subscribe, replay, DLQ redrive,
retention — the reference's public API (src/broker.ts) on Spark.

Semantics ported 1:1 (and documented divergences):
- publish constructs the Event (generated id, now() ts, schemaVersion
  "1.0" — src/broker.ts:100-108), validates against the topic's
  schema registry (failure → {success: False, error},
  src/broker.ts:117-124), persists BEFORE fan-out (store is the
  source of truth, src/topic.ts:113-143), then delivers to matching
  subscriptions; per-subscription failures are isolated.
- subscription delivery: active gate → type filter → handler with
  retry (max_retries, retry_delay) → dead-letter on final failure
  (src/subscription.ts:78-107).
- paused subscriptions DROP events (src/subscription.ts:79-81) in
  direct mode; checkpointed mode upgrades to stop/restart-from-
  checkpoint (no loss) — both offered, per SURVEY.md T8.
- checkpointed subscriptions (``subscribe_streaming``) are a cursor
  over each topic's write sequence (the store's ``_seq`` column), with
  Spark's offset/commit log in the checkpoint dir; no Structured
  Streaming query runs. Each row is delivered once, across restarts
  and across rewrites of the topic, and ``lag`` counts what is left.
- retention: delete events older than retention_period; maxEvents is
  declared-but-dead in the reference (SURVEY.md T7) — here
  ``max_events`` is ENFORCED as count-based retention (upgrade).

Storage: one backend. Every broker keeps its events and dead letters
in parquet (``ParquetEventStore``, ``ParquetDeadLetterQueue``), under
the caller's path or, with none, under a private temp dir that lives
as long as the broker — the reference's in-memory backends map onto
that (src/persistence.ts:8-94, src/deadletter.ts:13-113).

Scale: publish batches (``publish_many``) append columnar; per-event
python handlers exist for parity but the scale path is
``subscribe_streaming`` + a vectorized batch handler (DataFrame in,
no row loop).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import tempfile
import threading
import time
import uuid
import weakref
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from env_event_stream_spark.schema_registry import SchemaRegistry
from env_event_stream_spark.storage.dlq_store import ParquetDeadLetterQueue
from env_event_stream_spark.storage.event_store import ParquetEventStore, make_event

EventHandler = Callable[[Row], None]

__all__ = [
    "PublishResult",
    "SubscriptionOptions",
    "EventBroker",
    "default_broker",
]


@dataclass
class PublishResult:
    """src/types.ts:126-146."""

    success: bool
    event_id: str | None = None
    receiver_count: int = 0
    error: str | None = None


@dataclass
class SubscriptionOptions:
    """src/types.ts:51-70 + subscription defaults src/subscription.ts:26-30."""

    name: str | None = None
    event_types: Sequence[str] | None = None
    max_retries: int = 3
    retry_delay: float = 1.0
    receive_historical: bool = False


@dataclass
class _Subscription:
    id: str
    topic: str
    handler: EventHandler
    options: SubscriptionOptions
    active: bool = True
    cursor: Any = None  # _Cursor of a checkpointed sub
    query: Any = None  # its running or last _Run

    def matches(self, event_type: str) -> bool:
        types = self.options.event_types
        return not types or event_type in types


@dataclass
class _TopicMeta:
    """src/topic.ts:30-35 defaults."""

    name: str
    persistent: bool = True
    retention_period: float | None = None  # seconds; None or <= 0 = keep forever (ts:31,40)
    max_events: int | None = None
    registry: SchemaRegistry | None = None


class EventBroker:
    """Topic hub (src/broker.ts:19-27). Events and dead letters live in
    parquet under ``path`` (``events/``, ``dlq/``). With no path the
    broker makes a private temp dir, deleted when the broker is
    garbage-collected or the process exits: the reference's
    ``new EventBroker()`` keeps its state in memory, for the life of
    the object."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        if path is None:
            path = tempfile.mkdtemp(prefix="event-broker-")
            weakref.finalize(self, shutil.rmtree, path, True)
        self.path = path
        self.store = ParquetEventStore(spark, f"{path}/events")
        self.store.initialize()
        self.dlq = ParquetDeadLetterQueue(spark, f"{path}/dlq")
        self.topics: dict[str, _TopicMeta] = {}
        self.subscriptions: dict[str, _Subscription] = {}

    # -- topics ------------------------------------------------------------

    def create_topic(
        self,
        name: str,
        *,
        persistent: bool = True,
        retention_period: float | None = None,
        max_events: int | None = None,
        registry: SchemaRegistry | None = None,
    ) -> _TopicMeta:
        """Explicit create (auto-create on publish/subscribe mirrors
        src/broker.ts:94-98). Creating an EXISTING topic returns it
        UNCHANGED (src/broker.ts:32-35) — a second create_topic with
        different options must not silently reset the registry,
        retention, or persistence of a live topic."""
        if name in self.topics:
            return self.topics[name]
        meta = _TopicMeta(name, persistent, retention_period, max_events, registry)
        self.topics[name] = meta
        return meta

    def _topic(self, name: str) -> _TopicMeta:
        if name not in self.topics:
            self.create_topic(name)
        return self.topics[name]

    def list_topics(self) -> list[str]:
        return sorted(self.topics)

    def get_topic(self, name: str) -> _TopicMeta | None:
        """src/broker.ts:48-50 — metadata lookup, no auto-create."""
        return self.topics.get(name)

    def delete_topic(self, name: str) -> bool:
        """src/broker.ts:55-57. The reference only forgets the Topic
        object; here delete also drops the topic's stored events, its
        DLQ entries, and its subscriptions (documented upgrade — a
        deleted topic should not leave orphaned data)."""
        if name not in self.topics:
            return False
        for sub_id in [
            sid for sid, s in self.subscriptions.items() if s.topic == name
        ]:
            self.unsubscribe(sub_id)
        self.store.delete_topic(name)
        self.dlq.delete_topic(name)
        del self.topics[name]
        return True

    # -- publish -----------------------------------------------------------

    def publish(
        self,
        topic: str,
        event_type: str,
        payload: Any = None,
        metadata: dict[str, str] | None = None,
    ) -> PublishResult:
        """src/broker.ts:88-125. Payload may be any JSON-serializable
        value; stored as a JSON string (schema-on-read, SURVEY §1.4)."""
        meta = self._topic(topic)
        payload_json = None if payload is None else json.dumps(payload)
        event = make_event(topic, event_type, payload_json, metadata)

        if meta.registry is not None:
            err = self._validate(meta.registry, event_type, payload_json)
            if err:
                return PublishResult(success=False, error=err)

        if meta.persistent:
            self.store.save_event(event)  # persist BEFORE fan-out
        return PublishResult(True, event.id, self._fan_out(topic, event))

    def publish_many(
        self, topic: str, events: Sequence[tuple[str, Any, dict | None]]
    ) -> int:
        """Batch publish — ONE columnar append for the whole batch
        (the reference loops saveEvent per event; this is the scale
        path). Direct-mode fan-out still per event.

        Every event is validated against the topic's schema registry
        before anything is written: the first invalid one raises
        ValueError with its index, and then no event of the batch is
        persisted or delivered."""
        meta = self._topic(topic)
        rows = [
            make_event(topic, t, None if p is None else json.dumps(p), m)
            for (t, p, m) in events
        ]
        if meta.registry is not None:
            for i, r in enumerate(rows):
                err = self._validate(meta.registry, r.type, r.payload)
                if err:
                    raise ValueError(f"publish_many: event {i}: {err}")
        if meta.persistent:
            self.store.save_events(rows)
        for r in rows:
            self._fan_out(topic, r)
        return len(rows)

    def _fan_out(self, topic: str, event: Row) -> int:
        """Deliver a published event to the topic's direct-mode
        subscriptions whose type filter matches; returns how many
        there were. Failures are isolated (src/topic.ts:133-139)."""
        receivers = 0
        for sub in list(self.subscriptions.values()):
            if sub.topic != topic or sub.query is not None:
                continue  # checkpointed subs read the table
            if not sub.matches(event.type):
                continue
            receivers += 1
            self._deliver(sub, event)
        return receivers

    def _validate(
        self, registry: SchemaRegistry, event_type: str, payload_json: str | None
    ) -> str | None:
        """Publish-time validation. Driver-side single-row check using
        the same StructType the ingest path uses; returns an error
        string on failure (broker returns success:false,
        src/broker.ts:117-124)."""
        entry = registry.get(event_type)
        if entry is None:
            return None
        if payload_json is None:
            return f"payload required for schema-validated type '{event_type}'"
        try:
            obj = json.loads(payload_json)
        except (TypeError, ValueError) as exc:
            return f"invalid JSON payload: {exc}"
        return self._check(obj, entry.schema, path="$")

    def _check(self, obj: Any, schema: dict, path: str) -> str | None:
        jtype = schema.get("type")
        checkers = {
            "string": lambda o: isinstance(o, str),
            "number": lambda o: isinstance(o, (int, float)) and not isinstance(o, bool),
            "integer": lambda o: isinstance(o, int) and not isinstance(o, bool),
            "boolean": lambda o: isinstance(o, bool),
            "array": lambda o: isinstance(o, list),
            "object": lambda o: isinstance(o, dict),
            "null": lambda o: o is None,
        }
        if jtype in checkers and not checkers[jtype](obj):
            return f"{path}: expected {jtype}"
        if jtype == "object" or "properties" in schema:
            for req in schema.get("required", []):
                if not isinstance(obj, dict) or req not in obj:
                    return f"{path}.{req}: required property missing"
            for name, sub in schema.get("properties", {}).items():
                if isinstance(obj, dict) and name in obj:
                    err = self._check(obj[name], sub, f"{path}.{name}")
                    if err:
                        return err
        if jtype == "array" and "items" in schema:
            for i, item in enumerate(obj):
                err = self._check(item, schema["items"], f"{path}[{i}]")
                if err:
                    return err
        return None

    # -- delivery (direct mode) --------------------------------------------

    def _deliver(self, sub: _Subscription, event: Row) -> None:
        """src/subscription.ts:78-107: active gate → type filter →
        handler → retry with fixed delay → DLQ on final failure.
        Exactly max_retries total attempts. Divergence: the reference's
        ``maxRetries || 3`` treats 0 as 3 (JS falsy); here 0 means one
        attempt then straight to DLQ."""
        if not sub.active:
            return  # paused = dropped (T8 faithful mode)
        if not sub.matches(event.type):
            return
        attempts = 0
        while True:
            try:
                sub.handler(event)
                return
            except Exception as exc:
                attempts += 1
                # exactly max_retries TOTAL attempts, matching the
                # reference (src/subscription.ts:95: retry while
                # attempt < maxRetries, first call is attempt 1)
                if attempts >= sub.options.max_retries:
                    self.dlq.add_event(event, str(exc), sub.id)
                    return
                if sub.options.retry_delay > 0:
                    time.sleep(sub.options.retry_delay)

    # -- subscribe ---------------------------------------------------------

    def subscribe(
        self,
        topic: str,
        handler: EventHandler,
        options: SubscriptionOptions | None = None,
    ) -> str:
        """Direct-mode subscription (reference semantics). Named
        subscriptions are the durable identity DLQ redrive keys on
        (src/broker.ts:173-177)."""
        options = options or SubscriptionOptions()
        self._topic(topic)
        sub_id = options.name or f"sub-{uuid.uuid4().hex[:8]}"
        sub = _Subscription(sub_id, topic, handler, options)
        self.subscriptions[sub_id] = sub
        if options.receive_historical:
            # backlog delivery (src/topic.ts:71-86): type-filtered, not
            # time-filtered. Table-backed: no backlog/live race. The
            # replay read iterates, so the backlog need not fit in
            # driver memory.
            self.replay_events(
                topic,
                lambda row: self._deliver(sub, row),
                event_types=options.event_types,
            )
        return sub_id

    def subscribe_streaming(
        self,
        topic: str,
        batch_handler: Callable[[DataFrame, int], None] | None = None,
        options: SubscriptionOptions | None = None,
        *,
        checkpoint: str,
        handler: EventHandler | None = None,
    ) -> str:
        """Checkpointed subscription: a cursor over the topic's write
        sequence (``SEQ``), backlog and live events in one order
        (upgrade over the reference's racy catch-up, SURVEY §3.2). Each
        (re)start runs availableNow on a thread of its own: it delivers
        what the topic holds when it starts, then stops.

        ``batch_handler(df, epoch)`` is the scale path (vectorized).
        ``handler`` wraps per-row parity semantics (retry→DLQ) around
        each batch. Pause/resume = stop()/restart from the same
        checkpoint (no loss; T8 upgrade mode). The cursor tracks row
        numbers, not file names, so every row is delivered once, across
        restarts and across rewrites of the topic (compact, erase, a
        retention cut inside a file); rows removed before their batch
        ran are not delivered. A checkpoint left by the Structured
        Streaming subscription this replaced raises ValueError."""
        stale = [n for n in ("sources", "metadata")
                 if os.path.exists(os.path.join(checkpoint, n))]
        if stale:
            raise ValueError(
                f"subscribe_streaming: {checkpoint} holds a Spark Structured "
                f"Streaming checkpoint ({', '.join(stale)}), which this "
                "subscription cannot resume; start from a fresh checkpoint "
                "(it delivers the topic's backlog again)"
            )
        options = options or SubscriptionOptions()
        sub_id = options.name or f"sub-{uuid.uuid4().hex[:8]}"
        sub = _Subscription(sub_id, topic, handler or (lambda r: None), options)

        def process(df: DataFrame, epoch_id: int) -> None:
            if batch_handler is not None:
                batch_handler(df, epoch_id)
            if handler is not None:
                for row in df.collect():
                    self._deliver(sub, row)

        # an empty type list filters nothing, as in ``matches``
        sub.cursor = _Cursor(self.store, topic, checkpoint, process, options.event_types or None)
        sub.query = _Run(sub.cursor.catch_up)
        self.subscriptions[sub_id] = sub
        return sub_id

    def lag(self, sub_id: str) -> int:
        """Rows of a checkpointed subscription's topic that it has not
        committed yet: rows numbered above its committed offset (and,
        before its first commit, rows written before ``SEQ`` existed).
        Counted over the topic, ignoring the type filter. A direct-mode
        subscription keeps no offset: ValueError."""
        cursor = self.subscriptions[sub_id].cursor
        if cursor is None:
            raise ValueError(f"lag: {sub_id} is not a checkpointed subscription")
        return cursor.lag()

    def unsubscribe(self, sub_id: str) -> bool:
        sub = self.subscriptions.pop(sub_id, None)
        if sub is None:
            return False
        if sub.query is not None:
            sub.query.stop()
        return True

    def pause(self, sub_id: str) -> None:
        """Direct mode: events during pause are DROPPED (faithful,
        src/subscription.ts:79-81). Checkpointed mode: run stopped;
        restart resumes from checkpoint (documented upgrade)."""
        sub = self.subscriptions[sub_id]
        sub.active = False
        if sub.query is not None:
            sub.query.stop()

    def resume(self, sub_id: str) -> None:
        """Direct mode: future events delivered again. Checkpointed mode:
        RESTART the run from its checkpoint (pause() stopped it) —
        without this the subscription would silently never consume
        again despite the documented stop/restart semantics."""
        sub = self.subscriptions[sub_id]
        sub.active = True
        if sub.cursor is not None and not sub.query.isActive:
            sub.query = _Run(sub.cursor.catch_up)

    # -- replay / DLQ / retention ------------------------------------------

    def replay_events(
        self,
        topic: str,
        handler: EventHandler,
        *,
        from_ts=None,
        to_ts=None,
        event_types: Sequence[str] | None = None,
        limit: int | None = None,
    ) -> int:
        """Batch re-drive (src/broker.ts:144-161) in ``(timestamp, id)``
        order. A limited replay (``limit > 0``) holds at most ``limit``
        rows: the store reads them from the topic's files on the driver
        and hands them over as Rows, with no Spark job and no JVM round
        trip. An unlimited one (None or <= 0) iterates a Spark scan with
        toLocalIterator, so driver memory stays bounded however large
        the topic."""
        n = 0
        for row in self.store.get_events(topic, from_ts=from_ts, to_ts=to_ts,
                                         event_types=event_types, limit=limit, rows=True):
            handler(row)
            n += 1
        return n

    def retry_dlq_event(self, event_id: str) -> bool:
        """Manual redrive (src/broker.ts:166-183): find the stored
        entry, re-deliver through the SAME gating as live delivery
        (the reference routes redrive through subscription.deliver,
        src/broker.ts:178 → src/subscription.ts:78-107) — a paused or
        type-filtered subscription is a gated NO-OP that still counts
        as success (deliver() returns without calling the handler, so
        the callback resolves true and the entry is removed). A
        missing topic (src/broker.ts:168-171) or missing subscription
        (src/broker.ts:173-177) RAISES inside the retry callback — the
        DLQ records it as a hard failure (error replaced, attempts+1),
        not a silent no-op.

        Documented divergence (MIGRATION.md): when the handler ITSELF
        still fails, the reference's deliver() swallows the error,
        re-adds a FRESH dead letter (attempts reset to 1), and the
        success branch then deletes that fresh entry by id — a
        still-failing event silently VANISHES from the reference DLQ.
        We treat a handler raise during redrive as a recorded hard
        failure instead (attempts+1, error replaced, entry kept):
        strictly more conservative, no silent data loss."""
        entry = self.dlq.get_entry(event_id)
        if entry is None:
            return False
        sub_id = entry.subscription

        def _redeliver(event) -> bool:
            if event.topic not in self.topics:
                raise RuntimeError(
                    f"Topic {event.topic} not found for retry of "
                    f"event {event_id}"
                )
            sub = self.subscriptions.get(sub_id)
            if sub is None:
                raise RuntimeError(
                    f"Subscription {sub_id} not found for retry of "
                    f"event {event_id}"
                )
            # deliver()'s gates (src/subscription.ts:79-89): inactive
            # or type-filtered = no-op, resolves as success.
            if not sub.active or not sub.matches(event.type):
                return True
            sub.handler(event)
            return True

        return self.dlq.retry_event(event_id, _redeliver)

    def forget_subject(self, field: str, value) -> dict:
        """Right to erasure (GDPR Art. 17) — the operational primitive
        an event-sourced system must add on top of retention: erase
        every event whose JSON payload has ``field == value`` from ALL
        topics and the DLQ, without touching anyone else's history
        (the reference has no analog; contract-side completeness for
        running the engine on user data). Event-store removal is a
        partition-local rewrite per affected topic (delete_matching);
        DLQ removal is one ``delete_matching`` over the whole queue
        (one rewrite, however many entries match). Snapshot
        tables must be filtered by the caller
        (sourcing.forget_key_in_snapshot): they hold FOLDED per-
        subject state, so erasing history alone leaves a derived
        copy. Returns per-surface removal counts."""
        if value is None:
            # eqNullSafe(NULL) would be TRUE for every event that
            # merely LACKS the field — a mass erase. A null subject id
            # is always a caller bug; fail loudly.
            raise ValueError("forget_subject: subject value must not be None")
        pred = F.get_json_object(
            F.col("payload"), f"$.{field}"
        ).eqNullSafe(F.lit(value).cast("string"))
        removed_events = 0
        for name in self.list_topics():
            removed_events += self.store.delete_matching(name, pred)
        removed_dlq = self.dlq.delete_matching(
            F.get_json_object(F.col("event.payload"), f"$.{field}")
            == F.lit(value).cast("string")
        )
        return {"events": removed_events, "dlq": removed_dlq}

    def apply_retention(self, topic: str, *, now: _dt.datetime | None = None) -> int:
        """Time + count retention sweep (reference runs a 60 s timer,
        src/topic.ts:39-42; here it's an explicit job — schedule it
        externally). Returns rows deleted.

        ``retention_period=0`` (or negative) means KEEP FOREVER, not
        "older than now": the reference's own default is
        ``retentionPeriod: 0`` and BOTH its guards are strictly
        ``> 0`` (src/topic.ts:31-32,40,157-160) — a port passing the
        reference's default through must not mass-delete the topic."""
        meta = self._topic(topic)
        deleted = 0
        if meta.retention_period is not None and meta.retention_period > 0:
            now = now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            cutoff = now - _dt.timedelta(seconds=meta.retention_period)
            deleted += self.store.delete_events(topic, cutoff)
        # same falsy contract as retention_period and the stores'
        # limit: max_events <= 0 means the count cap is DISABLED
        # (enforcing a literal 0 would delete everything but the
        # newest row — the mass-deletion class of bug again)
        if meta.max_events is not None and meta.max_events > 0:
            deleted += self._enforce_max_events(meta)
        return deleted

    def _enforce_max_events(self, meta: _TopicMeta) -> int:
        """Count-based retention: keep exactly the newest max_events
        rows in (timestamp, id) order. (maxEvents is declared but never
        enforced in the reference — SURVEY.md T7; enforcing it is a
        documented upgrade.)"""
        cut = self.store.retention_cut(meta.name, meta.max_events)
        if cut is None:
            return 0
        ts, event_id = cut
        return self.store.delete_events(meta.name, ts, before_id=event_id)


class _Cursor:
    """A checkpointed subscription's position in its topic's write
    sequence, kept with Spark's write-ahead protocol (the
    ``readBetweenOffsets`` rule of ``sources/json_datasource.py``):
    ``offsets/<epoch>`` holds the ``{"start", "end"}`` SEQ range of a
    batch and is written (tmp + rename) before the handler runs;
    ``commits/<epoch>`` is written after it returns. A restart first
    runs a logged range that has no commit again, exactly; the next
    range starts where the last one ended. Epoch 0 also takes rows
    written before SEQ existed (they have none)."""

    RETAIN = 100  # epochs of log kept

    def __init__(self, store, topic: str, checkpoint: str, process, event_types):
        self.store = store
        self.topic = topic
        self.offsets = os.path.join(checkpoint, "offsets")
        self.commits = os.path.join(checkpoint, "commits")
        self.process = process
        self.event_types = event_types
        self.files: list = []  # the FileStats of the last listing

    def catch_up(self, stopped: threading.Event) -> None:
        """One availableNow run: the logged but uncommitted range, if
        any, then everything up to the topic's head at this point."""
        self.files = self.store.files(self.topic)
        epoch, start = _last(self.offsets), 0
        if epoch is not None:
            logged = _read_json(os.path.join(self.offsets, str(epoch)))
            if not os.path.exists(os.path.join(self.commits, str(epoch))):
                if stopped.is_set():
                    return
                self._batch(epoch, logged["start"], logged["end"])
            start = logged["end"]
        epoch = 0 if epoch is None else epoch + 1
        end = max([start, *(f.seq_hi for f in self.files if f.seq_hi is not None)])
        fresh = end > start or (epoch == 0 and any(f.seq_nulls for f in self.files))
        if not fresh or stopped.is_set():
            return
        _write_json(self.offsets, epoch, {"start": start, "end": end})
        self._batch(epoch, start, end)

    def _batch(self, epoch: int, start: int, end: int) -> None:
        """Deliver SEQ range ``(start, end]`` as batch ``epoch``, then
        commit it. When a listed file has gone, the range is planned
        again from a fresh listing: rows retention removed are not
        delivered, rows a rewrite moved are read from their new file."""
        def read():
            return self.store.read_seq(self.topic, self.files, start, end,
                                       nulls=epoch == 0, event_types=self.event_types)

        try:
            df = read()
        except FileNotFoundError:  # gone since the listing: list again
            self.files = self.store.files(self.topic)
            df = read()
        if df is not None:
            self.process(df, epoch)
        _write_json(self.commits, epoch, {})
        for log in (self.offsets, self.commits):
            old = os.path.join(log, str(epoch - self.RETAIN))
            if os.path.exists(old):
                os.unlink(old)

    def lag(self) -> int:
        epoch = _last(self.commits)
        done = 0 if epoch is None else _read_json(os.path.join(self.offsets, str(epoch)))["end"]
        return self.store.count_seq_after(self.store.files(self.topic), done, nulls=epoch is None)


def _last(log: str) -> int | None:
    epochs = [int(n) for n in os.listdir(log) if n.isdigit()] if os.path.isdir(log) else []
    return max(epochs, default=None)


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _write_json(log: str, epoch: int, value: dict) -> None:
    os.makedirs(log, exist_ok=True)
    tmp = os.path.join(log, f".{epoch}.tmp")
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, os.path.join(log, str(epoch)))


class _Run:
    """One run of a checkpointed subscription (``sub.query``), with the
    calls callers make of a StreamingQuery: ``awaitTermination``,
    ``isActive`` and ``stop``. It runs on an InheritableThread, so the
    handler's Spark jobs carry the starting thread's job group."""

    def __init__(self, target: Callable[[threading.Event], None]):
        self._stopped = threading.Event()
        self._error: Exception | None = None
        self._thread = InheritableThread(self._main, args=(target,), daemon=True)
        self._thread.start()

    def _main(self, target) -> None:
        try:
            target(self._stopped)
        except Exception as exc:  # re-raised by awaitTermination
            self._error = exc

    @property
    def isActive(self) -> bool:
        return self._thread.is_alive()

    def awaitTermination(self, timeout: float | None = None) -> bool | None:
        """Wait for the run to end; re-raise what its handler raised.
        With a timeout, returns whether it ended."""
        self._thread.join(timeout)
        if self._error is not None:
            raise self._error
        return None if timeout is None else not self._thread.is_alive()

    def stop(self) -> None:
        """No batch starts after this; one under way finishes first."""
        self._stopped.set()
        if threading.current_thread() is not self._thread:
            self._thread.join()


# -- module-level default broker (mod.ts export parity) --------------------

_default_broker: EventBroker | None = None
_default_broker_lock = threading.Lock()


def _session_stopped(spark: SparkSession) -> bool:
    """True when the session's SparkContext is gone — a broker bound
    to it can only raise. Internal-API probe, so any failure reads as
    stopped (recreating on a live session is harmless; returning a
    dead broker is not)."""
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return True


def default_broker(spark: SparkSession) -> EventBroker:
    """The reference's module-level singleton (src/broker.ts:187:
    ``export const defaultBroker = new EventBroker()``), lazified:
    Python can't construct one at import time because a broker needs
    a SparkSession. The first call creates it (a broker with no path:
    store and DLQ in a private temp dir, the reference's no-arg
    constructor); every later call returns the SAME instance —
    per-process, like the reference's module scope. Two departures
    the JVM lifecycle forces: creation
    is lock-guarded (a module ``const`` can't race; a lazy factory
    can), and a singleton bound to a STOPPED session is replaced with
    one bound to the caller's live session instead of handing back a
    broker whose every call raises 'SparkContext was shut down'
    (the dead instance's events are not carried over: they lived in
    its private temp dir, deleted with it)."""
    global _default_broker
    with _default_broker_lock:
        if _default_broker is None or _session_stopped(_default_broker.spark):
            _default_broker = EventBroker(spark)
        return _default_broker
