"""Event-sourced aggregate facade (reference src/sourcing.ts:8-305).

The reference's user-facing DDD surface: an ``AggregateRoot`` records
events against itself (uncommitted until saved), a repository
persists them to an event store and rehydrates aggregates from their
event streams. Single-aggregate operations are inherently
driver-side small-data (one entity's history); the DISTRIBUTED
rehydration paths — every aggregate at once, snapshot+incremental,
live streaming — live in ``sourcing.py`` and share the same fold
semantics, which is what makes this facade scale-honest: use the
repository for per-entity command handling, `rehydrate_all` for the
100 TB read path.

Divergence from the reference (documented upgrade): reference
``recordEvent`` stamps topic ``aggregate.{id}``
(src/sourcing.ts:100) while its repository reads topic
``aggregate.{type}.{id}`` (src/sourcing.ts:276-278) — the stores
index by the event's own topic (src/persistence.ts:14), so a
reference save → getById round-trip can never find its events. Here
BOTH sides use ``aggregate.{type}.{id}``, pinned by the round-trip
test in tests/test_aggregates.py.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Row

from env_event_stream_spark.storage.event_store import make_event

__all__ = [
    "EventSourcedEntity",
    "AggregateRoot",
    "EventSourcedRepository",
    "RepositoryFactory",
]


class EventSourcedEntity:
    """src/sourcing.ts:8-67: state + version + applied-event history;
    subclasses implement ``apply_event(event)`` to mutate ``state``."""

    def __init__(self, initial_state: dict[str, Any]):
        self.state: dict[str, Any] = dict(initial_state)
        self._history: list[Row] = []
        self._version = 0

    def get_state(self) -> dict[str, Any]:
        return dict(self.state)

    def get_version(self) -> int:
        return self._version

    def get_events(self) -> list[Row]:
        return list(self._history)

    def apply(self, event: Row) -> None:
        """applyEvent → history append → version++ (ts:41-48)."""
        self.apply_event(event)
        self._history.append(event)
        self._version += 1

    def rehydrate(self, events: list[Row]) -> None:
        """Reset, then re-apply the full stream in order (ts:56-66)."""
        self._history = []
        self._version = 0
        for e in events:
            self.apply(e)

    def apply_event(self, event: Row) -> None:  # pragma: no cover
        raise NotImplementedError("subclass must implement apply_event")


class AggregateRoot(EventSourcedEntity):
    """src/sourcing.ts:75-136: adds identity + uncommitted-event
    tracking. ``record_event`` applies immediately AND queues the
    event for the next repository save."""

    aggregate_type: str = "aggregate"

    def __init__(self, agg_id: str, initial_state: dict[str, Any]):
        super().__init__(initial_state)
        self._id = agg_id
        self._uncommitted: list[Row] = []

    def get_id(self) -> str:
        return self._id

    def record_event(
        self,
        event_type: str,
        payload: str | None = None,
        metadata: dict[str, str] | None = None,
    ) -> Row:
        """ts:92-118 — enrich (id, ts, schemaVersion, aggregate
        metadata), apply, queue as uncommitted."""
        event = make_event(
            topic=f"aggregate.{self.aggregate_type}.{self._id}",
            event_type=event_type,
            payload=payload,
            metadata={
                "aggregateId": self._id,
                "aggregateVersion": str(self.get_version()),
                **(metadata or {}),
            },
        )
        self.apply(event)
        self._uncommitted.append(event)
        return event

    def get_uncommitted_events(self) -> list[Row]:
        return list(self._uncommitted)

    def mark_events_as_committed(self) -> None:
        self._uncommitted = []


class EventSourcedRepository:
    """src/sourcing.ts:139-281: save / get_by_id / exists /
    get_events / delete_events over an event store: ``ParquetEventStore``
    (a broker's ``store``), or any object whose ``save_events`` takes a
    list of event Rows and whose ``get_events(topic, **options)`` and
    ``delete_events(topic, before_ts)`` answer as it does.
    ``JdbcEventStore`` is not one: its ``save_events`` takes only a
    DataFrame."""

    def __init__(
        self,
        aggregate_factory: Callable[[str], AggregateRoot],
        event_store,
        aggregate_type: str,
    ):
        self._factory = aggregate_factory
        self._store = event_store
        self._type = aggregate_type

    def _topic(self, agg_id: str) -> str:
        return f"aggregate.{self._type}.{agg_id}"

    def save(self, aggregate: AggregateRoot) -> None:
        """Persist uncommitted events, then mark committed
        (ts:167-197). One batched store append, not per-event."""
        events = aggregate.get_uncommitted_events()
        if not events:
            return
        self._store.save_events(events)
        aggregate.mark_events_as_committed()

    def get_by_id(self, agg_id: str) -> AggregateRoot | None:
        """Rehydrate from the full stored stream; None when no events
        exist (ts:204-233). Per-entity histories are small by design —
        for ALL aggregates at once use sourcing.rehydrate_all."""
        rows = self._store.get_events(self._topic(agg_id)).collect()
        if not rows:
            return None
        agg = self._factory(agg_id)
        agg.rehydrate(rows)
        return agg

    def exists(self, agg_id: str) -> bool:
        """LIMIT-1 probe (ts:239-243) — never loads the stream; the
        one row is read on the driver, no DataFrame is built."""
        return bool(self._store.get_events(self._topic(agg_id), limit=1, rows=True))

    def get_events(self, agg_id: str, **options):
        """Filtered event access (ts:251-264): from_ts/to_ts/
        event_types/limit pass through to the store scan."""
        return self._store.get_events(self._topic(agg_id), **options)

    def delete_events(self, agg_id: str, before_ts) -> int:
        """Retention per aggregate (ts:272-274)."""
        return self._store.delete_events(self._topic(agg_id), before_ts)


class RepositoryFactory:
    """src/sourcing.ts:281-305: repositories sharing one store."""

    def __init__(self, event_store):
        self._store = event_store

    def create_repository(
        self,
        aggregate_factory: Callable[[str], AggregateRoot],
        aggregate_type: str,
    ) -> EventSourcedRepository:
        return EventSourcedRepository(
            aggregate_factory, self._store, aggregate_type
        )
