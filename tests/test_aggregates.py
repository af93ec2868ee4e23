"""AggregateRoot / EventSourcedRepository facade (reference
src/sourcing.ts:8-305): record → save → rehydrate round-trips over
the parquet store, uncommitted-event bookkeeping, exists probe,
and the repository-consistent topic naming that fixes the
reference's save/getById topic mismatch."""

from __future__ import annotations

import json

import pytest

from env_event_stream_spark.aggregates import (
    AggregateRoot,
    RepositoryFactory,
)
from env_event_stream_spark.storage.event_store import ParquetEventStore


class Account(AggregateRoot):
    aggregate_type = "account"

    def __init__(self, agg_id: str):
        super().__init__(agg_id, {"balance": 0.0})

    def apply_event(self, event):
        amt = float(json.loads(event.payload)["amount"])
        if event.type == "deposited":
            self.state["balance"] += amt
        elif event.type == "withdrawn":
            self.state["balance"] -= amt

    def deposit(self, amount: float):
        self.record_event("deposited", json.dumps({"amount": amount}))

    def withdraw(self, amount: float):
        self.record_event("withdrawn", json.dumps({"amount": amount}))


@pytest.fixture(params=["parquet"])
def repo(spark, tmp_path):
    store = ParquetEventStore(spark, str(tmp_path / "events"))
    return RepositoryFactory(store).create_repository(Account, "account")


def test_record_apply_version_and_uncommitted(spark):
    a = Account("a1")
    a.deposit(100.0)
    a.withdraw(30.0)
    assert a.get_state() == {"balance": 70.0}
    assert a.get_version() == 2
    assert len(a.get_uncommitted_events()) == 2
    # enrichment: id/ts/schemaVersion + aggregate metadata (ts:92-118)
    ev = a.get_uncommitted_events()[0]
    assert ev.id and ev.timestamp is not None
    assert ev.schemaVersion == "1.0"
    assert ev.metadata["aggregateId"] == "a1"
    assert ev.metadata["aggregateVersion"] == "0"
    # the repository-consistent topic (reference bug fixed: ts:100
    # stamps aggregate.{id}, ts:276 reads aggregate.{type}.{id})
    assert ev.topic == "aggregate.account.a1"


def test_save_rehydrate_roundtrip(repo):
    a = Account("a1")
    a.deposit(100.0)
    a.withdraw(30.0)
    repo.save(a)
    assert a.get_uncommitted_events() == []  # committed (ts:189)
    # second save with nothing pending is a no-op (ts:170-172)
    repo.save(a)

    b = repo.get_by_id("a1")
    assert b is not None
    assert b.get_state() == {"balance": 70.0}
    assert b.get_version() == 2

    # incremental: new events on the REHYDRATED instance
    b.deposit(5.0)
    repo.save(b)
    c = repo.get_by_id("a1")
    assert c.get_state() == {"balance": 75.0}
    assert c.get_version() == 3


def test_exists_and_missing(spark, repo, monkeypatch):
    assert repo.get_by_id("ghost") is None
    a = Account("a2")
    a.deposit(1.0)
    repo.save(a)
    # the probe reads its one row on the driver and builds no DataFrame
    monkeypatch.setattr(spark, "createDataFrame", lambda *args, **kwargs: pytest.fail("DataFrame built"))
    assert not repo.exists("ghost")
    assert repo.exists("a2")


def test_get_events_filter_and_retention(repo):
    a = Account("a3")
    for i in range(5):
        a.deposit(float(i))
    repo.save(a)
    only_dep = repo.get_events("a3", event_types=["deposited"]).collect()
    assert len(only_dep) == 5
    assert repo.get_events("a3", limit=2).count() == 2
    cutoff = sorted(r.timestamp for r in only_dep)[2]
    deleted = repo.delete_events("a3", cutoff)
    assert deleted == 2  # strictly-before semantics (persistence.ts:74)
    assert repo.get_by_id("a3").get_version() == 3
