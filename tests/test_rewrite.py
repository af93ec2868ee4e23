"""Crash safety of the parquet rewrites (storage/rewrite.py).

Every rewrite of a stored directory — event-store retention cut
inside a file and compaction, a DLQ removal, a snapshot erase — is
driven through a failing rename. Two failure models:

- ``error``: the rename raises and the program goes on; the swap must
  roll itself back at once.
- ``crash``: the process dies at that point; nothing after it touches
  the disk (later renames, unlinks, ``rmtree`` and writes raise as
  well). The next open of the store must recover.

Either way a reader afterwards sees all the old rows or all the new
ones, never an empty or missing directory, and no ``.tmp``/``.old``
directory is left behind. A retention sweep that drops whole files
swaps nothing; it is driven through a failing ``os.unlink`` instead.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from env_event_stream_spark.sourcing import forget_key_in_snapshot
from env_event_stream_spark.storage.dlq_store import ParquetDeadLetterQueue
from env_event_stream_spark.storage.event_store import ParquetEventStore, make_event
from env_event_stream_spark.streaming import EventBroker, SubscriptionOptions

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)


class Crash(Exception):
    """Stands for the process dying."""


def fail_at(monkeypatch, point: str, model: str) -> None:
    """Make the ``point`` step of the next rewrite fail: ``"write"``
    (right after the new rows are written), ``"rename1"`` or
    ``"rename2"`` (the first or second ``os.rename``), ``"unlinkN"``
    (the N-th ``os.unlink``)."""
    real_rename, real_rmtree, real_parquet = os.rename, shutil.rmtree, DataFrameWriter.parquet
    real_unlink = os.unlink
    state = {"renames": 0, "unlinks": 0, "dead": False}

    def check_alive():
        if state["dead"]:
            raise Crash("process is dead")

    def fail():
        state["dead"] = model == "crash"
        raise Crash(point) if model == "crash" else OSError(f"injected at {point}")

    def rename(src, dst):
        check_alive()
        state["renames"] += 1
        if point == f"rename{state['renames']}":
            fail()
        real_rename(src, dst)

    def rmtree(path, *args, **kwargs):
        check_alive()
        real_rmtree(path, *args, **kwargs)

    def unlink(path, *args, **kwargs):
        check_alive()
        state["unlinks"] += 1
        if point == f"unlink{state['unlinks']}":
            fail()
        real_unlink(path, *args, **kwargs)

    def parquet(self, *args, **kwargs):
        check_alive()
        real_parquet(self, *args, **kwargs)
        if point == "write":
            fail()

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    monkeypatch.setattr(os, "unlink", unlink)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def leftovers(root) -> list[str]:
    return [
        os.path.join(d, name)
        for d, dirs, _files in os.walk(root)
        for name in dirs
        if name.endswith((".tmp", ".old"))
    ]


def _event(i: int):
    return make_event("t", "e", '{"k": %d}' % i, timestamp=BASE + dt.timedelta(minutes=i),
                      event_id=f"e{i}")


def _store(spark, root):
    store = ParquetEventStore(spark, root)
    store.initialize()
    for i in range(3):
        store.save_event(_event(i))  # one file each
    return store


def _one_file_store(spark, root):
    """The rows of ``_store`` in one file, so a cut between them falls
    inside the file and the sweep rewrites the partition."""
    store = ParquetEventStore(spark, root)
    store.initialize()
    store.save_events([_event(i) for i in range(3)])
    return store


def _ids(df) -> set[str]:
    return {r.id for r in df.select("id").collect()}


def _retention(spark, tmp_path):
    root = str(tmp_path / "events")
    store = _one_file_store(spark, root)
    return (
        lambda: store.delete_events("t", BASE + dt.timedelta(minutes=2)),
        lambda: _ids(ParquetEventStore(spark, root).get_events("t")),
        {"e0", "e1", "e2"},
        {"e2"},
    )


def _compact(spark, tmp_path):
    root = str(tmp_path / "events")
    store = _store(spark, root)
    return (
        lambda: store.compact("t"),
        lambda: _ids(ParquetEventStore(spark, root).get_events("t")),
        {"e0", "e1", "e2"},
        {"e0", "e1", "e2"},
    )


def _dlq_remove(spark, tmp_path):
    path = str(tmp_path / "dlq")
    dlq = ParquetDeadLetterQueue(spark, path)
    dlq.add_events([(_event(0), "err", "s"), (_event(1), "err", "s")])
    return (
        lambda: dlq.remove_event("e0"),
        lambda: _ids(ParquetDeadLetterQueue(spark, path).to_df().select("event.id")),
        {"e0", "e1"},
        {"e1"},
    )


def _snapshot(spark, tmp_path):
    path = str(tmp_path / "snap")
    spark.createDataFrame([(1, 2.0), (2, 5.0)], "k bigint, bal double").write.parquet(path)

    def reread():
        # a snapshot has no store object to open; the next erase call
        # (here one that matches nothing) recovers it first
        forget_key_in_snapshot(spark, path, "k", -1)
        return {str(r.k) for r in spark.read.parquet(path).collect()}

    return (lambda: forget_key_in_snapshot(spark, path, "k", 1), reread, {"1", "2"}, {"2"})


SURFACES = {
    "retention": _retention,
    "compact": _compact,
    "dlq_remove_event": _dlq_remove,
    "forget_key_in_snapshot": _snapshot,
}


@pytest.mark.parametrize("model", ["error", "crash"])
@pytest.mark.parametrize("point", ["rename1", "rename2"])
@pytest.mark.parametrize("surface", sorted(SURFACES))
def test_failed_swap_keeps_old_or_new_rows(spark, tmp_path, monkeypatch, surface, point, model):
    op, reread, old, new = SURFACES[surface](spark, tmp_path)
    with monkeypatch.context() as m:
        fail_at(m, point, model)
        with pytest.raises((Crash, OSError)):
            op()
    if model == "error":  # rolled back in place, before any reopen
        assert leftovers(tmp_path) == []
    assert reread() in (old, new)
    assert leftovers(tmp_path) == []
    op()  # the store still works after recovery
    assert reread() == new


def test_tmp_left_mid_write_is_invisible(spark, tmp_path, monkeypatch):
    """A crash right after the new partition is written leaves its
    temporary dir next to the live one; the table must not show it
    as a topic."""
    root = str(tmp_path / "events")
    store = _one_file_store(spark, root)
    with monkeypatch.context() as m:
        fail_at(m, "write", "crash")
        with pytest.raises(Crash):
            store.delete_events("t", BASE + dt.timedelta(minutes=2))
    topics = sorted(r.topic for r in store.to_df().select("topic").distinct().collect())
    assert topics == ["t"]
    assert _ids(store.get_events("t")) == {"e0", "e1", "e2"}
    ParquetEventStore(spark, root)  # reopening drops the leftover
    assert leftovers(tmp_path) == []


@pytest.mark.parametrize("model", ["error", "crash"])
@pytest.mark.parametrize("point", ["unlink1", "unlink2", "unlink3"])
def test_failed_unlink_mid_sweep_keeps_every_kept_row(spark, tmp_path, monkeypatch, point, model):
    """A sweep that drops whole files, cut short at an ``os.unlink``:
    the first file's sidecar, the first file, or the second file's
    sidecar. Every kept row stays, only doomed rows are gone, no
    ``.crc`` is left without its file, and a re-run finishes the sweep."""
    root = str(tmp_path / "events")
    store = ParquetEventStore(spark, root)
    store.initialize()
    store.save_event(_event(3))
    part = store._part_dir("t")
    final = sorted(os.listdir(part))
    for i in range(3):
        store.save_event(_event(i))  # one file each, all before the cut
    cut = BASE + dt.timedelta(minutes=3)
    with monkeypatch.context() as m:
        fail_at(m, point, model)
        with pytest.raises((Crash, OSError)):
            store.delete_events("t", cut)
    store = ParquetEventStore(spark, root)
    left = _ids(store.get_events("t"))
    assert "e3" in left
    assert {"e0", "e1", "e2", "e3"} - left <= {"e0", "e1", "e2"}
    names = os.listdir(part)
    assert all(n[1:-len(".crc")] in names for n in names if n.endswith(".crc"))
    assert store.delete_events("t", cut) == len(left) - 1
    assert _ids(store.get_events("t")) == {"e3"}
    assert sorted(os.listdir(part)) == final


def test_noop_delete_events_rewrites_nothing(spark, tmp_path):
    store = _store(spark, str(tmp_path / "events"))
    part = store._part_dir("t")
    files = sorted(os.listdir(part))
    assert store.delete_events("t", BASE - dt.timedelta(days=1)) == 0
    assert sorted(os.listdir(part)) == files


def test_forget_subject_rewrites_the_dlq_once(spark, tmp_path, monkeypatch):
    import env_event_stream_spark.storage.rewrite as rewrite

    broker = EventBroker(spark, path=str(tmp_path / "broker"))

    def failing(_e):
        raise RuntimeError("boom")

    broker.subscribe("orders", failing, SubscriptionOptions(name="f", max_retries=1, retry_delay=0))
    for uid in (7, 7, 7, 8):
        broker.publish("orders", "evt", {"userId": uid})
    assert broker.dlq.get_events().count() == 4

    calls = []
    real = rewrite.replace_dir

    def spy(df, path):
        calls.append(path)
        real(df, path)

    monkeypatch.setattr(rewrite, "replace_dir", spy)
    assert broker.forget_subject("userId", 7) == {"events": 3, "dlq": 3}
    assert calls.count(broker.dlq.path) == 1
    assert broker.dlq.get_events().count() == 1
