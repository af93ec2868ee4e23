"""Event sourcing: aggregate fold / rehydrate / repository.

Reference parity (src/sourcing.ts):
- ``applyEvent`` abstract transition (src/sourcing.ts:67) → a plain
  Python ``fold(state, event) -> state`` function applied inside
  ``applyInPandas`` (U2).
- ``rehydrate`` = reset + ordered fold, version++ per event
  (src/sourcing.ts:41-62) → per-key sorted fold in one grouped pass.
- ``EventSourcedRepository.save/getById`` (src/sourcing.ts:167-219)
  → append to the event store / filtered fold.

The scale win over the reference: ``rehydrate_all`` folds EVERY
aggregate in ONE distributed groupBy pass (the reference loads one id
at a time through the store). Ordering inside each group is explicit
(sort by ts, id within the pandas group) — never rely on shuffle
order. Streaming twin: ``live_rehydrate`` (applyInPandasWithState)
in streaming/stateful.py.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from env_event_stream_spark.storage.rewrite import drop_rows, recover

FoldFn = Callable[[dict[str, Any], dict[str, Any]], dict[str, Any]]

__all__ = [
    "rehydrate_all",
    "rehydrate_one",
    "snapshot_states",
    "rehydrate_incremental",
    "fold_balance_with_reset",
]


def rehydrate_all(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    fold: FoldFn,
    init: Callable[[], dict[str, Any]],
    state_ddl: str,
    *,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Fold every aggregate's event history into its final state.

    ``state_ddl`` declares the output schema, e.g.
    ``"user_id bigint, version bigint, balance double"`` — it must
    include ``key_col`` and ``version``. The fold function sees events
    as dicts in (ts, tiebreak) order, exactly like the reference's
    sequential applyEvent loop (src/sourcing.ts:41-48); ``version`` is
    maintained by the harness (one increment per event,
    src/sourcing.ts:47)."""
    order_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])

    def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        state = init()
        version = 0
        for rec in pdf.to_dict("records"):
            state = fold(state, rec)
            version += 1
        state[key_col] = pdf.iloc[0][key_col]
        state["version"] = version
        return pd.DataFrame([state])

    return events.groupBy(key_col).applyInPandas(fold_group, schema=state_ddl)


def rehydrate_one(
    events: DataFrame,
    key_col: str,
    key: Any,
    ts_col: str,
    fold: FoldFn,
    init: Callable[[], dict[str, Any]],
    state_ddl: str,
    **kw,
) -> DataFrame:
    """getById (src/sourcing.ts:197-219): partition-pruned single-key
    rehydrate — same fold, filtered scan."""
    return rehydrate_all(
        events.where(F.col(key_col) == F.lit(key)),
        key_col, ts_col, fold, init, state_ddl, **kw,
    )


def snapshot_states(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    fold: FoldFn,
    init: Callable[[], dict[str, Any]],
    state_ddl: str,
    *,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """A rehydrate_all snapshot plus ``last_ts`` (the max event time
    folded in) — the write-back artifact that makes the next load
    incremental instead of full-history."""
    states = rehydrate_all(
        events, key_col, ts_col, fold, init, state_ddl,
        tiebreak_col=tiebreak_col,
    )
    horizon = events.groupBy(key_col).agg(F.max(ts_col).alias("last_ts"))
    return states.join(horizon, key_col)


def rehydrate_incremental(
    events: DataFrame,
    snapshot: DataFrame,
    key_col: str,
    ts_col: str,
    fold: FoldFn,
    init: Callable[[], dict[str, Any]],
    state_fields: list[str],
    state_ddl: str,
    *,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Fold ONLY events newer than the snapshot horizon onto the
    snapshot state — O(new events), not O(history).

    The reference re-reads an aggregate's ENTIRE event history on
    every ``getById`` (src/sourcing.ts:197-219). With a snapshot
    table (``snapshot_states`` output: key, version, state columns,
    last_ts), each load touches the tail alone; keys with no new
    events pass through untouched; brand-new keys start from
    ``init()``. Equality with the full fold is pinned by
    tests/test_sourcing.py and the evt_fold_incremental oracle."""
    order_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    snap_cols = [key_col, "version", *state_fields, "last_ts"]
    snap = snapshot.select(*snap_cols)

    # events strictly after each key's horizon (all events for new
    # keys). NO broadcast hint: the snapshot is KEYSPACE-sized (one
    # row per aggregate — possibly billions), not a dimension; let
    # AQE pick broadcast only when stats show it's actually small.
    ev = events.join(
        snap.select(key_col, "last_ts"), key_col, "left"
    ).where(F.col("last_ts").isNull() | (F.col(ts_col) > F.col("last_ts")))

    # carry the snapshot state onto each new event row so the fold can
    # start from it (one value per key, repeated)
    renames = {f: f"_snap_{f}" for f in ["version", *state_fields]}
    snap_r = snap.select(
        key_col,
        *[F.col(f).alias(a) for f, a in renames.items()],
    )
    ev = ev.drop("last_ts").join(snap_r, key_col, "left")

    def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        first = pdf.iloc[0]
        if pd.notna(first["_snap_version"]):
            state = {f: first[f"_snap_{f}"] for f in state_fields}
            version = int(first["_snap_version"])
        else:
            state = init()
            version = 0
        for rec in pdf.to_dict("records"):
            state = fold(state, rec)
            version += 1
        state[key_col] = first[key_col]
        state["version"] = version
        return pd.DataFrame([state])

    changed = ev.groupBy(key_col).applyInPandas(fold_group, schema=state_ddl)
    untouched = snap.join(changed.select(key_col), key_col, "left_anti").select(
        key_col, "version", *state_fields
    )
    return changed.unionByName(untouched)


# A canonical non-associative fold used by the catalog query + tests:
# balance accumulates event values but RESETS on 'signup' events —
# not expressible as a plain windowed SUM (needs the fold), yet still
# SQL-checkable via the "sum since last signup" identity.
def fold_balance_with_reset(state: dict, event: dict) -> dict:
    if event["event_type"] == "signup":
        return {"balance": 0.0}
    return {"balance": state["balance"] + (event["value"] or 0.0)}


def init_balance() -> dict:
    return {"balance": 0.0}


def forget_key_in_snapshot(
    spark: "SparkSession", path: str, key_col: str, value
) -> int:
    """Right-to-erasure companion for snapshot tables: rewrite the
    snapshot parquet without the given key (snapshots hold the FOLDED
    per-subject state, so erasing the event history alone leaves a
    derived copy behind). Recovers a crashed swap first (``recover``).
    Returns rows removed."""
    recover(path)
    if not os.path.isdir(path):
        return 0
    return drop_rows(
        spark.read.parquet(path), path, F.col(key_col).eqNullSafe(F.lit(value))
    )
