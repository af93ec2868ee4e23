"""``broker_mixed``: the reference's own API on a ``ParquetEventStore``.

One client in a closed loop: each call waits for the previous one.
Every round runs a fixed mix against one store, so a store change that
speeds writes up at the cost of reads (or the other way round) shows:

- 20 single ``publish`` calls to the schema-validated ``orders`` topic:
  13 valid orders, 4 ``refund`` events that an always-failing
  subscription dead-letters, 3 invalid payloads the registry rejects.
  The seed picks which positions get which kind, and the payloads.
- one 1,000-event ``publish_many`` to ``clicks`` (the reference README's
  recommended batch), then the catch-up of a paused
  ``subscribe_streaming`` subscription that delivers it.
- one filtered ``replay_events`` over the preloaded ``history`` topic:
  seeded time window, type IN-list and limit.
- one ``retry_dlq_event`` of a refund dead-lettered in this round.
- one ``apply_retention`` of ``orders``, whose ``max_events`` is below
  the topic's size, so every sweep rewrites.

Every outcome is checked against the generator's own arithmetic.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import glob
import os
import random
import time
from statistics import mean

import numpy as np

from perfbench.stats import median, percentile, seeded_positions, tail_level

HISTORY_ROWS = 1_000_000
HISTORY_T0 = _dt.datetime(2024, 1, 1)
TYPES = ("view", "click", "purchase", "signup", "error")
PUBLISHES = 20
KINDS = {"refund": 4, "invalid": 3}  # the rest are plain orders
BATCH = 1000
MAX_EVENTS = 10
MAX_RETRIES = 3

ORDER_SCHEMA = {
    "type": "object",
    "required": ["order_id", "amount", "sku"],
    "properties": {
        "order_id": {"type": "integer"},
        "amount": {"type": "number"},
        "sku": {"type": "string"},
    },
}


def history_type_index(i: np.ndarray, seed: int) -> np.ndarray:
    """Type of history row ``i``: the same closed form the preload
    writes in Spark, so replay counts can be checked in numpy."""
    return (i * 7 + seed % len(TYPES)) % len(TYPES)


class Inputs:
    """Everything the seed decides, drawn up front so that the same
    seed always gives the same inputs."""

    def __init__(self, seed: int, rounds: int):
        rng = random.Random(seed)
        self.seed = seed
        self.rounds = []
        for r in range(rounds):
            kinds = seeded_positions(rng, PUBLISHES, KINDS)
            pubs = []
            for k, kind in enumerate(kinds):
                oid = r * 1000 + k
                payload = {"order_id": oid, "amount": round(rng.uniform(1, 500), 2),
                           "sku": f"sku-{rng.randrange(10_000)}"}
                if kind == "invalid":
                    bad = rng.choice(("missing", "type"))
                    if bad == "missing":
                        del payload["amount"]
                    else:
                        payload["amount"] = str(payload["amount"])
                    pubs.append(("invalid", rng.choice(("order", "refund")), payload))
                else:
                    pubs.append((kind, "refund" if kind == "refund" else "order", payload))
            batch = [(rng.choice(TYPES), {"i": r * BATCH + j, "v": rng.randrange(100)}, None)
                     for j in range(BATCH)]
            width = rng.randrange(20_000, 200_000)
            lo = rng.randrange(0, HISTORY_ROWS - width)
            replay = {"lo": lo, "hi": lo + width,
                      "types": sorted(rng.sample(TYPES, 2)),
                      "limit": rng.randrange(200, 800)}
            self.rounds.append({"pubs": pubs, "batch": batch, "replay": replay,
                                "redrive": rng.randrange(KINDS["refund"])})

    def replay_expected(self, rp: dict) -> int:
        i = np.arange(rp["lo"], rp["hi"] + 1)
        want = [TYPES.index(t) for t in rp["types"]]
        n = int(np.isin(history_type_index(i, self.seed), want).sum())
        return min(n, rp["limit"])


def _ts(i: int) -> _dt.datetime:
    return HISTORY_T0 + _dt.timedelta(seconds=i)


class BrokerMixed:
    ROUND_S = 10  # nominal seconds per round on 4 cores: --seconds // ROUND_S rounds

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = Inputs(ctx.seed, rounds=ctx.rounds)
        # untraced rounds by index: seconds per call of each kind, and the
        # round's total; a round run again replaces its earlier attempt
        self.timed: dict[int, dict[str, list[float]]] = {}
        self.audit_seen = 0
        self.refund_calls = 0
        self.stream_rows = 0
        self.expect = {"valid": 0, "refund": 0, "invalid": 0, "batch": 0, "redrive": 0}
        self.rejected = 0
        self.orders_rows = 0  # rows stored in the orders topic
        self.retention = []  # (kept, deleted) per traced sweep

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from env_event_stream_spark.schema_registry import SchemaRegistry
        from env_event_stream_spark.streaming.broker import EventBroker, SubscriptionOptions

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        self.broker = b = EventBroker(spark, os.path.join(ctx.work, "broker"))
        if ctx.traced:
            from perfbench.trace import Timed

            b.store = Timed(b.store, "storage.event_store",
                            ("save_event", "save_events", "get_events", "delete_events"), tr)
            b.dlq = Timed(b.dlq, "storage.dlq_store", ("add_event", "retry_event"), tr)

        i = F.col("id")
        types = F.array(*[F.lit(t) for t in TYPES])
        history = spark.range(HISTORY_ROWS).select(
            F.concat(F.lit("h-"), i.cast("string")).alias("id"),
            F.element_at(types, ((i * 7 + ctx.seed % len(TYPES)) % len(TYPES) + 1).cast("int"))
            .alias("type"),
            F.lit("history").alias("topic"),
            # the literal goes through the same Python->Spark conversion
            # as the replay bounds, so both sides agree in any local zone
            (F.lit(HISTORY_T0).cast("long") + i).cast("timestamp").alias("timestamp"),
            F.lit("1.0").alias("schemaVersion"),
            F.to_json(F.struct((i % 997).alias("v"))).alias("payload"),
            F.create_map().cast("map<string,string>").alias("metadata"),
        )
        n = b.store.save_events(history)
        ctx.expect_eq(n, HISTORY_ROWS, "history preload rows")

        reg = SchemaRegistry()
        reg.register("order", ORDER_SCHEMA)
        reg.register("refund", ORDER_SCHEMA)
        b.create_topic("orders", registry=reg, max_events=MAX_EVENTS)
        b.create_topic("clicks")

        def audit(row):
            with tr.span("handler.audit"):
                self.audit_seen += 1

        def refunds(row):
            with tr.span("handler.refund"):
                self.refund_calls += 1
                raise RuntimeError("refund service unavailable")

        def stream(df, epoch):
            # runs on the stream's thread: its jobs already carry the
            # stream's runId as job group, which the tracer maps back
            with tr.span("handler.stream"):
                self.stream_rows += df.count()

        b.subscribe("orders", audit, SubscriptionOptions(name="audit"))
        b.subscribe("orders", refunds, SubscriptionOptions(
            name="refunds", event_types=["refund"], max_retries=MAX_RETRIES, retry_delay=0))
        self.sid = b.subscribe_streaming(
            "clicks", stream, SubscriptionOptions(name="clicks_stream"),
            checkpoint=os.path.join(ctx.work, "clicks_ckpt"))
        b.subscriptions[self.sid].query.awaitTermination()
        b.pause(self.sid)

        # warm-up: one of each operation, untimed, with the same checks
        warm = Inputs(ctx.seed + 1_000_003, rounds=1).rounds[0]
        warm["pubs"] = [next(p for p in warm["pubs"] if p[0] == k)
                        for k in ("default", "refund", "invalid")]
        warm["redrive"] = 0
        self._cur = None
        self.run_round(warm)

    # -- one round ---------------------------------------------------------

    @contextlib.contextmanager
    def _op(self, name: str, **attrs):
        """Time one broker call; its span runs under its own job group."""
        with self.ctx.tracer.span(f"streaming.broker.{name}", group=True, **attrs):
            t0 = time.perf_counter()
            yield
            dt = time.perf_counter() - t0
        self._op_s += dt
        if self._cur is not None:
            self._cur.setdefault(name, []).append(dt)

    def round(self, i: int) -> float:
        # untraced rounds only: traced rounds feed the per-layer metrics
        self._cur = None if self.ctx.tracer.active else {}
        op_s = self.run_round(self.inputs.rounds[i])
        if self._cur is not None:
            self._cur["round"] = [op_s]
            self.timed[i] = self._cur
        return op_s

    def run_round(self, inp: dict) -> float:
        """One round of the mix; returns the seconds spent in broker
        calls, which leaves out the benchmark's own checks."""
        ctx, b = self.ctx, self.broker
        self._op_s = 0.0
        refund_ids = []
        for kind, etype, payload in inp["pubs"]:
            with self._op("publish", kind=kind):
                res = b.publish("orders", etype, payload)
            if kind == "invalid":
                self.rejected += not res.success
                self.expect["invalid"] += 1
                ctx.op(not res.success and res.receiver_count == 0, f"invalid {payload} accepted")
                continue
            self.expect["valid"] += 1
            self.orders_rows += 1
            self.expect["refund"] += kind == "refund"
            ctx.op(res.success and res.receiver_count == (2 if kind == "refund" else 1),
                   f"publish {kind}: {res}")
            if kind == "refund":
                refund_ids.append(res.event_id)

        with self._op("publish_many"):
            n = b.publish_many("clicks", inp["batch"])
        self.expect["batch"] += len(inp["batch"])
        ctx.op(n == len(inp["batch"]), "publish_many count")
        # catch-up: from the return of publish_many to the end of the
        # availableNow run that delivers the batch
        with self._op("catchup"):
            b.resume(self.sid)
            b.subscriptions[self.sid].query.awaitTermination()
        b.pause(self.sid)
        ctx.op(self.stream_rows == self.expect["batch"],
               f"stream saw {self.stream_rows} of {self.expect['batch']} rows")

        rp = inp["replay"]
        lo, hi = _ts(rp["lo"]), _ts(rp["hi"])
        seen = []
        with self._op("replay"):
            got = b.replay_events("history", lambda row: seen.append((row.type, row.timestamp)),
                                  from_ts=lo, to_ts=hi, event_types=rp["types"],
                                  limit=rp["limit"])
        ctx.op(got == self.inputs.replay_expected(rp) == len(seen)
               and all(t in rp["types"] and lo <= ts <= hi for t, ts in seen),
               f"replay {rp}: {got} rows")

        with self._op("redrive"):
            ok = b.retry_dlq_event(refund_ids[inp["redrive"]])
        # the refund subscription still fails, so the redrive is a
        # recorded hard failure: False, and the entry stays queued
        self.expect["redrive"] += 1
        ctx.op(ok is False, "redrive of an always-failing subscription returned True")

        with self._op("retention"):
            deleted = b.apply_retention("orders")
        self.check_retention(deleted)
        return self._op_s

    def check_retention(self, deleted: int) -> None:
        """After a sweep every row is either kept or deleted, at least
        ``max_events`` rows (or all, if fewer) are kept, and none is
        older than the newest ``max_events``-th row. Rows tied with
        that cut-off survive too (the store cuts on timestamp only);
        they are counted, not hidden."""
        with self.ctx.tracer.off():
            rows = self.broker.store.get_events("orders").select("timestamp").collect()
        ts = sorted((r.timestamp for r in rows), reverse=True)
        kept = len(ts)
        ok = kept + deleted == self.orders_rows and kept >= min(self.orders_rows, MAX_EVENTS)
        if ok and kept > MAX_EVENTS:
            ok = all(t == ts[MAX_EVENTS - 1] for t in ts[MAX_EVENTS:])
        self.ctx.op(ok, f"retention of {self.orders_rows} rows kept {kept}, deleted {deleted}")
        if self.ctx.tracer.active:
            self.retention.append((kept, deleted))
        self.orders_rows = kept

    # -- end-of-run checks -------------------------------------------------

    def finish(self) -> None:
        ctx, b = self.ctx, self.broker
        e = self.expect
        ctx.expect_eq(self.rejected, e["invalid"], "schema rejections")
        ctx.expect_eq(self.audit_seen, e["valid"], "audit receiver calls")
        # each redrive calls the still-failing handler once more
        ctx.expect_eq(self.refund_calls, e["refund"] * MAX_RETRIES + e["redrive"],
                      "refund handler attempts")
        with ctx.tracer.off():
            dlq = b.dlq.get_events(topic="orders").count()
        ctx.expect_eq(dlq, e["refund"], "DLQ entries")
        ctx.expect_eq(self.stream_rows, e["batch"], "streamed rows")

    def per_layer(self, jobs: dict[int, list[int]], stages: dict, rounds: int) -> dict[str, float]:
        """Per-layer metrics from the spans of the traced rounds."""
        tr = self.ctx.tracer
        sp = tr.spans

        def named(name, parent=None):
            return [i for i, s in enumerate(sp)
                    if s.name == name and (parent is None or (
                        s.parent is not None and sp[s.parent].name == parent))]

        def ms(ids):
            return median(1000 * (sp[i].end - sp[i].start) for i in ids)

        def n_jobs(i):
            return sum(len(jobs.get(d, ())) for d in tr.descendants(i))

        pubs = named("streaming.broker.publish")
        saves = named("storage.event_store.save_event") + named("storage.event_store.save_events")
        events_dir = os.path.join(self.ctx.work, "broker", "events")
        files = glob.glob(os.path.join(events_dir, "**", "*.parquet"), recursive=True)
        rows = HISTORY_ROWS + self.expect["batch"] + self.orders_rows
        kept = sum(k for k, _ in self.retention)
        deleted = sum(d for _, d in self.retention)
        return {
            "streaming.broker.publish.self_ms": median(tr.self_ms(i) for i in pubs),
            "streaming.broker.publish.py4j_rt": mean(sp[i].rt for i in pubs),
            "streaming.broker.publish.spark_jobs": mean(n_jobs(i) for i in pubs),
            # live delivery only: a redrive calls the handler once more
            "streaming.broker.deliver.attempts_per_dlq_entry":
                len(named("handler.refund", "streaming.broker.publish"))
                / len(named("storage.dlq_store.add_event")),
            "schema_registry.rejected": self.rejected,
            "storage.event_store.save_events.single_ms": ms(named("storage.event_store.save_event")),
            "storage.event_store.save_events.batch_ms": ms(named("storage.event_store.save_events")),
            "storage.event_store.save_events.jobs": mean(n_jobs(i) for i in saves),
            "storage.event_store.files": len(files),
            "storage.event_store.bytes_per_event": sum(map(os.path.getsize, files)) / rows,
            "storage.event_store.get_events_ms":
                ms(named("storage.event_store.get_events", "streaming.broker.replay")),
            "storage.event_store.delete_events_ms": ms(named("storage.event_store.delete_events")),
            "storage.event_store.rows_rewritten_per_deleted": kept / deleted,
            "storage.event_store.retention_excess_rows": kept - MAX_EVENTS * len(self.retention),
            "storage.dlq_store.add_event_ms": ms(named("storage.dlq_store.add_event")),
            "storage.dlq_store.retry_event_ms": ms(named("storage.dlq_store.retry_event")),
        }

    def end_to_end(self) -> dict[str, float]:
        """``round_s``: median seconds in broker calls per round;
        ``op_ms``: median single publish."""
        return {"round_s": median(self.samples("round")),
                "op_ms": 1000 * percentile(self.samples("publish"), 50)}

    def samples(self, kind: str) -> list[float]:
        return [x for r in self.timed.values() for x in r.get(kind, ())]

    def report(self) -> list[str]:
        """The broker's own latencies, as lines before the result."""
        pub = self.samples("publish")
        lines = [f"publish_p50_ms {1000 * percentile(pub, 50):.2f} ms (n={len(pub)})"]
        q = tail_level(len(pub))
        if q is not None and q > 50:
            lines.append(f"publish_p{q:g}_ms {1000 * percentile(pub, q):.2f} ms (n={len(pub)})")
        eps = [BATCH / s for s in self.samples("publish_many")]
        lines.append(f"publish_batch_eps {percentile(eps, 50):.1f} 1/s (n={len(eps)})")
        for k, label in (("replay", "replay_p50_ms"), ("catchup", "stream_catchup_p50_ms"),
                         ("redrive", "redrive_p50_ms"), ("retention", "retention_p50_ms")):
            v = self.samples(k)
            lines.append(f"{label} {1000 * percentile(v, 50):.2f} ms (n={len(v)})")
        return lines
