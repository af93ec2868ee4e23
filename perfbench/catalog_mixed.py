"""``catalog_mixed``: catalog callables from ``__spark_entry__.queries()``.

Two kinds of query share each pass:

- iterative: bound by driver loops and streaming orchestration (many
  small eager jobs before the final action). A cut in per-round jobs
  moves these.
- single-pass: one action over relational, event, text and ANN inputs,
  where executor scan and shuffle dominate. The prediction for them
  under a loop-structure change is no change.

Together they cover every catalog module. The inputs are a copy of the
repository's fixed sf0.01 test tables in ``perfbench/data``; the seed
permutes the query order of every pass. Each query is timed to the end
of a full ``count()``, with ``clearCache()`` between queries.

Set-up runs every query once, untimed for the rounds, and compares its
rows with the DuckDB oracle (the multiset comparison of
``tools/check.py``); the timed passes check row counts against it.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time


# At least one query per catalog module, the cheapest of each module's
# single-pass ones, so that a cold pass plus two timed passes fit one
# run; the iterative ones are the loop families the roadmap targets.
ITERATIVE = (
    "graph_label_propagation",
    "er_threshold_sensitivity",
    "evt_stream_interval_join",
)
SINGLE_PASS = (
    "evt_replay",
    "tpch_q18_large_orders",
    "doc_dedup_exact",
    "emb_knn_ivf",
    "doc_bm25_topk",
    "evt_cep_pattern",
    "mm_decode_features",
)
MODULES = (
    "queries", "tpch_queries", "llm_queries", "ann_queries", "advanced_queries",
    "analytics_queries", "streaming_queries", "cep_queries", "multimodal_queries",
    "retrieval_queries",
)
STREAM_TMP_GLOBS = ("*_ckpt_*", "*_sink_*")
SHORT_REPEATS = 3


def module_of(fn) -> str:
    """Catalog module that defines a registered query. The registry
    wraps each function, so look through the wrapper's closure."""
    inner = [c.cell_contents for c in (fn.__closure__ or ()) if callable(c.cell_contents)]
    mod = (inner[0] if inner else fn).__module__
    return mod.rsplit(".", 1)[-1]


def pass_order(seed: int, passes: int) -> list[list[str]]:
    rng = random.Random(seed)
    names = list(ITERATIVE + SINGLE_PASS)
    out = []
    for _ in range(passes):
        rng.shuffle(names)
        out.append(list(names))
    return out


class CatalogMixed:
    ROUND_S = 15  # nominal seconds per pass on 4 cores: --seconds // ROUND_S passes

    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.data = os.path.join(ctx.root, "perfbench", "data")
        qs = entry.queries()
        self.fns = {n: qs[n] for n in ITERATIVE + SINGLE_PASS}
        self.module = {n: module_of(f) for n, f in self.fns.items()}
        self.orders = pass_order(ctx.seed, passes=ctx.rounds + 1)  # set-up pass first
        self.rows: dict[str, int] = {}
        self.leaked = 0
        self.cold_s: dict[str, float] = {}
        # untraced passes by index: each query's best time and its kind;
        # a pass run again replaces its earlier attempt
        self.timed: dict[int, dict[str, tuple[float, str]]] = {}

    def setup(self) -> None:
        """Run every query once (cold) and compare with its oracle."""
        import duckdb

        from env_event_stream_spark.catalog import ORACLES
        from env_event_stream_spark.tables import TABLE_NAMES
        from tools.check import rowset

        ctx, spark = self.ctx, self.ctx.spark
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.data
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.oracle_s = 0.0
        for name in self.orders[0]:
            t0 = time.perf_counter()
            df = self.fns[name](spark, self.data)
            srows = df.collect()
            self.cold_s[name] = time.perf_counter() - t0
            spark.catalog.clearCache()
            self.rows[name] = len(srows)
            t0 = time.perf_counter()
            sql = ORACLES[name]
            res = con.execute(sql() if callable(sql) else sql)
            dcols = [d[0] for d in res.description]
            ok = rowset([tuple(r) for r in srows], df.columns,
                        [t == "timestamp" for _, t in df.dtypes]) == rowset(res.fetchall(), dcols)
            ctx.op(ok and len(srows) > 0, f"{name}: rows differ from the DuckDB oracle")
            self.oracle_s += time.perf_counter() - t0
        con.close()

    def run_query(self, name: str, kind: str) -> float:
        """One execution, construction to the end of a full ``count()``."""
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        with tr.span(f"catalog.{name}", group=True, module=self.module[name], kind=kind):
            t0 = time.perf_counter()
            with tr.span("construct"):
                df = self.fns[name](spark, self.data)
            with tr.span("action"):
                n = df.count()
            dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        ctx.op(n == self.rows[name], f"{name}: {n} rows, set-up saw {self.rows[name]}")
        return dt

    def round(self, i: int) -> float:
        """One pass in seeded order; returns the seconds spent in the
        queries (each query's best execution), which leaves out
        ``clearCache`` and the checks. Single-pass queries are short, so
        they run SHORT_REPEATS times in a row and keep their best: one
        sample of a sub-second query is as noisy as the host. Traced
        passes trace the first execution only, so per-layer figures
        stay one execution of each query per pass."""
        tr = self.ctx.tracer
        best_of: dict[str, tuple[float, str]] = {}
        for name in self.orders[i + 1]:
            kind = "iterative" if name in ITERATIVE else "single_pass"
            best = self.run_query(name, kind)
            for _ in range(SHORT_REPEATS - 1 if kind == "single_pass" else 0):
                with tr.off():
                    best = min(best, self.run_query(name, kind))
            best_of[name] = (best, kind)
        if not tr.active:
            self.timed[i] = best_of
        return sum(t for t, _ in best_of.values())

    def finish(self) -> None:
        """Count the stream queries' leftover checkpoint and sink temp
        dirs, then delete them so later runs do not drift. The run's
        temp dir is private to it, so everything found was made here."""
        tmp = os.environ["TMPDIR"]
        found = sorted({p for g in STREAM_TMP_GLOBS for p in glob.glob(os.path.join(tmp, g))})
        self.leaked = len(found)
        for p in found:
            shutil.rmtree(p, ignore_errors=True)

    def per_layer(self, jobs: dict[int, list[int]], stages: dict, rounds: int) -> dict[str, float]:
        """Per-module sums over the traced passes, divided by their
        number: one pass's worth of each layer."""
        tr = self.ctx.tracer
        out = {f"{m}.{k}": 0.0 for m in MODULES
               for k in ("construct_s", "action_s", "py4j_rt", "jobs", "tasks",
                         "executor_cpu_ms", "shuffle_bytes")}
        class_s = {"iterative": 0.0, "single_pass": 0.0}
        for i, s in enumerate(tr.spans):
            if s.parent is not None or not s.name.startswith("catalog."):
                continue
            m = s.attrs["module"]
            class_s[s.attrs["kind"]] += s.end - s.start
            for c in tr.children(i):
                out[f"{m}.{c.name}_s"] += c.end - c.start
            out[f"{m}.py4j_rt"] += s.rt
            job_ids = jobs.get(i, [])
            out[f"{m}.jobs"] += len(job_ids)
            for sid in tr.stages_of(job_ids):
                st = stages.get(sid, {})
                out[f"{m}.tasks"] += st.get("tasks", 0)
                out[f"{m}.executor_cpu_ms"] += st.get("cpu_ms", 0.0)
                out[f"{m}.shuffle_bytes"] += st.get("shuffle_bytes", 0)
        out = {k: v / rounds for k, v in out.items()}
        out["catalog.iterative_s"] = class_s["iterative"] / rounds
        out["catalog.single_pass_s"] = class_s["single_pass"] / rounds
        out["streaming_queries.leaked_tmpdirs"] = self.leaked
        return out

    def end_to_end(self) -> dict[str, float]:
        """Min-of-passes per query, the repository's rule for wall time.
        ``round_s`` is the suite time, the sum over queries, which the
        long iterative queries dominate; ``op_ms`` is the geometric mean
        query, in which every query weighs the same. Ten queries are too
        few samples for a percentile with ten beyond it."""
        best = self.best().values()
        return {"round_s": sum(best), "op_ms": 1000 * statistics.geometric_mean(best)}

    def best(self, kind: str | None = None) -> dict[str, float]:
        """Each query's best time over the untraced passes."""
        out: dict[str, float] = {}
        for p in self.timed.values():
            for name, (t, k) in p.items():
                if kind in (None, k):
                    out[name] = min(t, out.get(name, t))
        return out

    def report(self) -> list[str]:
        lines = ["cold " + " ".join(f"{n}={t:.2f}s" for n, t in self.cold_s.items())
                 + f" oracle={self.oracle_s:.2f}s",
                 "warm (best pass) " + " ".join(f"{n}={t:.2f}s" for n, t in self.best().items())]
        for k in ("iterative", "single_pass"):
            lines.append(f"suite_s.{k} {sum(self.best(k).values()):.3f} s")
        return lines
