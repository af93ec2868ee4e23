"""Benchmark entry point.

    python3 perfbench/run.py --workload broker_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One driver process, ``local[N]`` with N
the usable cores, and one client thread in a closed loop: every call
waits for the previous one to return.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics instead. The traced run turns
the Spark UI on (for its REST API) and alternates rounds with tracing
off and on: per-layer numbers come from the traced rounds, and
``trace.overhead_frac`` compares the two kinds. Per-layer metrics of a
layer the workload does not exercise read 0.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``failed`` counts
operations that raised or returned a wrong result, plus failed
end-of-run checks; ``correct`` is true only when it is 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

STEAL_LIMIT = 0.10
STEAL_RETRIES = 2

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import median, valid_metric_name  # noqa: E402


class Context:
    """What a workload needs from the runner, and its failure tally."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: str):
        from perfbench.trace import Tracer

        self.workload = workload
        self.root = ROOT
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer()
        self.spark = None
        self.rounds = 0  # timed rounds this run makes
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        """One operation attempted; ``ok`` says its result was right."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def expect_eq(self, got, want, what: str) -> None:
        """An end-of-run check; a mismatch counts as a failure."""
        if got != want:
            self.failed += 1
            self.errors.append(f"{what}: got {got}, want {want}")


def _forks() -> int:
    """Processes created since boot, the ``/proc/stat`` counter."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """Busy and steal ticks of all CPUs since boot (``/proc/stat``).
    Steal is time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _environment(work: str, traced: bool) -> None:
    """Keep every file the run writes inside ``work`` and size the
    session to the usable cores. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    conf = ["spark.ui.showConsoleProgress=false"]
    if traced:
        conf += ["spark.ui.enabled=true", "spark.ui.port=0",
                 "spark.ui.retainedJobs=1000000", "spark.ui.retainedStages=1000000"]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_EXTRA_CONF=";".join(conf),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(ctx: Context, declared: dict) -> dict:
    from perfbench.broker_mixed import BrokerMixed
    from perfbench.catalog_mixed import CatalogMixed

    workloads = {"broker_mixed": BrokerMixed, "catalog_mixed": CatalogMixed}
    from env_event_stream_spark.session import get_spark
    from pyspark import SparkContext

    tr = ctx.tracer
    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    jvm_pid = SparkContext._gateway.proc.pid
    if ctx.traced:
        tr.install(ctx.spark)
    # A fixed number of rounds per --seconds, not a deadline: how many
    # samples a run holds must not depend on how fast the host is today.
    # A traced run alternates untraced and traced rounds, starting and
    # ending untraced, so that warm-up left in the first round does not
    # count as tracing overhead.
    cls = workloads[ctx.workload]
    ctx.rounds = max(3 if ctx.traced else 1, ctx.seconds // cls.ROUND_S)
    wl = cls(ctx)
    t1 = time.perf_counter()
    wl.setup()
    warmup_s = time.perf_counter() - t1 - getattr(wl, "oracle_s", 0.0)

    rounds: list[tuple[bool, float, float]] = []  # (traced, op seconds, wall seconds)
    forks = retried = 0
    busy0, steal0 = _cpu_ticks()
    for i in range(ctx.rounds):
        traced = ctx.traced and i % 2 == 1
        # An untraced round during which the hypervisor took more than
        # STEAL_LIMIT of the CPU is run again (it replaces its earlier
        # attempt), at most STEAL_RETRIES times: the figure should
        # describe the program, not a neighbour's load.
        for attempt in range(1 if traced else 1 + STEAL_RETRIES):
            retried += attempt > 0
            f0 = _forks()
            b0, s0 = _cpu_ticks()
            w0 = time.perf_counter()
            tr.active = traced
            try:
                op_s = wl.round(i)
            finally:
                tr.active = False
            wall = time.perf_counter() - w0
            b1, s1 = _cpu_ticks()
            if s1 - s0 <= STEAL_LIMIT * max(b1 - b0 + s1 - s0, 1):
                break
        if traced:
            forks += _forks() - f0
        rounds.append((traced, op_s, wall))
    busy, steal = (b - a for a, b in zip((busy0, steal0), _cpu_ticks()))
    wl.finish()

    print(f"session.start_s {start_s:.3f} s, set-up after start {warmup_s:.3f} s")
    print("rounds " + " ".join(f"{'T' if r[0] else ''}{r[1]:.3f}s" for r in rounds)
          + f" ({retried} run again for steal)")
    for line in wl.report():
        print(line)
    print(f"os.steal_frac {steal / max(busy + steal, 1):.4f} (CPU time the hypervisor took)")
    if not ctx.traced:
        metrics = {"setup_s": start_s + warmup_s, **wl.end_to_end()}
    else:
        traced = [r for r in rounds if r[0]]
        untraced = [r for r in rounds if not r[0]]
        jobs = tr.jobs_by_span()
        stages = tr.stage_metrics()
        busy_ms = sum(stages.get(s, {}).get("run_ms", 0)
                      for s in tr.stages_of([j for js in jobs.values() for j in js]))
        cores = len(os.sched_getaffinity(0))
        from perfbench.trace import stream_metrics

        metrics = {name: 0.0 for name in declared}
        metrics.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.jvm_peak_rss_mb": _peak_rss_mb(jvm_pid),
            "spark.executor_busy_frac": busy_ms / (1000.0 * sum(r[2] for r in traced) * cores),
            "os.forks": forks / len(traced),
            "os.steal_frac": steal / max(busy + steal, 1),
            "trace.overhead_frac": median(r[1] for r in traced) / median(r[1] for r in untraced) - 1,
            **stream_metrics(tr),
            **wl.per_layer(jobs, stages, len(traced)),
        })
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tr.dump(os.path.join(traces, f"{ctx.workload}-seed{ctx.seed}.jsonl"))
    if set(metrics) != set(declared):
        raise KeyError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(declared)}")
    return {name: {"value": float(v), "unit": declared[name]} for name, v in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "env_event_stream_spark", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if args.trace else "end_to_end"]}
    bad = [n for n in declared if not valid_metric_name(n)]
    if bad:
        print(f"perfbench: bad metric names {bad}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, bool(args.trace))
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = run(ctx, declared)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            ctx.tracer.uninstall()
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    for e in ctx.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
