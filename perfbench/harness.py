"""Shared measurement loop: set-up repetitions, closed-loop ops, checks
and the metric summary every workload reports.

A workload subclasses ``Workload`` and supplies ``generate`` (write the
seeded inputs), ``register`` (load them into the session), ``op`` (one
timed client call) and ``check`` (verify one op's output, untimed). The
harness owns the clock: only ``op`` runs inside the timed region.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from counters import SPARK_METRICS, SparkCounters
from spans import Tracer

SETUP_REPS = 3
JVM_HEAP = "2g"  # fixed (-Xms = -Xmx): GC behaves alike from run to run
# the layers spans are attributed to; ``bench`` is the client's own time
LAYERS = ("bench", "plans", "operators", "core", "queries", "stores",
          "streaming", "telemetry")
EVENTS = ("Load", "Validate", "Clean", "Dedup", "Select", "Layout",
          "Rollup", "Merge", "Upsert")
# per-op figures, from spans (SPAN_FIGURES) or ``OpRecord.layer``; 0 where unused
LAYER_FIGURES = (
    "plans.run_s", "plans.overhead_s", "plans.stages",
    *(f"event.{e}_s" for e in EVENTS),
    "queries.build_s", "queries.plan_s", "queries.exec_s", "lookup.compile_s",
    "stores.write_s", "stores.upsert_s", "stores.bytes_written",
    "stores.files_written", "stores.write_amp",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.overhead_s",
    "telemetry.report_s", "cache.pins_left", "cache.persisted_rdds",
)
SETUP_FIGURES = ("session.start_s", "session.read_table_s", "dsl.build_dag_s")
PER_LAYER = (SETUP_FIGURES + LAYER_FIGURES + SPARK_METRICS + ("spark.busy_share",)
             + tuple(f"self.{layer}_s" for layer in LAYERS)
             + ("trace.overhead_s", "trace.ops", "error_rate"))
PER_LAYER_UNITS = {"plans.stages": "count", "stores.bytes_written": "bytes",
                   "stores.files_written": "count", "stores.write_amp": "ratio",
                   "cache.pins_left": "count", "cache.persisted_rdds": "count",
                   "spark.jobs": "count", "spark.stages": "count",
                   "spark.tasks": "count", "spark.failed_tasks": "count",
                   "spark.shuffle_write_bytes": "bytes",
                   "spark.shuffle_read_bytes": "bytes", "spark.input_bytes": "bytes",
                   "spark.input_rows": "rows",
                   "spark.spill_bytes": "bytes", "spark.busy_share": "ratio",
                   "trace.ops": "count", "error_rate": "ratio"}


@dataclass
class Context:
    work: str  # scratch directory inside the checkout, removed at exit
    seed: int
    seconds: float
    tracer: Tracer
    tiny: bool = False  # self-check sizes
    inject: str = "none"  # self-check fault: "wrong" output or failed "stage"
    spark: object = None


@dataclass
class OpRecord:
    latency: float
    rows: int
    traced: bool
    failures: list[str] = field(default_factory=list)
    spark: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)


def start_session(ctx: Context) -> None:
    """Stop the previous session and build a fresh one through the
    engine's session factory."""
    from event_pipeline_spark.session import get_session

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    with ctx.tracer.span("session.start", "session"):
        local = os.path.join(ctx.work, "spark-local")
        ctx.spark = get_session(
            "perfbench",
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
                "spark.hadoop.hadoop.tmp.dir": os.path.join(ctx.work, "hadoop"),
                "spark.driver.memory": JVM_HEAP,
                "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    ctx.spark.sparkContext.setLogLevel("ERROR")


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every data file under path."""
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(base, f)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) created or rewritten between two ``dir_files``."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return sum(size for size, _ in new), len(new)


def cache_counts(spark) -> dict[str, float]:
    from event_pipeline_spark.cache import pinned_count

    return {"cache.pins_left": float(pinned_count()),
            "cache.persisted_rdds": float(spark.sparkContext._jsc.getPersistentRDDs().size())}


def run_failures(run) -> list[str]:
    """Failures from the run's stage records, never from its final state:
    an unconditional node follows ``on_success`` whatever its outcome."""
    out = []
    for rec in run.records:
        if rec.errors or not rec.success:
            out.append(f"{'||'.join(rec.events)}: {'; '.join(rec.errors) or 'failed'}")
    return out


class Workload:
    """Base for the closed-loop workloads (one client, next op sent
    after the previous one completes)."""

    #: op index at which a full pass over the workload's op list ends;
    #: the loop always finishes a pass once started (None: any op)
    pass_len: int | None = None
    #: full passes run after the first op and before the timed ops, so
    #: a timed op finds its generated code compiled and the JIT warm;
    #: checked but not timed
    warmup_passes = 0

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.inputs: dict = {}
        self.busy = 0.0  # wall time throughput divides by, when not the op sum
        self.warm: list[OpRecord] = []
        self.first_timed = 1  # op index of ``measure``'s first timed op

    # -- hooks -----------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def register(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> OpRecord:
        raise NotImplementedError

    def check(self, i: int, rec: OpRecord) -> None:
        """Append to ``rec.failures`` when op ``i``'s output is wrong."""

    def finish(self, records: list[OpRecord]) -> None:
        """Checks over the whole run (after the last op)."""

    # -- measurement loop -------------------------------------------------
    def setup(self) -> list[float]:
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            start_session(self.ctx)
            with self.ctx.tracer.span("gen", "bench"):
                self.generate()
            self.register()
            times.append(time.perf_counter() - t0)
        self.counters = SparkCounters(self.ctx.spark)
        return times

    def timed(self, i: int) -> OpRecord:
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        raised = None
        try:
            with tracer.span("op", "bench", op=i):
                rec = self.op(i)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            raised = f"{type(exc).__name__}: {exc}"
            rec = OpRecord(latency=0.0, rows=0, traced=False, failures=[raised])
        rec.latency = time.perf_counter() - t0
        rec.traced = tracer.enabled
        rec.spark = self.counters.delta()
        if rec.spark["spark.failed_tasks"]:
            rec.failures.append(f"{int(rec.spark['spark.failed_tasks'])} failed Spark tasks")
        if raised is None:
            self.check(i, rec)
        return rec

    def measure(self, trace: bool) -> tuple[OpRecord, list[OpRecord]]:
        """The first op, ``warmup_passes`` untraced passes (kept in
        ``self.warm``), then ops until ``seconds`` of op time have run
        (finishing the current pass). In the traced run, tracing is on
        for alternate passes so the untraced ones give the overhead."""
        tracer = self.ctx.tracer
        first = self.timed(0)
        tracer.enabled = False
        start = 1 + self.warmup_passes * (self.pass_len or 1)
        self.warm = [self.timed(i) for i in range(1, start)]
        self.first_timed = i = start
        ops: list[OpRecord] = []
        spent = 0.0
        while True:
            pass_no = (i - start) // (self.pass_len or 1)
            tracer.enabled = trace and pass_no % 2 == 0
            rec = self.timed(i)
            ops.append(rec)
            spent += rec.latency
            i += 1
            at_pass_end = self.pass_len is None or (i - start) % self.pass_len == 0
            if spent >= self.ctx.seconds and at_pass_end and (
                    not trace or pass_no % 2 == 1):
                break
        tracer.enabled = trace
        self.finish(ops)
        return first, ops


SPAN_FIGURES = {"plans.run": "plans.run_s", "queries.build": "queries.build_s",
                "queries.plan": "queries.plan_s", "queries.exec": "queries.exec_s",
                "lookup.compile": "lookup.compile_s", "stores.write": "stores.write_s",
                "stores.upsert": "stores.upsert_s", "telemetry.report": "telemetry.report_s",
                **{f"event.{e}": f"event.{e}_s" for e in EVENTS}}


def end_to_end(setup: list[float], first: OpRecord, ops: list[OpRecord],
               peak_rss_mb: float, busy: float = 0.0,
               warm: list[OpRecord] = ()) -> dict[str, float]:
    """``busy`` is the measured wall time throughput divides by; by
    default the summed op latencies. ``warm`` ops count only toward
    ``success_rate``."""
    timed = [r for r in ops if not r.traced] or ops
    lat = [r.latency for r in timed]
    busy = busy or sum(lat)
    everything = [first, *warm, *ops]
    failed = sum(1 for r in everything if r.failures)
    return {
        "setup_s": statistics.median(setup),
        "first_op_s": first.latency,
        "op_p50_s": statistics.median(lat),
        "op_p90_s": quantile(lat, 0.9),
        "ops_per_s": len(lat) / busy,
        "rows_per_s": sum(r.rows for r in timed) / busy,
        "success_rate": 1.0 - failed / len(everything),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(tracer: Tracer, first: OpRecord, ops: list[OpRecord],
              cores: int, op_ids: list[int],
              warm: list[OpRecord] = ()) -> dict[str, float]:
    """Per-op means over the traced ops; set-up figures per set-up.
    ``warm`` ops count only toward ``error_rate``."""
    traced = [(i, r) for i, r in zip(op_ids, ops) if r.traced]
    n = max(len(traced), 1)
    out = dict.fromkeys(PER_LAYER, 0.0)
    for (op, span), total in tracer.by_name().items():
        if op is None and span.startswith(("session.", "dsl.")):
            out[f"{span}_s"] += total / SETUP_REPS
    ids = {i for i, _ in traced}
    by_name = tracer.by_name(set(SPAN_FIGURES))
    for (op, span), total in by_name.items():
        if op in ids:
            out[SPAN_FIGURES[span]] += total / n
    events = sum(out[f"event.{e}_s"] for e in EVENTS)
    for _, r in traced:
        for k, v in {**r.layer, **r.spark}.items():
            if k in out:
                out[k] += v / n
    if out["plans.run_s"]:
        out["plans.overhead_s"] = out["plans.run_s"] - events
    lat = sum(r.latency for _, r in traced)
    out["spark.busy_share"] = (out["spark.run_s"] * n / (lat * cores)) if lat else 0.0
    for (op, layer), t in tracer.self_times().items():
        if op in ids and layer in LAYERS:
            out[f"self.{layer}_s"] += t / n
    untraced = [r.latency for r in ops if not r.traced]
    if traced and untraced:
        out["trace.overhead_s"] = (statistics.median(r.latency for _, r in traced)
                                   - statistics.median(untraced))
    out["trace.ops"] = float(len(traced))
    everything = [first, *warm, *ops]
    out["error_rate"] = sum(1 for r in everything if r.failures) / len(everything)
    return out
