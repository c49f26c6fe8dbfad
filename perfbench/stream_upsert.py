"""``stream_upsert``: a streaming DAG that upserts per-user rollups.

``StreamingPipeline`` drains a backlog of parquet event files with
``availableNow`` and one file per trigger; every micro-batch runs
``Rollup |-> Merge |-> Upsert``. Rollup is the engine's ``rollup``
operator (per user and month: count, cents summed, first and last ts);
Merge reads the stored rows of the touched users and folds
them in with ``merge_rollup``; Upsert is ``upsert_table`` into a store
partitioned by ``user_id % 8``. The backlog arrives in rounds of
fourteen files; each round restarts the query on the same
checkpoint, the way a scheduled incremental job runs. A traced round
ends with the telemetry report over its run ledgers (untimed).

One op is one micro-batch, timed by Spark's own trigger duration.
Throughput counts the whole round: query start and drain.

Checked: no batch's stage records failed, no Spark task failed, each
traced round's telemetry report shows three stages per batch and none
failed, and the final store equals a DuckDB ``GROUP BY`` over every
input file.
"""

from __future__ import annotations

import os
import time

import gen
from harness import (
    OpRecord,
    Workload,
    cache_counts,
    dir_files,
    fresh_dir,
    run_failures,
    written_since,
)

POINTY = "Rollup |-> Merge |-> Upsert"
USERS = 1500
SHARDS = 8
# (events per file, files per round, rounds in the backlog); the second
# row is the self-check's
SIZES = {False: (500, 14, 3), True: (100, 3, 2)}
#: rollup width: the events span one month, so the store keeps one row
#: per user and Merge reads a store of constant size
WIDTH = "month"
SCHEMA = ("event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
          "value double, props string")
AGGS = [("cents", "count", "n"), ("cents", "sum", "value_cents"),
        ("ts", "min", "first_ts"), ("ts", "max", "last_ts")]
KEYS = ["bucket", "user_id"]
ORACLE = f"""
    SELECT date_trunc('month', ts) AS bucket, user_id,
           CAST(user_id % {SHARDS} AS INTEGER) AS shard, COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           strftime(date_trunc('month', ts), '%Y-%m') || '|' || user_id AS id
    FROM read_parquet('{{files}}') GROUP BY ALL"""


def define_events(tracer, inject: str) -> None:
    """Register the three events (resolved by name when the DAG runs)."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.core.events import event
    from event_pipeline_spark.operators.rollup import merge_rollup, rollup
    from event_pipeline_spark.stores import ParquetTableStore
    from event_pipeline_spark.stores.base import ObjectDoesNotExist

    def keyed(df):
        return (df.withColumn("id", F.concat_ws("|", F.date_format("bucket", "yyyy-MM"),
                                                "user_id"))
                .withColumn("shard", (F.col("user_id") % SHARDS).cast("int")))

    @event(name="Rollup")
    def rollup_event(batch_df, batch_id):
        with tracer.span("event.Rollup", "operators"):
            if inject == "wrong" and batch_id == 1:
                batch_df = batch_df.where(F.col("event_id") % 2 == 0)
            cents = batch_df.withColumn("cents", F.round(F.col("value") * 100).cast("long"))
            return True, rollup(cents, "ts", WIDTH, AGGS, keys=["user_id"])

    @event(name="Merge")
    def merge_event(spark, previous_result, store_root, batch_id):
        with tracer.span("event.Merge", "operators"):
            if inject == "stage" and batch_id == 1:
                raise RuntimeError("injected stage failure")
            store = ParquetTableStore(store_root, spark, partition_by=["shard"])
            try:
                with tracer.span("stores.read", "stores"):
                    stored = store.as_dataframe("users")
            except ObjectDoesNotExist:
                return True, keyed(previous_result)
            cols = KEYS + [alias for _, _, alias in AGGS]
            touched = stored.join(previous_result.select(KEYS), KEYS, "left_semi")
            both = touched.select(cols).unionByName(previous_result.select(cols))
            return True, keyed(merge_rollup(both, WIDTH, AGGS, keys=["user_id"]))

    @event(name="Upsert")
    def upsert_event(spark, previous_result, store_root):
        with tracer.span("event.Upsert", "operators"):
            store = ParquetTableStore(store_root, spark, partition_by=["shard"])
            with tracer.span("stores.upsert", "stores"):
                store.upsert_table("users", previous_result, key="id")
            return True, previous_result


class StreamUpsert(Workload):
    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.backlog = os.path.join(ctx.work, "backlog")
        self.input = os.path.join(ctx.work, "input")
        self.store = os.path.join(ctx.work, "store")
        self.checkpoint = os.path.join(ctx.work, "checkpoint")
        self.batch_runs: dict[int, object] = {}
        self.per_file, self.per_round, rounds = SIZES[ctx.tiny]
        self.backlog_files = self.per_round * rounds

    def generate(self) -> None:
        fresh_dir(self.backlog)
        files = gen.write_event_files(self.ctx.seed, self.backlog, self.backlog_files,
                                      self.per_file, USERS)
        self.file_bytes = sum(os.path.getsize(f) for f in files) / len(files)
        self.inputs = {"backlog_files": len(files), "events_per_file": self.per_file,
                       "files_per_trigger": 1, "files_per_round": self.per_round,
                       "users": USERS, "shards": SHARDS}

    def register(self) -> None:
        from event_pipeline_spark.plans.dag import build_dag
        from event_pipeline_spark.streaming.runner import StreamingPipeline, read_parquet_stream

        for path in (self.input, self.store, self.checkpoint):
            fresh_dir(path)
        tracer = self.ctx.tracer
        with tracer.span("dsl.build_dag", "dsl"):
            define_events(tracer, self.ctx.inject)
            dag = build_dag(POINTY)
        with tracer.span("session.read_table", "session"):
            self.source = read_parquet_stream(self.ctx.spark, self.input, schema=SCHEMA,
                                              max_files_per_trigger=1)

        class Traced(StreamingPipeline):
            # the op's root span wraps the engine's per-batch DAG run;
            # Spark numbers batches across restarts on one checkpoint
            def _foreach_batch(self, batch_df, batch_id):
                with tracer.span("op", "bench", op=batch_id), \
                        tracer.span("plans.run", "plans"):
                    super()._foreach_batch(batch_df, batch_id)

        self.pipeline = Traced(dag, params={"store_root": self.store},
                               on_batch_done=self.batch_runs.__setitem__)
        self.queued = sorted(os.listdir(self.backlog))

    def _report(self, runs) -> dict[str, int]:
        """The telemetry report over the round's run ledgers: failed
        stages, and the stage total from the retries-by-count histogram."""
        from functools import reduce

        from event_pipeline_spark.telemetry.reporter import failed_events, retry_stats

        spark = self.ctx.spark
        with self.ctx.tracer.span("telemetry.report", "telemetry"):
            ledger = reduce(lambda a, b: a.unionByName(b),
                            [run.metrics_df(spark) for run in runs])
            stats = retry_stats(ledger)
            return {"failed": failed_events(ledger).count(),
                    "stages": sum(stats["events_by_retry_count"].values())}

    def _round(self, traced: bool) -> list[OpRecord]:
        """Release the next files into the input directory and drain them
        (one availableNow run); one record per micro-batch."""
        tracer = self.ctx.tracer
        tracer.enabled = traced
        for name in self.queued[:self.per_round]:
            os.rename(os.path.join(self.backlog, name), os.path.join(self.input, name))
        self.queued = self.queued[self.per_round:]
        table = os.path.join(self.store, "users")
        before = dir_files(table)
        t0 = time.perf_counter()
        with tracer.span("streaming.drain", "streaming"):
            query = self.pipeline.start(self.source, self.checkpoint,
                                        trigger={"availableNow": True})
            query.awaitTermination()
        self.busy += time.perf_counter() - t0
        runs = dict(self.batch_runs)
        self.batch_runs.clear()

        progress = [p for p in query.recentProgress if p.numInputRows]
        n = len(progress)
        written, files = written_since(before, dir_files(table))
        spark_delta = self.counters.delta()
        shared = {"stores.bytes_written": written / n, "stores.files_written": files / n,
                  "stores.write_amp": written / self.file_bytes / n,
                  **cache_counts(self.ctx.spark)}
        round_failures = []
        if spark_delta["spark.failed_tasks"]:
            round_failures.append(f"{int(spark_delta['spark.failed_tasks'])} failed Spark tasks")
        if traced:
            # the report is a per-layer figure only: untimed, traced rounds
            t1 = time.perf_counter()
            report = self._report(list(runs.values()))
            shared["telemetry.report_s"] = (time.perf_counter() - t1) / n
            if report["failed"] or report["stages"] != 3 * n:
                round_failures.append(f"telemetry report: {report}")
        recs = []
        for p in progress:
            trigger = p.durationMs["triggerExecution"] / 1e3
            add = p.durationMs.get("addBatch", 0) / 1e3
            run = runs.get(p.batchId)
            rec = OpRecord(latency=trigger, rows=p.numInputRows, traced=traced)
            rec.failures = (run_failures(run) if run is not None else ["batch ran no DAG"])
            rec.failures += round_failures
            rec.spark = {k: v / n for k, v in spark_delta.items()}
            rec.layer = {"streaming.trigger_s": trigger, "streaming.add_batch_s": add,
                         "streaming.overhead_s": trigger - add,
                         "plans.stages": float(len(run.records)) if run else 0.0, **shared}
            recs.append(rec)
        return recs

    def measure(self, trace: bool):
        """Rounds until ``seconds`` of round time have run; the first
        batch is the first op and the rest of its round counts. The traced
        run alternates traced and untraced rounds and ends on an untraced
        one."""
        ops = self._round(trace)
        first, ops = ops[0], ops[1:]
        rounds = 1
        while self.queued and (self.busy < self.ctx.seconds or (trace and rounds % 2 == 1)):
            ops += self._round(trace and rounds % 2 == 0)
            rounds += 1
        self.ctx.tracer.enabled = trace
        self.finish(ops)
        return first, ops

    def finish(self, records) -> None:
        import duckdb

        from event_pipeline_spark.stores import ParquetTableStore
        from event_pipeline_spark.testing.differential import compare

        con = duckdb.connect()
        stored = ParquetTableStore(self.store, self.ctx.spark).as_dataframe("users")
        diff = compare("store", stored, con,
                       ORACLE.format(files=os.path.join(self.input, "*.parquet")))
        con.close()
        self.inputs["batches"] = len(records) + 1
        if not diff.ok:
            records[-1].failures.append(str(diff))


WORKLOAD = StreamUpsert
