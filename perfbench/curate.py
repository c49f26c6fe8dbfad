"""``curate``: the LLM training-data curation DAG, one run per op.

The benchmark's own copy of the example training-data pipeline
(``Load |-> Validate |-> Clean |-> Dedup |-> Select |-> Layout``), run
through ``Pipeline.start(force_rerun=True)`` with a ``TelemetryLogger``
and followed by the telemetry report. Layout ends in a partitioned
``ParquetTableStore.write_table``. The input is seeded random documents
plus a stated share of exact and near-duplicate copies.

Checked after every op (untimed): no stage record failed, output ids are
unique and drawn from the input, no exact-duplicate text survives, the
token total stays within the budget, every doc sits in one split, and
the output digest is the same on every op of the run.
"""

from __future__ import annotations

import hashlib
import inspect
import os

import gen
from harness import OpRecord, Workload, cache_counts, dir_files, run_failures, written_since

UNIQUE_DOCS = 400
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
TOKEN_BUDGET_PER_DOC = 30  # budget = 30 tokens x unique docs: Select drops some
POINTY = "Load |-> Validate |-> Clean |-> Dedup |-> Select |-> Layout"


def build_pipeline(tracer, inject: str):
    """Define the events and the Pipeline class; the class statement
    parses the Pointy source into the DAG."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.core.events import event
    from event_pipeline_spark.core.fields import InputDataField
    from event_pipeline_spark.plans.pipeline import Pipeline

    def body(name):
        def deco(fn):
            def wrapped(*args, **kwargs):
                with tracer.span(f"event.{name}", "operators"):
                    return fn(*args, **kwargs)

            wrapped.__signature__ = inspect.signature(fn)  # the engine binds by name
            return event(wrapped, name=name)

        return deco

    @body("Load")
    def load(spark, docs_dir):
        from event_pipeline_spark.session import read_table

        return True, read_table(spark, docs_dir, "documents")

    @body("Validate")
    def validate(spark, previous_result):
        from event_pipeline_spark.operators.validate import check_rows

        report = check_rows(previous_result, {
            "doc_id_not_null": F.col("doc_id").isNotNull(),
            "text_not_null": F.col("text").isNotNull(),
            "n_chars_consistent": F.col("n_chars") >= 0,
        })
        bad = report.where(F.col("violations") > 0).count()
        return bad == 0 and inject != "stage", previous_result

    @body("Clean")
    def clean(spark, previous_result, min_quality):
        from event_pipeline_spark.operators.text import predict_language, quality_score

        docs = previous_result.withColumn(
            "lang_pred", predict_language(F.col("text"))
        ).withColumn("quality", quality_score(F.col("text")))
        return True, docs.where(F.col("quality") >= F.lit(min_quality))

    @body("Dedup")
    def dedup(spark, previous_result):
        from event_pipeline_spark.operators.dedup import dedup_exact, minhash_near_duplicates

        exact = dedup_exact(previous_result, text_col="text")
        pairs = minhash_near_duplicates(exact, threshold=0.7)
        losers = pairs.select(F.greatest("id_a", "id_b").alias("doc_id")).distinct()
        return True, exact.join(losers, "doc_id", "left_anti")

    @body("Select")
    def select(spark, previous_result, token_budget):
        from event_pipeline_spark.operators.classify import (
            score_documents,
            train_quality_classifier,
        )
        from event_pipeline_spark.operators.prefix import select_token_budget
        from event_pipeline_spark.operators.text import bpe_ish_token_count

        docs = previous_result.withColumn(
            "tokens", bpe_ish_token_count(F.col("text")).cast("long"))
        median = docs.approxQuantile("quality", [0.5], 0.01)[0]
        labeled = docs.withColumn("label", (F.col("quality") >= median).cast("double"))
        model = train_quality_classifier(labeled)
        scored = score_documents(model, docs)
        return True, select_token_budget(scored, score_col="p_good", tokens_col="tokens",
                                         budget=token_budget, id_col="doc_id")

    @body("Layout")
    def layout(spark, previous_result, budget, n_shards, out_dir):
        from event_pipeline_spark.operators.packing import (
            assign_shards,
            pack_greedy,
            train_val_test_split,
        )
        from event_pipeline_spark.operators.sampling import shuffle_epoch
        from event_pipeline_spark.stores import ParquetTableStore

        docs = shuffle_epoch(previous_result, "doc_id", epoch=0, seed="corpus")
        split = train_val_test_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
        packed = pack_greedy(split, "doc_id", "tokens", budget=budget)
        laid_out = assign_shards(split.select("doc_id", "split").join(packed, "doc_id"),
                                 "pack_id", n_shards)
        if inject == "wrong":
            laid_out = laid_out.unionByName(laid_out.limit(1))
        store = ParquetTableStore(out_dir, spark, partition_by=["split", "shard"])
        with tracer.span("stores.write", "stores"):
            store.write_table("corpus", laid_out, mode="overwrite")
        return True, laid_out

    class CurationPipeline(Pipeline):
        docs_dir = InputDataField(str)
        out_dir = InputDataField(str)
        min_quality = InputDataField(float, default=0.3)
        token_budget = InputDataField(int)
        budget = InputDataField(int, default=2048)
        n_shards = InputDataField(int, default=8)

        class Meta:
            pointy = POINTY

    return CurationPipeline


class Curate(Workload):
    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.docs_dir = os.path.join(ctx.work, "docs")
        self.out_dir = os.path.join(ctx.work, "store")
        self.unique = 60 if ctx.tiny else UNIQUE_DOCS
        self.token_budget = TOKEN_BUDGET_PER_DOC * self.unique
        self.digests: set[str] = set()

    def generate(self) -> None:
        counts = gen.write_documents(self.ctx.seed, self.docs_dir, self.unique,
                                     EXACT_DUP_SHARE, NEAR_DUP_SHARE)
        self.inputs = {"documents": counts, "exact_dup_share": EXACT_DUP_SHARE,
                       "near_dup_share": NEAR_DUP_SHARE, "token_budget": self.token_budget}

    def register(self) -> None:
        import pyarrow.parquet as pq

        from event_pipeline_spark.session import read_table

        with self.ctx.tracer.span("dsl.build_dag", "dsl"):
            self.pipeline = build_pipeline(self.ctx.tracer, self.ctx.inject)(
                docs_dir=self.docs_dir, out_dir=self.out_dir, token_budget=self.token_budget)
        with self.ctx.tracer.span("session.read_table", "session"):
            read_table(self.ctx.spark, self.docs_dir, "documents")
        path = os.path.join(self.docs_dir, "documents.parquet")
        self.input_bytes = os.path.getsize(path)
        self.docs = pq.read_table(path, columns=["doc_id", "text"]).to_pandas()

    def op(self, i: int) -> OpRecord:
        from event_pipeline_spark.telemetry.metrics import TelemetryLogger
        from event_pipeline_spark.telemetry.reporter import execution_metrics

        span = self.ctx.tracer.span
        self._before = dir_files(self.out_dir)
        telemetry = TelemetryLogger()
        with span("plans.run", "plans"):
            self._run = self.pipeline.start(self.ctx.spark, force_rerun=True,
                                            telemetry=telemetry)
        with span("telemetry.report", "telemetry"):
            self._report = execution_metrics(telemetry.to_df(self.ctx.spark))
        return OpRecord(latency=0.0, rows=len(self.docs), traced=False)

    def check(self, i: int, rec: OpRecord) -> None:
        from event_pipeline_spark.stores import ParquetTableStore

        run, report = self._run, self._report
        rec.failures += run_failures(run)
        if report["failed"] or report["completed"] != len(POINTY.split("|->")):
            rec.failures.append(f"telemetry report: {report}")
        written, files = written_since(self._before, dir_files(self.out_dir))
        rec.layer = {"plans.stages": float(len(run.records)),
                     "stores.bytes_written": float(written),
                     "stores.files_written": float(files),
                     "stores.write_amp": written / self.input_bytes,
                     **cache_counts(self.ctx.spark)}
        out = (ParquetTableStore(self.out_dir, self.ctx.spark).as_dataframe("corpus")
               .select("doc_id", "split", "shard", "pack_id", "tokens").toPandas())
        texts = self.docs.set_index("doc_id")["text"]
        problems = []
        if out.empty:
            problems.append("no documents written")
        if out["doc_id"].duplicated().any():
            problems.append("duplicate output ids")
        if not out["doc_id"].isin(texts.index).all():
            problems.append("output ids not in the input")
        elif texts.loc[out["doc_id"]].duplicated().any():
            problems.append("an exact-duplicate text survived")
        if out["tokens"].sum() > self.token_budget:
            problems.append(f"{out['tokens'].sum()} tokens exceed the budget")
        if not out["split"].isin(["train", "val", "test"]).all():
            problems.append("a doc without a split")
        rec.failures += problems
        rows = out.sort_values("doc_id")[["doc_id", "split", "shard", "pack_id"]]
        self.digests.add(hashlib.md5(rows.to_csv(index=False).encode()).hexdigest())

    def finish(self, records) -> None:
        self.inputs["output_digests"] = sorted(self.digests)
        if len(self.digests) > 1:
            records[-1].failures.append(f"output differs between ops: {sorted(self.digests)}")


WORKLOAD = Curate
