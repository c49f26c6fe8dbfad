"""``query_mix``: fresh-built relational queries and lookup-DSL filters.

Each op builds one query through the registry (or one lookup through
``core.lookup.where`` / ``ResultSet.filter``), forces Catalyst planning
and collects it with ``toPandas``. A pass is 46 oracle-backed core
queries plus 10 seeded lookups over ``events``, in seeded order; the
first op is always q20. The core queries are q1-q48 except q37, which
has no oracle, and q47, a 20-level recursive CTE that takes 4-7 s, a
quarter of a pass, which a run cannot hold within the benchmark's time
budget. One pass runs untimed after the first op, so every timed op
finds its generated code compiled and the JIT warm: the first pass in a
fresh JVM is about 1.6 times as slow as the second, and how much slower
varies from run to run. Every result is compared with its DuckDB oracle
after the op, untimed; each oracle runs once per run.
"""

from __future__ import annotations

import os
import random

import gen
from harness import OpRecord, Workload, cache_counts

FIRST = "q20"
CORE = [f"q{i}" for i in range(1, 49) if i not in (37, 47)]
N_LOOKUPS = 10
EVENT_COLS = "event_id AS id, ts, user_id, event_type, value, props"


def _lookups(rng: random.Random, users: int, count: int) -> list[tuple[str, dict, str]]:
    """(api, lookup kwargs, DuckDB WHERE clause), seeded."""
    out = []
    for n in range(count):
        kind = n % 5
        if kind == 0:
            et, x = rng.choice(gen.EVENT_TYPES), round(rng.uniform(5, 120), 2)
            out.append(("where", {"event_type": et, "value__gt": x},
                        f"event_type = '{et}' AND value > {x!r}"))
        elif kind == 1:
            ids = sorted(rng.sample(range(users), 5))
            ets = sorted(rng.sample(gen.EVENT_TYPES, 2))
            out.append(("filter", {"user_id__in": ids, "event_type__in": ets},
                        f"user_id IN ({', '.join(map(str, ids))}) AND event_type IN "
                        f"({', '.join(repr(e) for e in ets)})"))
        elif kind == 2:
            k = rng.randrange(100)
            out.append(("where", {"props__endswith": f": {k}}}"},
                        f"props LIKE '%: {k}}}'"))
        elif kind == 3:
            lo = round(rng.uniform(0, 60), 2)
            hi = round(lo + rng.uniform(5, 40), 2)
            sub = rng.choice(gen.EVENT_TYPES)[:3].upper()
            out.append(("filter", {"value__gte": lo, "value__lt": hi,
                                   "event_type__icontains": sub},
                        f"value >= {lo!r} AND value < {hi!r} AND "
                        f"lower(event_type) LIKE '%{sub.lower()}%'"))
        else:
            u = rng.randrange(users)
            out.append(("where", {"user_id": u, "props__isnull": False},
                        f"user_id = {u} AND props IS NOT NULL"))
    return out


class _Collected:
    """A collected frame in the shape ``differential.compare`` reads."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class _Oracles:
    """A DuckDB connection in the shape ``differential.compare`` calls,
    keeping each query's result: the inputs do not change during a run,
    so a reference is computed once and compared with every op that
    runs its query."""

    def __init__(self, con) -> None:
        self._con = con
        self._frames: dict[str, object] = {}
        self._sql = ""

    def execute(self, sql: str) -> "_Oracles":
        self._sql = sql
        return self

    def fetchdf(self):
        if self._sql not in self._frames:
            self._frames[self._sql] = self._con.execute(self._sql).fetchdf()
        return self._frames[self._sql].copy()


class QueryMix(Workload):
    warmup_passes = 1

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.data = os.path.join(ctx.work, "tables")
        # the self-check runs sf0.001-sized tables and a short pass
        self.scale = gen.Scale(150, 1000, 50, 100, 100) if ctx.tiny else gen.Scale()
        core, lookups = (CORE[:8], 5) if ctx.tiny else (CORE, N_LOOKUPS)
        rng = random.Random(ctx.seed)
        ops = [("query", q, None) for q in core]
        ops += [("lookup", api, (kw, sql)) for api, kw, sql in
                _lookups(rng, self.scale.event_users, lookups)]
        rng.shuffle(ops)
        self.mix = [("query", FIRST, None)] + ops
        self.pass_len = len(ops)
        self._con = None
        self._out: dict[int, object] = {}
        self._injected = False

    def generate(self) -> None:
        rows = gen.write_tables(self.ctx.seed, self.data, self.scale)
        self.inputs = {"tables": rows, "ops_per_pass": self.pass_len}

    def register(self) -> None:
        from event_pipeline_spark.registry import all_oracles, all_queries
        from event_pipeline_spark.session import load_tables

        with self.ctx.tracer.span("session.read_table", "session"):
            self.tables = load_tables(self.ctx.spark, self.data)
        self.queries, self.oracles = all_queries(), all_oracles()

    def _spec(self, i: int):
        return self.mix[0] if i == 0 else self.mix[1 + (i - 1) % self.pass_len]

    def op(self, i: int) -> OpRecord:
        from pyspark.sql import functions as F

        from event_pipeline_spark.core.lookup import where
        from event_pipeline_spark.core.result import ResultSet

        span = self.ctx.tracer.span
        kind, what, arg = self._spec(i)
        if self.ctx.inject == "stage" and i == 1:  # a Spark task that fails
            df = self.ctx.spark.range(1).select(F.raise_error(F.lit("injected")))
        elif kind == "query":
            with span("queries.build", "queries"):
                df = self.queries[what](self.ctx.spark, self.data)
        else:
            events = self.tables["events"]
            with span("lookup.compile", "core"):
                if what == "where":
                    df = where(events.withColumnRenamed("event_id", "id"), **arg[0])
                else:
                    rs = ResultSet(events.withColumnRenamed("event_id", "id"), deduped=True)
                    df = rs.filter(**arg[0]).df
        with span("queries.plan", "queries"):
            df._jdf.queryExecution().optimizedPlan()
        with span("queries.exec", "queries"):
            pdf = df.toPandas()
        if self.ctx.inject == "wrong" and not self._injected and len(pdf):
            pdf, self._injected = pdf.iloc[1:], True
        self._out[i] = pdf
        return OpRecord(latency=0.0, rows=0, traced=False)

    def check(self, i: int, rec: OpRecord) -> None:
        from event_pipeline_spark.testing.differential import compare, duckdb_connect

        if self._con is None:
            self._con = _Oracles(duckdb_connect(self.data))
        kind, what, arg = self._spec(i)
        sql = (self.oracles[what] if kind == "query" else
               f"SELECT {EVENT_COLS} FROM events WHERE {arg[1]}")
        diff = compare(what if kind == "query" else f"lookup:{arg[1]}",
                       _Collected(self._out.pop(i)), self._con, sql)
        if not diff.ok:
            rec.failures.append(str(diff))
        rec.rows = int(rec.spark["spark.input_rows"])
        rec.layer.update(cache_counts(self.ctx.spark))


WORKLOAD = QueryMix
