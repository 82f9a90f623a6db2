"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``, never
timed), compiles its app through the program's public entry points
(``compile``), runs its warm-up passes (``warm_up``), then repeats timed
passes (``run_pass``).  ``check`` compares the outputs with a reference
computation outside the timed region.  Every pass reports the items it
completed, its wall time and a latency sample per item (``(ms, weight)``
pairs).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.tracing import plan_nodes, progress_totals, spans_around


@dataclass
class Pass:
    items: int
    seconds: float
    latencies: list  # (latency_ms, weight) pairs
    progress: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    tracer: object
    stats: object = None  # trace.SparkStats in the traced loop


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def fingerprint(df):
    """Order-free multiset fingerprint of a DataFrame: row count and the
    sum of a 64-bit hash of every row (as an exact decimal)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*[F.col(c) for c in cols])
                    .cast("decimal(38,0)").alias("h")) \
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


class StreamingWorkload:
    """A closed-loop ``availableNow`` drain of a fixed input through a
    ``StreamingApp``; each pass starts fresh queries with new
    checkpoints over the same files (a catch-up after downtime)."""

    spec: dict
    rate_name: str  # the workload's own name for throughput_per_s
    WARM_UP_PASSES = 1

    def topics(self, ctx) -> dict[str, tuple[str, str]]:
        """topic -> (directory, DDL schema)."""
        raise NotImplementedError

    def sink_factory(self, out: str):
        raise NotImplementedError

    def compile(self, ctx: Ctx) -> None:
        from pincette_json_streams_spark.plans.spec import (
            validate_application,
        )
        from pincette_json_streams_spark.streaming.runtime import (
            StreamingApp, file_stream_catalog,
        )

        spark = ctx.spark
        topics = self.topics(ctx)
        catalog = file_stream_catalog(
            spark, {t: d for t, (d, _) in topics.items()},
            {t: s for t, (_, s) in topics.items()})
        with ctx.tracer.span("plans.validate"):
            validate_application(self.spec)
        with ctx.tracer.span("plans.compile"):
            self.app = StreamingApp(spark, self.spec, catalog)
        if ctx.tracer.enabled:
            self._trace_compile(ctx)

    def _static_catalog(self, ctx: Ctx) -> dict:
        return {t: ctx.spark.read.schema(s).parquet(d)
                for t, (d, s) in self.topics(ctx).items()}

    def _static_app(self, ctx: Ctx):
        """The app's static twin: the same spec over the same files,
        read as batch."""
        from pincette_json_streams_spark.plans.planner import Application

        return Application(self.spec, self._static_catalog(ctx))

    def _trace_compile(self, ctx: Ctx) -> None:
        """Operator and Catalyst layers, measured on the static twin."""
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )

        static = self._static_catalog(ctx)
        for part in self.spec["parts"]:
            src = static.get(part.get("fromTopic"))
            if src is not None and "pipeline" in part:
                with ctx.tracer.span("operators.compile_pipeline"):
                    compile_pipeline(src, part["pipeline"],
                                     PipelineContext(catalog=static))
        twin = self._static_app(ctx)
        self.plan_nodes = 0
        for df in twin.streams.values():
            with ctx.tracer.span("catalyst.plan"):
                plan = df._jdf.queryExecution().executedPlan()
            self.plan_nodes += plan_nodes(plan)

    def warm_up(self, ctx: Ctx) -> None:
        for i in range(self.WARM_UP_PASSES):
            self.run_pass(ctx, f"warmup{i}")

    def run_pass(self, ctx: Ctx, tag: str) -> Pass:
        out = _reset(os.path.join(ctx.work, "out", tag))
        factory = self.sink_factory(out)
        t0 = time.perf_counter()
        with ctx.tracer.span("streaming.drain"):
            queries = self.app.start(factory, available_now=True)
            for q in queries:
                if not q.awaitTermination(150):
                    q.stop()
                    raise RuntimeError(f"drain {tag} did not finish")
        seconds = time.perf_counter() - t0
        self.last_out = out
        # every query drains the backlog in one micro-batch, so every
        # item's result is committed when the drain ends
        return Pass(self.n_items, seconds, [(seconds * 1e3, self.n_items)],
                    [p for q in queries for p in q.recentProgress],
                    {"queries": len(queries)})

    def layer_metrics(self, ctx: Ctx, passes: list[Pass]) -> dict:
        totals = progress_totals([p for ps in passes for p in ps.progress])
        items = sum(p.items for p in passes)
        out = {
            "plans.validate_s": ctx.tracer.total_s("plans.validate"),
            "plans.compile_s": ctx.tracer.total_s("plans.compile"),
            "operators.compile_pipeline_s":
                ctx.tracer.total_s("operators.compile_pipeline"),
            "catalyst.plan_s": ctx.tracer.total_s("catalyst.plan"),
            "operators.physical_plan_nodes": self.plan_nodes,
            "streaming.queries": passes[-1].extra["queries"],
            "streaming.source_reads_per_event":
                totals.get("input_rows", 0) / max(items, 1),
            "streaming.batches": totals.get("batches", 0) / len(passes),
        }
        for key, value in totals.items():
            if key.startswith("trigger.") or key.startswith("state_"):
                out[f"streaming.{key}"] = value / len(passes)
        return out

    def named_metrics(self, summary: dict) -> dict:
        return {self.rate_name: summary["throughput_per_s"]}


class AggCommands(StreamingWorkload):
    """Seeded commands through one ``aggregate`` part and its five sinks;
    the Python fold (``applyInPandasWithState``) and the state store do
    the work."""

    spec = gen.AGG_SPEC
    rate_name = "commands_per_s"
    N, FILES, KEYS, REJECT = 5000, 5, 1000, 0.05

    def prepare(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "in", "commands")
        gen.write_commands(seed, self.dir, self.N, self.FILES, self.KEYS,
                           self.REJECT)
        self.n_items = self.N

    def topics(self, ctx):
        return {f"{gen.AGG_FULL}-command": (self.dir, gen.COMMAND_DDL)}

    def sink_factory(self, out: str):
        def factory(name, df):
            return (df.writeStream.format("parquet")
                    .option("path", os.path.join(out, name))
                    .option("checkpointLocation",
                            os.path.join(out, "_ckpt", name))
                    .outputMode("append"))
        return factory

    def reference(self):
        """In-process ``reduce_commands`` fold over the same ordered
        commands: per-purpose counts, final aggregate per ``_id``, and
        the single-thread fold time."""
        import pyarrow.parquet as pq

        from pincette_json_streams_spark.streaming.aggregate import (
            reduce_commands,
        )
        from pincette_json_streams_spark.streaming.reducers import (
            pipeline_reducer,
        )

        rows = pq.read_table(self.dir).sort_by("seq_in").to_pylist()
        by_key: dict[str, list] = {}
        for r in rows:
            cmd = {k: v for k, v in r.items() if v is not None}
            cmd["_jwt"] = dict(cmd["_jwt"])
            by_key.setdefault(cmd["_id"], []).append(cmd)
        validators = {c: s["validator"]
                      for c, s in gen.AGG_COMMANDS_SPEC.items()
                      if "validator" in s}
        t0 = time.perf_counter()
        reducer = pipeline_reducer(gen.AGG_COMMANDS_SPEC)
        counts: dict[str, int] = {}
        final, rejected = {}, 0
        for key, cmds in by_key.items():
            for rec in reduce_commands(None, cmds, reducer, gen.AGG_FULL,
                                       validators=validators):
                counts[rec["purpose"]] = counts.get(rec["purpose"], 0) + 1
                if rec["purpose"] == "aggregate":
                    final[key] = rec["doc"]
                elif rec["purpose"] == "reply" and rec["doc"].get(
                        "_error"):
                    rejected += 1
        fold_s = time.perf_counter() - t0
        return counts, final, rejected, fold_s

    def check(self, ctx: Ctx, passes: list[Pass]) -> dict:
        counts, final, rejected, fold_s = self.reference()
        self.reduce_commands_per_s = self.N / fold_s
        self.rejected_ratio = rejected / self.N
        spark = ctx.spark
        problems = []
        for purpose, want in sorted(counts.items()):
            name = f"{gen.AGG_FULL}-{purpose}"
            got = spark.read.parquet(os.path.join(self.last_out, name)) \
                .count()
            if got != want:
                problems.append(f"{purpose}: {got} rows, want {want}")
        got_final: dict[str, dict] = {}
        for r in spark.read.parquet(os.path.join(
                self.last_out, f"{gen.AGG_FULL}-aggregate")).collect():
            doc = json.loads(r["value"])
            cur = got_final.get(doc["_id"])
            if cur is None or doc["_seq"] > cur["_seq"]:
                got_final[doc["_id"]] = doc
        if got_final != final:
            bad = sorted(k for k in set(got_final) | set(final)
                         if got_final.get(k) != final.get(k))
            problems.append(f"final aggregates differ for {len(bad)} ids, "
                            f"e.g. {bad[:3]}")
        return {"problems": problems,
                "failed_items": self.N if problems else 0}

    def layer_metrics(self, ctx, passes):
        out = super().layer_metrics(ctx, passes)
        out["aggregate.reduce_commands_per_s"] = self.reduce_commands_per_s
        out["aggregate.rejected_ratio"] = self.rejected_ratio
        return out


class StreamDrain(StreamingWorkload):
    """A backlog of seeded events through a two-part app: a stateless
    $match/$addFields/$project part into a topic, and a $group part
    reading that part's stream.  No Python workers: per-row codegen and
    planning do the work."""

    spec = gen.STREAM_SPEC
    rate_name = "events_per_s"
    N, FILES = 1_000_000, 20
    # the first drain after the cold one is still measurably slower
    WARM_UP_PASSES = 2
    GROUPED = {"stats"}

    def prepare(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "in", "events")
        gen.write_events(seed, self.dir, self.N, self.FILES)
        self.n_items = self.N

    def topics(self, ctx):
        return {"events": (self.dir, gen.EVENT_DDL)}

    def sink_factory(self, out: str):
        tag = os.path.basename(out)

        def factory(name, df):
            if name in self.GROUPED:
                return (df.writeStream.format("memory")
                        .queryName(f"{name}_{tag}")
                        .option("checkpointLocation",
                                os.path.join(out, "_ckpt", name))
                        .outputMode("complete"))
            return (df.writeStream.format("parquet")
                    .option("path", os.path.join(out, name))
                    .option("checkpointLocation",
                            os.path.join(out, "_ckpt", name))
                    .outputMode("append"))
        return factory

    def check(self, ctx: Ctx, passes: list[Pass]) -> dict:
        """Sinks equal ``Application(spec, static).run_batch()``."""
        spark = ctx.spark
        twin = self._static_app(ctx).run_batch()
        tag = os.path.basename(self.last_out)
        problems = []
        for name, want in twin.items():
            if name in self.GROUPED:
                got = spark.table(f"{name}_{tag}")
                a = sorted(json.dumps(r.asDict(recursive=True),
                                      sort_keys=True)
                           for r in got.collect())
                b = sorted(json.dumps(r.asDict(recursive=True),
                                      sort_keys=True)
                           for r in want.collect())
                same = a == b
            else:
                got = spark.read.parquet(os.path.join(self.last_out, name))
                same = (sorted(got.columns) == sorted(want.columns)
                        and fingerprint(got) == fingerprint(want))
            if not same:
                problems.append(f"sink {name} differs from the batch run")
        return {"problems": problems,
                "failed_items": self.N if problems else 0}


class BatchKernels:
    """Batch queries of ``__spark_entry__`` over seeded tables: the
    iterative dedup and graph kernels, the pandas-UDF text kernels, and
    three pipeline-language controls."""

    cold_timed = True
    QUERIES = ("dedup_canonical", "pagerank_top", "prefix_jaccard",
               "graph_triangles", "dedup_ngram", "dedup_minhash",
               "html_extract", "pricing_summary", "lookup_pipeline",
               "join_part")
    TABLES = ("documents", "lineitem", "orders", "customer", "supplier")
    ORDERS, DOCS = 4000, 800

    def prepare(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "in", "tables")
        gen.write_batch_tables(seed, self.dir, self.ORDERS, self.DOCS)
        self.n_items = len(self.QUERIES)

    def compile(self, ctx: Ctx) -> None:
        import __spark_entry__

        self.fns = {q: __spark_entry__.queries()[q] for q in self.QUERIES}
        self.oracles = __spark_entry__.oracle_sql()

    def warm_up(self, ctx: Ctx) -> None:
        """None: a batch job runs once per fresh session, so its users
        pay the cold pass every time, and the cold pass is what is
        timed."""

    def run_pass(self, ctx: Ctx, tag: str) -> Pass:
        if not ctx.tracer.enabled:
            return self._run_pass(ctx)
        import __spark_entry__
        import pincette_json_streams_spark as pkg
        from pincette_json_streams_spark.plans import planner

        # the queries call into the plans and operators layers themselves
        with spans_around(ctx.tracer, [
            (__spark_entry__, "compile_pipeline",
             "operators.compile_pipeline"),
            (planner, "compile_pipeline", "operators.compile_pipeline"),
            (planner, "validate_application", "plans.validate"),
            (pkg, "Application", "plans.compile"),
        ]):
            return self._run_pass(ctx)

    def _run_pass(self, ctx: Ctx) -> Pass:
        tracer, stats = ctx.tracer, ctx.stats
        lat, counts, per_query, rows = [], {}, {}, {}
        for q, fn in self.fns.items():
            snap = stats.snapshot() if stats is not None else None
            t0 = time.perf_counter()
            with tracer.span(f"batch.{q}.build"):
                df = fn(ctx.spark, self.dir)
            t1 = time.perf_counter()
            if tracer.enabled:
                with tracer.span("catalyst.plan"):
                    plan = df._jdf.queryExecution().executedPlan()
                per_query[f"{q}.plan_nodes"] = plan_nodes(plan)
            t2 = time.perf_counter()
            with tracer.span(f"batch.{q}.exec"):
                rows[q] = (df.columns, df.collect())
            t3 = time.perf_counter()
            counts[q] = len(rows[q][1])
            lat.append(((t1 - t0 + t3 - t2) * 1e3, 1))
            if stats is not None:
                per_query[f"{q}.jobs"] = stats.jobs_since(snap)
        seconds = sum(ms for ms, _ in lat) / 1e3
        self.last_rows = rows
        return Pass(len(self.fns), seconds, lat,
                    extra={"counts": counts, **per_query})

    def check(self, ctx: Ctx, passes: list[Pass]) -> dict:
        """The rows the last pass collected match the DuckDB oracles
        under the row hashing of scripts/check_correctness.py, and every
        timed pass returned as many rows."""
        import duckdb

        from scripts.check_correctness import _hash_rows

        con = duckdb.connect()
        for t in self.TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        problems, failed = [], 0
        for q in self.QUERIES:
            cols, rows = self.last_rows[q]
            rows = [tuple(r) for r in rows]
            res = con.execute(self.oracles[q])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            ok = (sorted(cols) == sorted(ocols) and len(rows) == len(orows)
                  and _hash_rows(cols, rows) == _hash_rows(ocols, orows))
            counts_ok = all(p.extra["counts"][q] == len(rows)
                            for p in passes)
            if not (ok and counts_ok):
                problems.append(f"{q}: oracle {'ok' if ok else 'MISMATCH'}"
                                f", timed row counts "
                                f"{'ok' if counts_ok else 'MISMATCH'}")
                failed += len(passes)
        con.close()
        return {"problems": problems, "failed_items": failed}

    def layer_metrics(self, ctx: Ctx, passes: list[Pass]) -> dict:
        n = len(passes)
        out = {f"{name}_s": ctx.tracer.total_s(name) / n for name in (
            "plans.validate", "plans.compile",
            "operators.compile_pipeline", "catalyst.plan")}
        out["operators.physical_plan_nodes"] = sum(
            passes[-1].extra[f"{q}.plan_nodes"] for q in self.QUERIES)
        for q in self.QUERIES:
            out[f"batch.{q}.build_s"] = ctx.tracer.total_s(
                f"batch.{q}.build") / n
            out[f"batch.{q}.exec_s"] = ctx.tracer.total_s(
                f"batch.{q}.exec") / n
            out[f"batch.{q}.jobs"] = sum(
                p.extra[f"{q}.jobs"] for p in passes) / n
        return out

    def named_metrics(self, summary: dict) -> dict:
        return {"batch_s": statistics.median(summary["pass_s"])}


WORKLOADS = {
    "agg_commands": AggCommands,
    "stream_drain": StreamDrain,
    "batch_kernels": BatchKernels,
}
