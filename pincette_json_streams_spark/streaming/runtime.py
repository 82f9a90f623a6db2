"""Structured-Streaming runtime: run an application's parts as streaming
queries.

The reference runs each app as a chain of reactive-streams processors over
Kafka consumers/producers (App.java:758-791,1087-1104 — SURVEY.md §3.2).
Spark-first equivalent: the SAME compiled DataFrame lineage (plans/planner
compiles batch and streaming identically), executed as streaming queries:

  source (Kafka / file-stream / rate)
    -> compiled pipeline (operators/stages.py — stateless stages are
       mode-agnostic; $group runs in update output mode; $deduplicate maps
       to dropDuplicates[WithinWatermark])
    -> sink (Kafka / memory / foreachBatch)

A stream, merge or join part runs one query per sink.  An aggregate part
runs ONE query: ``foreachBatch`` persists the fold's micro-batch once and
writes its five outputs from it, so the fold, its checkpoint and its
state store exist once and the five outputs advance together — the
Structured Streaming recipe (SIGMOD 2018): a replayable source, one
offset log, sinks idempotent per epoch.

Delivery: at-least-once with checkpointing, matching the reference's
contract (docs/index.md:3).  Kafka offsets ⇄ checkpoint state; the
reference's resume tokens (App.java:1056-1081) ⇄ checkpoint metadata.
An aggregate part's query records per epoch how many of its five outputs
have written it, so a replayed epoch does not write them again.

Aggregate parts run ``applyInPandasWithState`` keyed by ``_id``: the
reference serializes commands per aggregate instance via Kafka key
partitioning (docs/state.md:114-127); grouped state processing is the
faithful distributed analogue (parallel across keys, ordered within one).
"""

from __future__ import annotations

import json
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pincette_json_streams_spark.operators.stages import (
    PipelineContext,
    compile_pipeline,
)

__all__ = [
    "kafka_source", "kafka_sink", "kafka_records", "kafka_client_options",
    "file_stream_catalog", "attach_metrics_listener",
    "collection_change_stream", "StreamingApp", "streaming_aggregate",
    "delay_spool_sink", "delay_release_stream", "redelivery_sink",
    "FanOutError",
]


# --------------------------------------------------------------------------
# sources / sinks
# --------------------------------------------------------------------------

# Spark's own Kafka-connector options — everything else in a client
# config is a kafka-client property and must be ``kafka.``-prefixed for
# the connector to forward it (SSL/SASL, fetch tuning, group id)
_SPARK_KAFKA_OPTS = {
    "subscribe", "subscribePattern", "assign", "topic",
    "startingOffsets", "endingOffsets", "startingTimestamp",
    "endingTimestamp", "startingOffsetsByTimestamp",
    "endingOffsetsByTimestamp", "startingOffsetsByTimestampStrategy",
    "maxOffsetsPerTrigger", "minOffsetsPerTrigger", "failOnDataLoss",
    "minPartitions", "groupIdPrefix", "includeHeaders",
    "checkpointLocation", "maxTriggerDelay", "fetchOffset.numRetries",
    "fetchOffset.retryIntervalMs", "kafkaConsumer.pollTimeoutMs",
}


def kafka_client_options(
    bootstrap: str, config: Optional[dict] = None
) -> dict:
    """Build the Spark option map for the Kafka connector from a plain
    client config — the reference's KafkaProvider does the same from
    its config file (KafkaProvider.java:168-189): every kafka-client
    property (``security.protocol``, ``ssl.truststore.location``,
    ``sasl.jaas.config``, ``group.id``, fetch tuning...) gets the
    ``kafka.`` prefix Spark's connector requires, while Spark's own
    connector options pass through unprefixed.  Pure function so the
    SSL/consumer-group wiring is unit-testable without a broker."""
    out = {"kafka.bootstrap.servers": bootstrap}
    for k, v in (config or {}).items():
        if k.startswith("kafka.") or k in _SPARK_KAFKA_OPTS:
            out[k] = str(v)
        else:
            out[f"kafka.{k}"] = str(v)
    return out

def kafka_source(
    spark: SparkSession,
    topic: str,
    bootstrap: str,
    schema: Optional[str] = None,
    max_offsets_per_trigger: Optional[int] = None,
    wire_format: str = "cbor",
    config: Optional[dict] = None,
) -> DataFrame:
    """Kafka topic -> streaming DataFrame.  With a schema, the JSON value
    is parsed into typed columns plus the Kafka key as ``_key``; without
    one, rows are (``_key``, ``value`` JSON string) — the schemaless
    shape, accessed downstream via $stringToJson / get_json_object.
    ``maxOffsetsPerTrigger`` is the backpressure knob standing in for the
    reference's batchSize/batchTimeout (KafkaProvider.java:61-66).

    ``wire_format="cbor"`` (the reference's wire format,
    docs/serialisation.md) decodes gzip-CBOR message values with the
    string fallback; ``"string"`` casts the raw bytes."""
    # defaults first, config LAST: a caller-provided startingOffsets /
    # assign / subscribePattern must win over the built-in defaults
    opts = {"subscribe": topic, "startingOffsets": "earliest"}
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts.update(kafka_client_options(bootstrap, config))
    if config and ("assign" in config or "subscribePattern" in config):
        # Spark rejects multiple subscription modes — an explicit mode
        # in the config replaces the default subscribe
        opts.pop("subscribe", None)
    reader = spark.readStream.format("kafka").options(**opts)
    loaded = reader.load()
    if wire_format == "cbor":
        from pincette_json_streams_spark.sources.serialisation import (
            decode_col,
        )
        raw = loaded.select(
            F.col("key").cast("string").alias("_key"),
            decode_col(F.col("value")).alias("value"),
        )
    else:
        raw = loaded.selectExpr(
            "CAST(key AS STRING) AS _key", "CAST(value AS STRING) AS value"
        )
    if schema is None:
        return raw
    return raw.select(
        "_key", F.from_json("value", schema).alias("v")
    ).select("_key", "v.*")


def kafka_records(
    df: DataFrame, key_col: str = "_id", to_string: bool = False,
) -> DataFrame:
    """The Kafka records of a DataFrame: ``key`` from ``key_col``,
    ``value`` the row document as gzip-CBOR (the reference's wire format)
    or, with ``to_string=True``, plain JSON — the stream-part
    ``toString`` flag (docs/serialisation.md).  A ``topic`` column is
    kept: Kafka sinks route on it natively."""
    cols = [c for c in df.columns if c not in ("topic",)]
    value_json = F.to_json(F.struct(*[F.col(c) for c in cols]))
    if to_string:
        value = value_json
    else:
        from pincette_json_streams_spark.sources.serialisation import (
            encode_col,
        )
        value = encode_col(value_json)
    return df.select(
        *( [F.col("topic")] if "topic" in df.columns else [] ),
        (F.col(key_col).cast("string") if key_col in df.columns
         else F.lit(None).cast("string")).alias("key"),
        value.alias("value"),
    )


def kafka_sink(
    df: DataFrame,
    bootstrap: str,
    topic: Optional[str],
    checkpoint: str,
    key_col: str = "_id",
    output_mode: str = "append",
    to_string: bool = False,
    config: Optional[dict] = None,
):
    """Streaming DataFrame -> Kafka, as ``kafka_records``.  A per-row
    ``topic`` column (from $send/$delay) takes precedence over the fixed
    topic.  The writer carries its projection as ``writer.projection``,
    so an aggregate part's fan-out can apply it to each micro-batch."""
    # defaults first, config LAST (an explicit checkpointLocation in
    # the client config wins over the positional argument)
    wopts = {"checkpointLocation": checkpoint}
    wopts.update(kafka_client_options(bootstrap, config))
    writer = (
        kafka_records(df, key_col, to_string).writeStream.format("kafka")
        .options(**wopts)
        .outputMode(output_mode)
    )
    if topic is not None and "topic" not in df.columns:
        writer = writer.option("topic", topic)
    writer.projection = lambda d: kafka_records(d, key_col, to_string)
    return writer


def file_stream_catalog(
    spark: SparkSession,
    topic_dirs: dict[str, str],
    schemas: dict[str, str],
    max_files_per_trigger: Optional[int] = None,
) -> dict[str, DataFrame]:
    """Offline stand-in for Kafka: one parquet directory per topic
    (appends = new files).  Used by tests and local runs; the semantics —
    unbounded append source with checkpointed progress — match."""
    catalog = {}
    for name, d in topic_dirs.items():
        reader = spark.readStream.schema(schemas[name]).format("parquet")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        catalog[name] = reader.load(d)
    return catalog


def collection_change_stream(
    spark: SparkSession,
    collection_dir: str,
    schema: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Append-only tail of a plain parquet directory (appends become
    change events; the streaming checkpoint is the resume token).

    This is the lightweight form for append-only collections.  The FULL
    ``fromCollection`` contract — insert/replace/delete operationType
    per document with checkpointed per-key state, matching the
    reference's Mongo change streams (App.java:650-683,1056-1081) — is
    ``sources.changelog.ChangeLogCollection.change_stream``; pass that
    DataFrame as the catalog entry instead when the collection is
    written as a change log."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(collection_dir)


# --------------------------------------------------------------------------
# $delay redelivery  (docs/aggregation_stages.md:118-158)
# --------------------------------------------------------------------------
#
# The reference delays each message in-process and re-produces it to the
# target Kafka topic.  Spark-first decomposition, all checkpointed:
#
#   $delay stage (effects.py) tags rows with topic + deliver_after
#     -> delay_spool_sink: spool the routed rows (parquet append)
#     -> delay_release_stream: stateful hold (applyInPandasWithState with
#        a processing-time timeout) that emits each message once
#        now >= deliver_after — state is O(in-flight delayed messages)
#     -> redelivery_sink: append released messages back into the target
#        topic's directory, where the normal source re-ingests them.
#
# Loss mid-delay is possible in the reference too (docs:122); here the
# spool + checkpoints narrow that window to the release hold.

def delay_spool_sink(routed: DataFrame, spool_dir: str, checkpoint: str):
    """Writer that spools $delay-routed rows (topic + deliver_after +
    payload) as JSON values."""
    payload = [c for c in routed.columns
               if c not in ("topic", "deliver_after")]
    rows = routed.select(
        F.col("topic").cast("string"),
        F.col("deliver_after").cast("long"),
        F.to_json(F.struct(*[F.col(c) for c in payload])).alias("value"),
    )
    return (
        rows.writeStream.format("parquet")
        .option("path", spool_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def delay_release_stream(
    spark: SparkSession, spool_dir: str, buckets: int = 8
) -> DataFrame:
    """Spool -> held messages released when due.  Keys spread over
    ``buckets`` so the hold state parallelizes; each key sets a
    processing-time timeout at its earliest pending deliver_after."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = spark.readStream.schema(
        "topic string, deliver_after long, value string"
    ).format("parquet").load(spool_dir)
    keyed = src.withColumn(
        "__k", (F.crc32(F.col("value")) % buckets).cast("string")
    )

    def hold(key, pdf_iter, state):
        import time

        import pandas as pd

        pending = json.loads(state.get[0]) if state.exists else []
        for pdf in pdf_iter:
            pending.extend(
                pdf[["topic", "deliver_after", "value"]].to_dict("records")
            )
        now_ms = int(time.time() * 1000)
        due = [p for p in pending if p["deliver_after"] <= now_ms]
        rest = [p for p in pending if p["deliver_after"] > now_ms]
        state.update((json.dumps(rest),))
        if rest:
            state.setTimeoutDuration(max(
                min(p["deliver_after"] for p in rest) - now_ms, 50
            ))
        yield pd.DataFrame(
            due, columns=["topic", "deliver_after", "value"]
        )

    out = keyed.groupBy("__k").applyInPandasWithState(
        hold,
        outputStructType="topic string, deliver_after long, value string",
        stateStructType="pending string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return out.select("topic", "value")


def redelivery_sink(
    released: DataFrame,
    topic_dirs: dict[str, str],
    schemas: dict[str, str],
    checkpoint: str,
):
    """Writer that appends released messages into their target topic's
    directory (the file-source analogue of producing back to Kafka) —
    the topic's normal streaming source then re-ingests them."""

    def write_batch(batch_df, _epoch):
        for topic, d in topic_dirs.items():
            part = batch_df.filter(F.col("topic") == topic)
            if part.isEmpty():
                continue  # no empty files polluting the topic listing
            parsed = part.select(
                F.from_json("value", schemas[topic]).alias("v")
            ).select("v.*")
            parsed.write.mode("append").parquet(d)

    return (
        released.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )


# --------------------------------------------------------------------------
# streaming aggregate part  (docs/state.md — SURVEY.md §2.8)
# --------------------------------------------------------------------------

def streaming_aggregate(
    commands: DataFrame,
    agg_type: str,
    reducer_spec: Optional[dict] = None,
    order_col: Optional[str] = None,
    script_imports: Optional[dict] = None,
    unique_expression=None,
    part_preprocessor: Optional[list] = None,
    href_lookup: Optional[Callable[[str], Optional[dict]]] = None,
) -> DataFrame:
    """Event-sourcing aggregate over a streaming command source.

    ``applyInPandasWithState`` keyed by ``_id``; state carries the latest
    aggregate JSON.  Emits one row per output message with a ``purpose``
    discriminator (aggregate/command/event/event-full/reply), the
    reference's five output streams (docs/state.md:97-127).
    ``StreamingApp`` runs the fold as one query and fans the five
    purposes out to their sinks from each persisted micro-batch; a
    per-purpose view is the fold filtered on ``purpose``.

    ``href_lookup`` (href path -> state dict or None) enables jes href
    resolution around the validator+reducer (streaming/hrefs.py) — an
    executor-side point read, the same shape as the reference's async
    Mongo reads per command (the batch fold's join-based resolution
    can't chain ahead of a stateful operator in streaming).  Back it
    with a ChangeLogCollection snapshot reader or any KV accessor."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pincette_json_streams_spark.streaming.aggregate import (
        reduce_commands,
    )

    reducer = None
    validators: dict = {}
    preprocessors: dict = {}
    if reducer_spec:
        from pincette_json_streams_spark.streaming.reducers import (
            pipeline_reducer,
        )
        reducer = pipeline_reducer(reducer_spec, script_imports)
        for cname, cspec in reducer_spec.items():
            if isinstance(cspec, dict):
                if isinstance(cspec.get("validator"), dict):
                    validators[cname] = cspec["validator"]
                if isinstance(cspec.get("preprocessor"), list):
                    preprocessors[cname] = cspec["preprocessor"]

    cols = commands.columns
    if unique_expression is not None:
        # re-key on the business key — the streaming analogue of the
        # reference's `unique` topic (docs/state.md:124,176-197)
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.expressions import (
            compile_expr,
        )
        key_col = F.to_json(F.struct(
            compile_expr(unique_expression, ctx_for(commands)).alias("__u")
        ))
    else:
        key_col = F.col("_id").cast("string")
    src = commands.select(
        key_col.alias("__key"),
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("__json"),
        (F.col(order_col) if order_col else F.lit(0)).alias("__order"),
    )

    def fold(key, pdf_iter, state):
        import pandas as pd

        cur = json.loads(state.get[0]) if state.exists else None
        out_rows = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("__order")
            cmds = [json.loads(r) for r in pdf["__json"]]
            if unique_expression is not None and cmds:
                inst = (cur or {}).get("_id") or cmds[0].get("_id")
                cmds = [{**c, "_id": inst} for c in cmds]
            recs = reduce_commands(
                cur, cmds, reducer, agg_type,
                validators=validators, preprocessors=preprocessors,
                part_preprocessor=part_preprocessor,
                resolver=href_lookup,
            )
            for r in recs:
                out_rows.append(
                    (r["purpose"], json.dumps(r["doc"]),
                     r["doc"].get("_id"))
                )
                if r["purpose"] == "aggregate":
                    cur = r["doc"]
        state.update((json.dumps(cur or {}),))
        yield pd.DataFrame(out_rows, columns=["purpose", "value", "_id"])

    return src.groupBy("__key").applyInPandasWithState(
        fold,
        outputStructType="purpose string, value string, _id string",
        stateStructType="state string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# aggregate fan-out: one query per aggregate part, five outputs
# --------------------------------------------------------------------------

PURPOSES = ("aggregate", "command", "event", "event-full", "reply")

# writer formats that exist only as streaming sinks
_STREAM_ONLY_FORMATS = ("foreachBatch", "foreach", "console")

# name of the fan-out query's observation: rows per sink and micro-batch
FANOUT_OBSERVATION = "json_streams.fanout"


class FanOutError(ValueError):
    """An aggregate part's sink writer that the one-query fan-out cannot
    turn into a batch write without changing what the sink stores.
    ``StreamingApp.start`` raises it before any query starts."""


def _purpose_view(folded: DataFrame, purpose: str) -> DataFrame:
    """One of a ``streaming_aggregate`` fold's five output streams."""
    return folded.filter(F.col("purpose") == purpose).select("_id", "value")


def _hadoop_path(spark: SparkSession, *parts):
    """A Hadoop ``Path`` and its file system: checkpoints and outputs may
    live on any file system Spark can write to."""
    path = spark._jvm.org.apache.hadoop.fs.Path(*parts)
    return path, path.getFileSystem(spark._jsc.hadoopConfiguration())


class _BatchSink:
    """The batch write that a sink factory's ``DataStreamWriter`` stands
    for: the same format, options minus ``checkpointLocation`` and
    ``queryName``, and partition columns, in append mode.  A ``memory``
    writer appends to the temp view its ``queryName`` names.  A writer
    over a projection of the ``df`` it was given carries that projection
    as ``writer.projection`` (``kafka_sink``); a ``foreachBatch`` writer
    carries its function as ``writer.foreach_batch`` (collection sinks).

    PySpark keeps none of a writer's settings on the Python side, so they
    are read from the private fields of the JVM writer
    (``org.apache.spark.sql.classic.DataStreamWriter`` in Spark 4.1);
    ``TestAggregateFanOut.test_writer_translation`` pins those names."""

    def __init__(self, spark: SparkSession, name: str, df: DataFrame,
                 writer):
        jw = writer._jwrite

        def field(attr):
            f = jw.getClass().getDeclaredField(attr)
            f.setAccessible(True)
            return f.get(jw)

        options = {}
        it = field("extraOptions").originalMap().iterator()
        while it.hasNext():
            kv = it.next()
            options[kv._1()] = kv._2()
        # writer options are case-insensitive, as in Spark
        keys = {k.lower(): k for k in options}
        self.checkpoint = options.pop(keys.get("checkpointlocation"), None)
        self.view = options.pop(keys.get("queryname"), None)
        self.options = options
        cols = field("partitioningColumns")
        self.partition_by = [cols.get().apply(i)
                             for i in range(cols.get().size())] \
            if cols.isDefined() else []
        self.format = field("source")
        self.trigger = field("trigger")
        self.projection = getattr(writer, "projection", None)
        self.foreach_batch = getattr(writer, "foreach_batch", None) \
            if self.format == "foreachBatch" else None
        self.spark, self.name = spark, name

        if self.format in _STREAM_ONLY_FORMATS and self.foreach_batch is None:
            raise FanOutError(
                f"sink {name}: format {self.format!r} has no batch "
                "equivalent, so an aggregate part's fan-out cannot write it")
        mode = field("outputMode").toString()
        if mode != "Append":
            raise FanOutError(
                f"sink {name}: output mode {mode}; an aggregate part's "
                "fan-out appends each micro-batch")
        ds = field("ds")
        if not ds.equals(df._jdf) and not (
                self.projection is not None
                and ds.queryExecution().analyzed().sameResult(
                    self.projection(df)._jdf.queryExecution().analyzed())):
            raise FanOutError(
                f"sink {name}: the writer writes another DataFrame than the "
                "one it was given and carries no projection that yields "
                "it; an aggregate part's fan-out could not reproduce it")
        path = options.get(keys.get("path"))
        if path is not None:
            log, fs = _hadoop_path(spark, path, "_spark_metadata")
            if fs.exists(log):
                raise FanOutError(
                    f"sink {name}: {path} holds a streaming file-sink log "
                    "(_spark_metadata) from a per-sink query; readers "
                    "would ignore files appended outside it")
        if self.format == "memory":
            if self.view is None:
                raise FanOutError(f"sink {name}: a memory writer needs a "
                                  "queryName to name its view")
            self.rows: list = []
            spark.createDataFrame([], df.schema) \
                .createOrReplaceTempView(self.view)

    def write(self, df: DataFrame, epoch: int) -> None:
        if self.projection is not None:
            df = self.projection(df)
        if self.foreach_batch is not None:
            self.foreach_batch(df, epoch)
        elif self.format == "memory":
            self.rows += df.collect()
            self.spark.createDataFrame(self.rows, df.schema) \
                .createOrReplaceTempView(self.view)
        else:
            w = df.write.format(self.format).options(**self.options)
            if self.partition_by:
                w = w.partitionBy(*self.partition_by)
            w.mode("append").save()


def _fan_out(spark: SparkSession, part: str, folded: DataFrame,
             sinks: list[tuple[str, _BatchSink]]):
    """The one streaming query of aggregate part ``part`` (its name): its
    ``foreachBatch`` persists the fold's micro-batch, writes each
    ``(purpose, sink)`` in turn, keyed by the batch id, and unpersists
    it.  The observation ``FANOUT_OBSERVATION`` counts each batch's rows
    per sink, for ``attach_metrics_listener``.

    Its checkpoint is ``fanout`` under the aggregate sink's
    ``checkpointLocation``.  The sinks are written in a fixed order, so
    one marker per epoch, ``written/<epoch>``, holds how many have
    written it; a replayed epoch resumes after them, so every output is
    written once and all five stand at the same batch.  A finished epoch
    drops the previous epoch's marker."""
    agg = sinks[0][1]
    if agg.checkpoint is None:
        raise FanOutError(
            f"sink {agg.name}: needs a checkpointLocation; the aggregate "
            "part's fan-out query checkpoints under it")
    differ = [s.name for _, s in sinks if not s.trigger.equals(agg.trigger)]
    if differ:
        raise FanOutError(
            f"sinks {', '.join(differ)}: trigger differs from "
            f"{agg.name}'s; an aggregate part's five sinks share one query")
    checkpoint = agg.checkpoint.rstrip("/") + "/fanout"
    written, fs = _hadoop_path(spark, checkpoint, "written")
    Path = spark._jvm.org.apache.hadoop.fs.Path

    def write_batch(batch: DataFrame, epoch: int) -> None:
        mark = Path(written, str(epoch))
        done = 0
        if fs.exists(mark):
            stream = fs.open(mark)
            done = max(0, stream.read())  # -1: cut short while written
            stream.close()
        batch.persist()
        try:
            for i in range(done, len(sinks)):
                purpose, sink = sinks[i]
                sink.write(_purpose_view(batch, purpose), epoch)
                out = fs.create(mark, True)
                out.write(i + 1)
                out.close()
            fs.delete(Path(written, str(epoch - 1)), False)
        finally:
            batch.unpersist()

    observed = folded.observe(FANOUT_OBSERVATION, *[
        F.count_if(F.col("purpose") == purpose).alias(sink.name)
        for purpose, sink in sinks])
    writer = observed.writeStream.foreachBatch(write_batch) \
        .queryName(part).option("checkpointLocation", checkpoint)
    writer._jwrite.trigger(agg.trigger)
    return writer


# --------------------------------------------------------------------------
# app runner
# --------------------------------------------------------------------------

class StreamingApp:
    """Run an application's parts as streaming queries.

    ``catalog`` maps topic names to *streaming* DataFrames (kafka_source /
    file_stream_catalog).  ``sink_factory(name, df) -> DataStreamWriter``
    gives the writer of each sink in ``sinks`` (tests use memory sinks;
    production uses kafka_sink/foreachBatch collection sinks).  Each
    sink of a stream, merge or join part runs as its own query.

    An aggregate part runs as ONE query, named after the part, whose
    ``foreachBatch`` writes its five sinks (``_fan_out``): each writer
    becomes the batch write it stands for (``_BatchSink``).  So a writer
    must write the ``df`` it was given or carry the projection it applies
    (``kafka_sink`` does), must append, must have a batch equivalent (a
    ``foreachBatch`` writer carries its function, as collection sinks
    do), and the five writers must share one trigger; the aggregate
    sink's writer must set a ``checkpointLocation``.  ``sinks`` still
    holds the five per-purpose streaming views, for factories that
    inspect ``df`` and for callers that start a single sink themselves.
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: dict,
        catalog: dict[str, DataFrame],
        pctx: Optional[PipelineContext] = None,
    ):
        from pincette_json_streams_spark.plans.planner import Application

        self.spark = spark
        self.pctx = pctx or PipelineContext(catalog=dict(catalog))
        # planner compiles identically on streaming DataFrames: stages are
        # mode-agnostic; aggregate parts are swapped for the stateful op
        spec = dict(spec)
        agg_parts = [p for p in spec.get("parts", [])
                     if p.get("type") == "aggregate"]
        spec["parts"] = [p for p in spec["parts"]
                         if p.get("type") != "aggregate"]
        self.folds: dict[str, DataFrame] = {}  # aggregate type -> fold
        self.aggregates: dict[str, DataFrame] = {}
        for part in agg_parts:
            app_name = spec.get("application", "app")
            agg_type = part.get("aggregateType", part.get("name"))
            full = f"{app_name}-{agg_type}" if "-" not in agg_type \
                else agg_type
            source = catalog[f"{full}-command"]
            folded = self.folds[full] = streaming_aggregate(
                source, full, part.get("commands"),
                order_col=part.get("orderBy"),
                script_imports=part.get("scriptImports"),
                # providing a lookup IS the streaming opt-in for jes
                # href resolution (batch uses resolveHrefs + join)
                href_lookup=getattr(self.pctx, "href_lookup", None),
            )
            for purpose in PURPOSES:
                self.aggregates[f"{full}-{purpose}"] = _purpose_view(
                    folded, purpose)
        if spec["parts"]:
            self.app = Application(spec, catalog, self.pctx)
            self.sinks = dict(self.app.run_batch())
            self.streams = dict(self.app.streams)
        else:
            self.app, self.sinks, self.streams = None, {}, {}
        self.sinks.update(self.aggregates)
        self.streams.update(self.aggregates)
        self.query_sinks: list[tuple[object, tuple[str, ...]]] = []

    def start(
        self,
        sink_factory: Callable[[str, DataFrame], "object"],
        available_now: bool = False,
    ) -> list:
        """Start the app's queries and return them: one per sink of a
        stream, merge or join part, one per aggregate part.
        ``query_sinks`` pairs each query with the sinks it writes.  All
        writers are built before the first query starts, so a
        ``FanOutError`` leaves nothing running."""
        writers = [(sink_factory(name, df), (name,))
                   for name, df in self.sinks.items()
                   if name not in self.aggregates]
        for full, folded in self.folds.items():
            sinks = []
            for purpose in PURPOSES:
                name = f"{full}-{purpose}"
                df = self.sinks[name]
                sinks.append((purpose, _BatchSink(
                    self.spark, name, df, sink_factory(name, df))))
            writers.append((_fan_out(self.spark, full, folded, sinks),
                            tuple(s.name for _, s in sinks)))
        self.query_sinks = []
        for writer, names in writers:
            if available_now:
                writer = writer.trigger(availableNow=True)
            self.query_sinks.append((writer.start(), names))
        return [q for q, _ in self.query_sinks]

    def start_delay_redelivery(
        self,
        topic_dirs: dict[str, str],
        schemas: dict[str, str],
        base_dir: str,
        buckets: int = 8,
    ) -> list:
        """Start the $delay redelivery loop (spool -> timed hold ->
        append into the target topic directory).  Returns the queries;
        callers stop them when shutting the app down."""
        import os

        routed = [s for s in getattr(self.pctx, "sends", [])
                  if s.isStreaming and "deliver_after" in s.columns]
        if not routed:
            return []
        spool = os.path.join(base_dir, "delay-spool")
        queries = [
            delay_spool_sink(
                r, spool, os.path.join(base_dir, f"ckpt-spool-{i}")
            ).start()
            for i, r in enumerate(routed)
        ]
        released = delay_release_stream(self.spark, spool, buckets)
        queries.append(
            redelivery_sink(
                released, topic_dirs, schemas,
                os.path.join(base_dir, "ckpt-release"),
            ).trigger(processingTime="500 milliseconds").start()
        )
        return queries

    def run_until_drained(
        self, sink_factory, timeout: int = 120,
        collect_metrics: bool = False,
    ):
        """availableNow run: process everything currently in the sources,
        then stop — the golden-test execution mode (mirrors the reference's
        `test` command draining behavior, Test.java:429-512).

        With ``collect_metrics=True`` returns per-sink counters drawn
        from the queries' progress events — rows in, batches, and any
        ``observe()`` metrics ($probe's topic-less form) — the
        reference's per-part message counters (App.java:948-974).  The
        five sinks of an aggregate part share their query's counters."""
        queries = self.start(sink_factory, available_now=True)
        for q in queries:
            q.awaitTermination(timeout)
        if not collect_metrics:
            return None
        out: dict[str, dict] = {}
        for q, names in self.query_sinks:
            rows = 0
            batches = 0
            observed: dict = {}
            for p in q.recentProgress:
                rows += int(p.get("numInputRows", 0) or 0)
                batches += 1
                for k, v in (p.get("observedMetrics") or {}).items():
                    observed[k] = v
            for name in names:
                out[name] = {"numInputRows": rows, "numBatches": batches,
                             "observedMetrics": dict(observed)}
        return out

    def run_supervised(
        self,
        sink_factory,
        max_restarts: int = 3,
        timeout: int = 120,
    ):
        """availableNow run with restart-on-error: a failed query is
        restarted from its checkpoint up to ``max_restarts`` times —
        the reference's Run loop keeps apps alive the same way
        (restart-on-error with the resume token); Spark's checkpoint
        makes the retry exactly-once-per-source-offset.  Raises the
        last error when a query keeps failing."""
        from pyspark.errors import StreamingQueryException

        attempts = 0
        while True:
            try:
                self.run_until_drained(sink_factory, timeout=timeout)
                return attempts
            except StreamingQueryException:
                attempts += 1
                if attempts > max_restarts:
                    raise

def attach_metrics_listener(spark: SparkSession, counter, application: str):
    """Forward per-query streaming throughput to a counter emitter —
    the reference's automatic OpenTelemetry ``json_streams.messages``
    observable counters per part in/out (docs/telemetry.md:35-47,
    attributes application/part/profile.frame.*).

    ``counter(name, value, attributes)`` matches
    ``OtlpHttpExporter.emit_counter``; the listener runs driver-side on
    every micro-batch progress event and emits ``<query>.in`` with the
    batch's ``numInputRows`` and ``<query>.out`` with the sink's
    ``numOutputRows`` (skipped when the sink doesn't report).  An
    aggregate part's query is named after the part and emits
    ``<sink>.out`` for each of its five sinks from the rows its
    micro-batch holds for that sink.  Returns the listener so callers
    can ``spark.streams.removeListener`` it."""
    from pyspark.sql.streaming import StreamingQueryListener

    frame_attrs = {
        "application": application,
        "profile.frame.type": "json-streams",
    }

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            part = p.name or str(p.id)
            try:
                n_in = int(p.numInputRows)
                counter("json_streams.messages", n_in,
                        {**frame_attrs, "part": f"{part}.in"})
                n_out = int(p.sink.numOutputRows)
                if n_out >= 0:  # -1 = sink doesn't report
                    counter("json_streams.messages", n_out,
                            {**frame_attrs, "part": f"{part}.out"})
                fan = (p.observedMetrics or {}).get(FANOUT_OBSERVATION)
                for sink, n in (fan.asDict() if fan else {}).items():
                    counter("json_streams.messages", int(n),
                            {**frame_attrs, "part": f"{sink}.out"})
            except Exception:
                pass  # telemetry must never break the stream

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
