"""Streaming micro-batch throughput benchmark (BASELINE.md's streaming
plan): run pipelines over the `events` table as an unbounded file-stream
source, drain with availableNow, report msgs/sec.

The reference's design capacity is 50 msg/s per app instance
(1000 / averageMessageTimeEstimate of 20 ms, Work.java:131-133); the
Spark engine should clear that by orders of magnitude per core.

Usage: python scripts/bench_streaming.py [sf_dir]
Prints one JSON line: {"metric": "streaming_msgs_per_sec", ...}.
``measure(spark, sf_dir)`` is importable — bench.py embeds its result
as the `streaming` key of the round's JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# stream parts under test: identity-ish $match (the reference's
# apples-to-apples baseline) and a stateful update-mode $group
SPECS = {
    "identity_match": {
        "application": "bench-identity", "parts": [
            {"type": "stream", "name": "s", "fromTopic": "events",
             "toTopic": "out", "pipeline": [
                 {"$match": {"event_id": {"$exists": True}}},
             ]},
        ],
    },
    "transform_chain": {
        "application": "bench-transform", "parts": [
            {"type": "stream", "name": "s", "fromTopic": "events",
             "toTopic": "out", "pipeline": [
                 {"$match": {"value": {"$gte": 0}}},
                 {"$addFields": {"bucket": {"$toInt": {"$divide":
                                                       ["$value", 10]}},
                                 "kind": {"$toUpper": "$event_type"}}},
                 {"$project": {"_id": 0, "event_id": 1, "user_id": 1,
                               "bucket": 1, "kind": 1}},
             ]},
        ],
    },
    "grouped_update": {
        "application": "bench-group", "parts": [
            {"type": "stream", "name": "s", "fromTopic": "events",
             "toTopic": "out", "pipeline": [
                 {"$group": {"_id": "$event_type",
                             "n": {"$sum": 1},
                             "total": {"$sum": "$value"}}},
            ]},
        ],
    },
}


def measure(spark, sf_dir: str) -> dict:
    """Drain the three benchmark pipelines over the events table as a
    file stream; -> {"queries": {name: msgs/sec}, "n_events": n,
    "msgs_per_sec": best}."""
    from pincette_json_streams_spark.streaming.runtime import (
        StreamingApp,
        file_stream_catalog,
    )

    events_path = os.path.join(sf_dir, "events.parquet")
    # schema drifts between testdata drops (TIMESTAMP(NANOS)-as-long vs
    # timestamp[us]); derive the stream schema from the actual footer
    events_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in spark.read.parquet(events_path).schema.fields
    )
    n_events = spark.read.parquet(events_path).count()
    tmp = tempfile.mkdtemp(prefix="stream_bench_")
    topic_dir = os.path.join(tmp, "events")
    os.makedirs(topic_dir)
    # the file-stream source wants a topic *directory* (appends = files)
    os.symlink(events_path, os.path.join(topic_dir, "events.parquet"))
    results = {}
    try:
        # Each pipeline drains THREE times with a fresh checkpoint: the
        # first pass carries one-time costs (codegen/JIT warm-up,
        # stream-init bookkeeping) that dominate a sub-second drain and
        # made the metric swing ~40% round-over-round (r4 106k vs r5 74k
        # was exactly this — warm passes measure 240k+ on the same
        # build), and a SINGLE warm pass still wobbled 10-12% with host
        # noise (r6->r7 grouped_update/aggregate dips with no engine
        # change).  The reported number is the min over the WARM passes
        # — the same min-of-N protocol as the batch record; cold is
        # reported separately.  A real deployment runs micro-batch N,
        # not micro-batch 0, forever.
        for name, spec in SPECS.items():
            per_pass = []
            for warm in range(3):
                catalog = file_stream_catalog(
                    spark, {"events": topic_dir}, {"events": events_schema})
                app = StreamingApp(spark, spec, catalog)

                def sink(sink_name, df, _n=name, _w=warm):
                    mode = ("update" if _n == "grouped_update"
                            else "append")
                    return (df.writeStream.format("noop").outputMode(mode)
                            .option("checkpointLocation",
                                    os.path.join(tmp, f"{_n}-{_w}",
                                                 sink_name)))

                t0 = time.time()
                app.run_until_drained(sink, timeout=300)
                per_pass.append(time.time() - t0)
            results[name] = round(n_events / min(per_pass[1:]), 1)
            results[f"{name}_cold"] = round(n_events / per_pass[0], 1)

        # stateful event-sourcing aggregate (BASELINE anchor 3: the
        # reference's 50 commands/s/instance design capacity): every
        # event becomes a put command keyed by user, folded through
        # applyInPandasWithState — versions/_seq/event emission included.
        # The part runs as ONE query writing its five sinks.  Figures
        # recorded while each sink ran its own query measured five folds
        # per command (BENCH_r13's 9,252/s among them) and do not compare
        # with later ones.
        cmd_dir = os.path.join(tmp, "agg-cmds")
        (spark.read.parquet(events_path)
         .selectExpr("CAST(user_id AS STRING) AS _id",
                     "'put' AS _command",
                     "map('sub', 'bench') AS _jwt",
                     "event_id", "value")
         .write.parquet(cmd_dir))
        cmd_schema = ("_id string, _command string, "
                      "_jwt map<string,string>, event_id long, "
                      "value double")
        # three passes like the pipelines above (min of the two warm
        # drains): the cold stateful drain carries the Arrow/state-store
        # warm-up (isolated 3-trial run: 10.4k cold -> 17.5k/20.3k warm
        # on the same build)
        agg_times = []
        for warm in range(3):
            catalog = file_stream_catalog(
                spark, {"bench-acct-command": cmd_dir},
                {"bench-acct-command": cmd_schema})
            app = StreamingApp(spark, {
                "application": "bench", "parts": [
                    {"type": "aggregate", "aggregateType": "acct"},
                ],
            }, catalog)

            def agg_sink(sink_name, df, _w=warm):
                # the aggregate fold runs applyInPandasWithState, APPEND
                return (df.writeStream.format("noop").outputMode("append")
                        .option("checkpointLocation",
                                os.path.join(tmp, f"agg-{_w}", sink_name)))

            t0 = time.time()
            app.run_until_drained(agg_sink, timeout=600)
            agg_times.append(time.time() - t0)
        results["aggregate_commands"] = \
            round(n_events / min(agg_times[1:]), 1)
        results["aggregate_commands_cold"] = \
            round(n_events / agg_times[0], 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "queries": results,
        "n_events": n_events,
        # headline = the best plain-pipeline drain; the stateful
        # aggregate rate is reported separately (different work unit)
        "msgs_per_sec": max(v for k, v in results.items()
                            if k != "aggregate_commands"
                            and not k.endswith("_cold")),
        "aggregate_commands_per_sec": results["aggregate_commands"],
        "reference_design_capacity_per_instance": 50,
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("streaming-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.schemaInference", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    m = measure(spark, sf_dir)
    print(json.dumps({
        "metric": "streaming_msgs_per_sec",
        "value": m["msgs_per_sec"],
        "unit": "msgs/sec",
        **m,
        "cpus": int(cpus),
    }))


if __name__ == "__main__":
    main()
