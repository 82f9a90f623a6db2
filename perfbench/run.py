"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload agg_commands --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed under ``.perfbench-work/`` (not timed), starts Spark sized to the
host, sets the app up (session, compile, warm-up passes), repeats
timed passes for ``--seconds``, checks the outputs against a reference
computation, and prints one JSON line of metrics last.  ``--trace 1``
prints the per-layer metrics instead of the end-to-end ones.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# fixed prefixes of the per-layer metric names; the batch ones follow
# BatchKernels.QUERIES (see per_layer_names)
LAYER_METRICS = {
    "plans.validate_s": "s", "plans.compile_s": "s",
    "operators.compile_pipeline_s": "s", "catalyst.plan_s": "s",
    "operators.physical_plan_nodes": "count",
    "streaming.queries": "count",
    "streaming.source_reads_per_event": "ratio",
    "streaming.batches": "count",
    "streaming.trigger.latest_offset_ms": "ms",
    "streaming.trigger.get_batch_ms": "ms",
    "streaming.trigger.query_planning_ms": "ms",
    "streaming.trigger.add_batch_ms": "ms",
    "streaming.trigger.wal_commit_ms": "ms",
    "streaming.trigger.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "aggregate.reduce_commands_per_s": "1/s",
    "aggregate.rejected_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "spark.python_run_s": "s", "spark.python_init_s": "s",
    "host.steal_share": "ratio", "host.others_cpu_share": "ratio",
    "host.process_cpu_s": "s",
    "host.load1": "count",
    "trace.untraced_throughput_per_s": "1/s",
    "trace.traced_throughput_per_s": "1/s",
    "trace.overhead_share": "ratio",
}

E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s",
             "latency_p50_ms": "ms", "latency_p99_ms": "ms",
             "peak_rss_mb": "MB"}


def per_layer_names() -> dict[str, str]:
    from perfbench.workloads import BatchKernels

    names = dict(LAYER_METRICS)
    for q in BatchKernels.QUERIES:
        names.update({f"batch.{q}.build_s": "s", f"batch.{q}.exec_s": "s",
                      f"batch.{q}.jobs": "count"})
    return names


def weighted_quantile(samples: list, q: float) -> float:
    """``samples`` are ``(value, weight)``; the value at which the
    cumulative weight first reaches ``q`` of the total, or the mean of
    it and the next value when it lands exactly there (the median of an
    even count)."""
    ordered = sorted(samples)
    total = sum(w for _, w in ordered)
    acc = 0.0
    for i, (value, weight) in enumerate(ordered):
        acc += weight
        if acc >= q * total:
            if acc == q * total and i + 1 < len(ordered):
                return (value + ordered[i + 1][0]) / 2
            return value
    return ordered[-1][0]


def tail_quantile(n: int) -> float:
    """The highest percentile (at most p99) with at least ten samples
    beyond it; with fewer than 20 samples there is none, and the tail
    is the slowest sample."""
    return 1.0 if n < 20 else min(0.99, 1.0 - 10.0 / n)


def spark_conf(work: str) -> dict[str, str]:
    """Spark sized to this host: every core, shuffle partitions equal to
    the cores, a JVM heap of an eighth of RAM capped at 2 GiB (the
    inputs are small, and a lower cap keeps the heap's growth, and so
    the RSS, closer from run to run), and every temporary file inside
    the run's work directory."""
    from perfbench.host import cores, mem_total_bytes

    n = cores()
    heap_mb = max(1024, min(2048, mem_total_bytes() // 8 // 2**20))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(n),
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
        "spark.sql.streaming.schemaInference": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # Python workers import the program from the checkout, whatever
        # the working directory
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    }


def timed_loop(wl, ctx, seconds: float, tag: str) -> list:
    from perfbench.host import Witness

    passes = []
    deadline = time.perf_counter() + seconds
    witness = Witness(os.getpid())
    while True:
        witness.start()
        passes.append(wl.run_pass(ctx, f"{tag}{len(passes)}"))
        witness.stop()
        # a workload timed cold has one cold pass; later ones are warm
        if (time.perf_counter() >= deadline
                or getattr(wl, "cold_timed", False)):
            break
    passes[-1].extra["host"] = witness.report()
    return passes


def summarize(passes: list) -> dict:
    items = sum(p.items for p in passes)
    samples = [s for p in passes for s in p.latencies]
    n = sum(w for _, w in samples)
    return {
        "throughput_per_s": statistics.median(
            p.items / p.seconds for p in passes),
        "latency_p50_ms": weighted_quantile(samples, 0.5),
        "latency_p99_ms": weighted_quantile(samples, tail_quantile(n)),
        "latency_samples": n,
        "latency_tail_quantile": tail_quantile(n),
        "items": items,
        "passes": len(passes),
        "pass_s": [p.seconds for p in passes],
    }


def run(args) -> tuple[dict, dict]:
    from perfbench.host import RssSampler, cores, mem_total_bytes
    from perfbench.tracing import SparkStats, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    work = tempfile.mkdtemp(prefix="run-", dir=args.work_root)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    spark = None
    try:
        wl = WORKLOADS[args.workload]()
        t_prepare = time.perf_counter()
        wl.prepare(args.seed, work)
        tracer = Tracer(args.trace == 1)
        conf = spark_conf(work)
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            from pyspark.sql import SparkSession

            builder = SparkSession.builder
            for k, v in conf.items():
                builder = builder.config(k, v)
            spark = builder.getOrCreate()
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, work, tracer)
            wl.compile(ctx)
            compiled_s = time.perf_counter() - t0
            wl.warm_up(ctx)
            setup_s = time.perf_counter() - t0

            timed: list = []  # every timed pass, for the checks

            def loop(tag, traced=False):
                ctx.tracer = tracer if traced else Tracer(False)
                try:
                    out = timed_loop(wl, ctx, args.seconds, tag)
                finally:
                    ctx.tracer = tracer
                timed.extend(out)
                return out

            passes = loop("pass")
            traced = None
            if args.trace:
                ctx.stats = SparkStats(spark)
                snap = ctx.stats.snapshot()
                traced = loop("traced", traced=True)
                spark_layer = ctx.stats.since(snap)
                # untraced passes on both sides of the traced ones, so
                # that warming up during the run does not read as
                # (negative) tracing overhead; a cold pass is no
                # reference at all
                after = loop("after")
                reference = (after if getattr(wl, "cold_timed", False)
                             else passes + after)
        t_check = time.perf_counter()
        checked = wl.check(ctx, timed)
        check_s = time.perf_counter() - t_check
        summary = summarize(passes)
        attempted = sum(p.items for p in timed)
        import pyspark

        info = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "pyspark": pyspark.__version__, "spark": spark.version,
            "python": sys.version.split()[0], "cores": cores(),
            "mem_total_mb": mem_total_bytes() / 2**20,
            "config": {k: v for k, v in conf.items()
                       if not k.startswith("spark.executorEnv")},
            "setup": {"session_s": session_s,
                      "compile_s": compiled_s - session_s,
                      "warm_up_s": setup_s - compiled_s},
            "prepare_s": t0 - t_prepare, "check_s": check_s,
            **{k: v for k, v in summary.items()},
            **wl.named_metrics(summary),
            "host": passes[-1].extra["host"],
            "peak_rss_parts": rss.peak_parts,
            "failed_ratio": checked["failed_items"] / attempted,
            "check_problems": checked["problems"],
        }
        if traced is None:
            metrics = {
                "setup_s": setup_s,
                "throughput_per_s": summary["throughput_per_s"],
                "latency_p50_ms": summary["latency_p50_ms"],
                "latency_p99_ms": summary["latency_p99_ms"],
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = E2E_UNITS
        else:
            metrics = layer_metrics(wl, ctx, traced, spark_layer,
                                    summarize(reference))
            units = per_layer_names()
            info["spans"] = ctx.tracer.dump()
        result = {
            "correct": not checked["problems"],
            "attempted": attempted,
            "failed": checked["failed_items"],
            "metrics": {k: {"value": float(metrics.get(k, 0.0)),
                            "unit": u} for k, u in units.items()},
        }
        return info, result
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process below this one
    (the Python workers and their daemon), and wait until each has
    ended: ``spark.stop()`` alone leaves the JVM to exit after this
    process does."""
    from pyspark import SparkContext

    from perfbench.host import descendants, end_processes, reap_children

    # on an error path the JVM may be unreachable already; the
    # processes are stopped whatever these calls raise
    try:
        if spark is not None:
            spark.stop()
    except Exception as e:
        print(f"perfbench: spark.stop: {e!r}", file=sys.stderr)
    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
        except Exception as e:
            print(f"perfbench: gateway shutdown: {e!r}", file=sys.stderr)
        SparkContext._gateway = SparkContext._jvm = None
    left = end_processes(pids + descendants(os.getpid()))
    if left:
        print(f"perfbench: signalled processes {left} that did not exit",
              file=sys.stderr)
    # every descendant has ended; the ones orphaned on the way are this
    # process's children now (see become_subreaper)
    if not reap_children():
        print("perfbench: children still running at exit", file=sys.stderr)


def layer_metrics(wl, ctx, traced, spark_layer, untraced_summary) -> dict:
    out = dict(wl.layer_metrics(ctx, traced))
    n = len(traced)
    for key, value in spark_layer.items():
        out[f"spark.{key}"] = value / n
    host = traced[-1].extra["host"]
    out.update({f"host.{k}": v for k, v in host.items()})
    traced_tput = summarize(traced)["throughput_per_s"]
    out["trace.untraced_throughput_per_s"] = \
        untraced_summary["throughput_per_s"]
    out["trace.traced_throughput_per_s"] = traced_tput
    out["trace.overhead_share"] = \
        untraced_summary["throughput_per_s"] / traced_tput - 1.0
    return out


def main(argv=None) -> int:
    # import the benchmark and the program from the checkout root, not
    # from this script's directory
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT
    elif ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.host import become_subreaper
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a SIGTERM unwinds like an error, so the run still stops Spark and
    # every process it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(
                ROOT, "pincette_json_streams_spark"))):
        print(f"perfbench: no program to measure under {ROOT}",
              file=sys.stderr)
        return 2
    args.work_root = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(args.work_root, exist_ok=True)
    # the JVM and the Python workers inherit file descriptor 1; send
    # everything but the two result lines to stderr, so nothing can
    # split or follow the result line
    with os.fdopen(os.dup(1), "w") as out:
        os.dup2(2, 1)
        info, result = run(args)
        print(json.dumps({"perfbench": info}, default=str), file=out)
        print(json.dumps(result), file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
