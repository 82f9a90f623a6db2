"""Benchmark-side tracing: spans around calls into each layer, and the
Spark engine's own job, stage and SQL metrics read from its status
stores (no UI needed).

Spans live in memory and are printed when the run ends.  Nothing here
reaches inside the program: every span wraps a public call made by the
benchmark itself.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans ``(name, start, end, parent)``; a disabled tracer records
    nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack
                           else None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                for s in self.spans if s["end"] is not None]


@contextmanager
def spans_around(tracer: Tracer, targets):
    """Wrap each ``(owner, attribute, span name)`` callable in a span
    while the block runs, for calls the benchmark cannot make itself
    (a query function calling into a layer); restored afterwards."""
    saved = []
    try:
        for owner, attr, name in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, _spanned(tracer, name, fn))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def _spanned(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return call


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d.]+)\s*([A-Za-z]*)")

# SQL metric names (Spark's Python and state-store operators) -> our keys
SQL_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric -> bytes, seconds or a count.  Aggregated
    values read ``total (min, med, max ...)\\n<total> (<min>, ...)``."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num, unit = float(m.group(1)), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkStats:
    """Jobs, stages and SQL metrics created after a ``snapshot()``; ids
    are monotonic, so "new" means "with a higher id"."""

    def __init__(self, spark):
        gw = spark.sparkContext._gateway
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        return self._store.stageList(None, False, False,
                                     self._no_quantiles, None)

    def _executions(self):
        return self._sql.executionsList()

    @staticmethod
    def _max_id(seq, getter) -> int:
        return max((getter(seq.apply(i)) for i in range(seq.size())),
                   default=-1)

    def snapshot(self) -> tuple[int, int, int]:
        return (self._max_id(self._jobs(), lambda j: j.jobId()),
                self._max_id(self._stages(), lambda s: s.stageId()),
                self._max_id(self._executions(),
                             lambda e: e.executionId()))

    def jobs_since(self, snap) -> int:
        jobs = self._jobs()
        return sum(1 for i in range(jobs.size())
                   if jobs.apply(i).jobId() > snap[0])

    def since(self, snap) -> dict:
        out = defaultdict(float)
        out["jobs"] = self.jobs_since(snap)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= snap[1]:
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += (s.memoryBytesSpilled()
                                   + s.diskBytesSpilled())
            out["gc_s"] += s.jvmGcTime() / 1e3
        execs = self._executions()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= snap[2]:
                continue
            wanted = {}
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in SQL_METRICS:
                    wanted[m.accumulatorId()] = SQL_METRICS[m.name()]
            if not wanted:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for acc, key in wanted.items():
                v = values.get(acc)
                if v is not None and v.isDefined():
                    out[key] += parse_sql_metric(v.get())
        for key in SQL_METRICS.values():
            out.setdefault(key, 0.0)
        return dict(out)


def plan_nodes(jplan) -> int:
    """Operator count of a physical plan: one tree line per node, minus
    the adaptive plan's ``== Final Plan ==`` style headers."""
    return sum(1 for line in jplan.treeString().splitlines()
               if line.strip() and "==" not in line)


# streaming progress: durationMs phase -> metric suffix
TRIGGER_PHASES = {
    "latestOffset": "latest_offset",
    "getBatch": "get_batch",
    "queryPlanning": "query_planning",
    "addBatch": "add_batch",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
}


def progress_totals(progresses: list[dict]) -> dict:
    """Sum ``StreamingQueryProgress`` dicts from several queries."""
    out = defaultdict(float)
    for p in progresses:
        out["batches"] += 1
        out["input_rows"] += p.get("numInputRows", 0) or 0
        for phase, key in TRIGGER_PHASES.items():
            out[f"trigger.{key}_ms"] += (p.get("durationMs") or {}).get(
                phase, 0)
        for op in p.get("stateOperators") or []:
            out["state_rows"] += op.get("numRowsTotal", 0)
            out["state_memory_bytes"] += op.get("memoryUsedBytes", 0)
            out["state_commit_ms"] += op.get("commitTimeMs", 0)
    return dict(out)
