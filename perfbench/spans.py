"""Spans and counters for the traced benchmark run.

Spans are recorded from the benchmark's side only: ``instrument`` wraps
public functions of the package's modules for the life of one run, so
the package itself carries no tracing code. A span records its name,
start, end, parent and trace id (the micro-batch id, or the query and
its pass), plus the Spark jobs it launched and the py4j calls it made. All spans stay in memory until
the run writes them out.

Job counts come from the DAG scheduler's next job id, which only grows.
The status store's job list is bounded by ``spark.ui.retainedJobs`` and
evicts, so a count taken from its size goes wrong once a process has run
more jobs than that. Stage metrics are read for each top-level span right
after it ends, while its stages are still retained.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class JobCounter:
    """Jobs and stages submitted since construction, by id delta."""

    def __init__(self, spark) -> None:
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()
        self.job0 = self.next_job_id()

    def next_job_id(self) -> int:
        return int(self._sched.nextJobId())

    def next_stage_id(self) -> int:
        return int(self._sched.nextStageId())

    def jobs(self) -> int:
        return self.next_job_id() - self.job0


STAGE_FIELDS = ("run_ms", "cpu_ms", "shuffle_write_bytes", "spill_bytes", "tasks")


def stage_metrics(spark, stage_ids: range) -> dict[str, float]:
    """Summed executor metrics of the given stages (every attempt)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is fed by the asynchronous listener bus; drain it
    # so the stages of a job that just returned carry their task metrics
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(STAGE_FIELDS, 0)
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        except Py4JJavaError:  # a skipped stage has no data
            continue
        it = attempts.iterator()
        while it.hasNext():
            s = it.next()
            out["run_ms"] += int(s.executorRunTime())
            out["cpu_ms"] += int(s.executorCpuTime()) / 1e6
            out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            out["tasks"] += int(s.numCompleteTasks())
    return out


PLAN_COUNTS = ("exchanges", "broadcast_joins", "python_nodes")


def plan_counts(df) -> dict[str, int]:
    """Shuffle and broadcast exchanges, broadcast joins and Python
    evaluation nodes in a frame's physical plan after it has run: the
    final adaptive plan, with query stages and subqueries unwrapped.
    Reused exchanges are not counted; they do not run again."""
    out = dict.fromkeys(PLAN_COUNTS, 0)

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            out["exchanges"] += 1
        elif cls.startswith("BroadcastHashJoin") or cls.startswith("BroadcastNestedLoopJoin"):
            out["broadcast_joins"] += 1
        elif "Python" in cls or "Pandas" in cls or "InArrow" in cls:
            out["python_nodes"] += 1
        for child in seq(node.children()) + seq(node.subqueries()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return out


@dataclass(eq=False)
class Span:
    name: str
    start: float
    parent: "Span | None"
    trace: str | None
    jobs0: int
    calls0: int
    stage0: int
    end: float = 0.0
    jobs: int = 0
    calls: int = 0
    stages: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. Spans nest per thread: foreachBatch
    handlers run on the streaming query's callback thread."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.counter = JobCounter(spark)
        self.get_spark_s = 0.0
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self.reset()

    def reset(self) -> None:
        """Drop what was recorded so far (the warm-up)."""
        self.spans: list[Span] = []
        self.retries = 0
        self.commit_files: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if trace is None and parent is not None:
            trace = parent.trace
        s = Span(
            name,
            time.perf_counter(),
            parent,
            trace,
            self.counter.next_job_id(),
            self.py4j_calls,
            self.counter.next_stage_id(),
        )
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            s.jobs = self.counter.next_job_id() - s.jobs0
            s.calls = self.py4j_calls - s.calls0
            if parent is None:
                s.stages = stage_metrics(
                    self.spark, range(s.stage0, self.counter.next_stage_id())
                )

    def wrap(self, name: str, fn, trace_arg: int | None = None):
        """``fn`` under a span; ``trace_arg`` names the positional argument
        holding a micro-batch id, which becomes the span's trace id."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            trace = f"batch-{args[trace_arg]}" if trace_arg is not None else None
            with self.span(name, trace):
                return fn(*args, **kwargs)

        return traced

    # -- derived figures ---------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def totals(self, name: str) -> tuple[float, float, int]:
        """(ms, self ms, jobs) summed over a layer's spans. Self time is a
        span's duration minus that of its direct children, which run
        inside it on the same thread."""
        child_ms: dict[int, float] = {}
        for c in self.spans:
            if c.parent is not None:
                child_ms[id(c.parent)] = child_ms.get(id(c.parent), 0.0) + c.ms
        spans = self.named(name)
        total = sum(s.ms for s in spans)
        own = total - sum(child_ms.get(id(s), 0.0) for s in spans)
        return total, own, sum(s.jobs for s in spans)

    def totals_calls(self, name: str) -> int:
        return sum(s.calls for s in self.named(name))

    def top_level_stages(self) -> dict[str, float]:
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for s in self.spans:
            for k, v in s.stages.items():
                out[k] += v
        return out

    def dump(self, path: str) -> None:
        import json

        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = {
                    "id": i,
                    "name": s.name,
                    "parent": ids.get(id(s.parent)),
                    "trace": s.trace,
                    "start": s.start,
                    "end": s.end,
                    "jobs": s.jobs,
                    "py4j_calls": s.calls,
                    "stages": s.stages,
                }
                f.write(json.dumps(rec) + "\n")


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the package's public entry points in spans for one run and
    restore them afterwards."""
    import py4j.clientserver as cs

    from kafka_connect_bigquery_spark.operators import rollup, sketch
    from kafka_connect_bigquery_spark.sinks import warehouse
    from kafka_connect_bigquery_spark.streaming import pipeline

    patched: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    send = cs.ClientServerConnection.send_command

    def counted_send(conn, command):
        with tracer._lock:
            tracer.py4j_calls += 1
        return send(conn, command)

    patch(cs.ClientServerConnection, "send_command", counted_send)

    SP = pipeline.SinkPipeline
    patch(SP, "write_batch", tracer.wrap("pipeline.handler", SP.write_batch, trace_arg=2))
    patch(SP, "merge_batch", tracer.wrap("pipeline.handler", SP.merge_batch, trace_arg=2))
    patch(SP, "convert", tracer.wrap("pipeline.convert", SP.convert))
    retried = SP._retried

    def counted_retried(self, fn):
        attempts = 0

        def attempt():
            nonlocal attempts
            attempts += 1
            return fn()

        try:
            return retried(self, attempt)
        finally:
            tracer.retries += max(0, attempts - 1)

    patch(SP, "_retried", counted_retried)
    patch(pipeline, "split_by_table", tracer.wrap("routing.split", pipeline.split_by_table))
    patch(pipeline, "to_bq_shape", tracer.wrap("bq_shape.shape", pipeline.to_bq_shape))

    WH = warehouse.Warehouse
    for meth in ("append", "merge"):
        orig = getattr(WH, meth)

        def committed(self, df, table, *a, _orig=orig, _name=meth, **kw):
            before = _data_files(self.path(table))
            with tracer.span(f"warehouse.{_name}"):
                out = _orig(self, df, table, *a, **kw)
            tracer.commit_files.append(len(_data_files(self.path(table)) - before))
            return out

        patch(WH, meth, functools.wraps(orig)(committed))
    patch(WH, "read_changes", tracer.wrap("warehouse.read_changes", WH.read_changes))
    patch(
        rollup.RollupMaintainer,
        "refresh",
        tracer.wrap("rollup.refresh", rollup.RollupMaintainer.refresh),
    )
    patch(
        sketch.SketchMaintainer,
        "refresh",
        tracer.wrap("sketch.refresh", sketch.SketchMaintainer.refresh),
    )
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)


def _data_files(root: str) -> set[str]:
    out = set()
    for d, _, files in os.walk(root):
        out.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out
