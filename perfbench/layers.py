"""Per-layer tracing of the engine, done from outside the package.

`install` wraps the public functions each layer exports (service
routes, `ingest`, `lake`, `state`, `queries.kql`) and `DataFrame.collect`.
Inside a traced operation every wrapped call is a span: its duration,
and its self time (duration minus the direct child spans), summed per
layer. Each span also tags the Spark jobs it starts with a job group
naming its path (`pb<op>/<layer>/<layer>...`), so the event log can
attribute jobs, tasks and executor time to layers afterwards.

Catalyst phase times come from a QueryExecutionListener registered over
Py4J, codegen from Spark's CodegenMetrics histogram.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PHASES = ("analysis", "optimization", "planning")
_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_op = 0
        self.ops = 0
        self.sums: dict[str, float] = defaultdict(float)
        self._listener = None
        self._codegen0 = (0, 0)
        self.window_open = False

    # -- spans --------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """One traced operation (an HTTP request or a corpus job); only
        operations inside the measured window are traced."""
        if not self.window_open:
            yield
            return
        with self._lock:
            self._next_op += 1
            op_id = self._next_op
        self._local.stack = []
        self._local.op = op_id
        prev = self.sc.getLocalProperty(_GROUP)
        try:
            with self.span(name):
                yield
        finally:
            self.sc.setLocalProperty(_GROUP, prev)
            self._local.stack = None
            with self._lock:
                self.ops += 1

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:  # outside a traced operation
            yield
            return
        path = (stack[-1][0] if stack else f"pb{self._local.op}") + "/" + name
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, path)
        frame = [path, 0.0]
        stack.append(frame)
        start = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - start
            stack.pop()
            if stack:
                stack[-1][1] += dur
            self.sc.setLocalProperty(_GROUP, prev)
            self.add(name + "_s", dur)
            self.add(name + ".self_s", dur - frame[1])
            self.add(name + ".calls", 1)

    def active(self) -> bool:
        return getattr(self._local, "stack", None) is not None

    def in_span(self, name: str) -> bool:
        stack = getattr(self._local, "stack", None) or []
        return any(f[0].endswith("/" + name) for f in stack)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.sums[key] += value

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace owner.attr with a span-timed twin; `after(result)` may
        record counts from the call's result."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None and self.active():
                after(result)
            return result

        setattr(owner, attr, traced)

    # -- Catalyst and codegen ----------------------------------------

    def _codegen(self) -> tuple[int, int]:
        h = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return int(h.getCount()), int(sum(h.getSnapshot().getValues()))

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def start_window(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        tracer = self

        class Listener:
            def onSuccess(self, func, qe, duration_ns):
                tracer.add_phases(qe.tracker())

            def onFailure(self, func, qe, exc):
                tracer.add_phases(qe.tracker())

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        ensure_callback_server_started(self.sc._gateway)
        self._drain()
        self._listener = Listener()
        self.spark._jsparkSession.listenerManager().register(self._listener)
        self._codegen0 = self._codegen()
        self.sums.clear()
        self.ops = 0
        self.window_open = True

    def add_phases(self, tracker) -> None:
        phases = tracker.phases()
        for p in _PHASES:
            if phases.contains(p):
                self.add(f"spark.{p}_ms", float(phases.apply(p).durationMs()))

    def stop_window(self) -> dict[str, float]:
        self.window_open = False
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        count, ms = self._codegen()
        out = dict(self.sums)
        out["spark.codegen_compiles"] = count - self._codegen0[0]
        out["spark.codegen_ms"] = ms - self._codegen0[1]
        out["ops"] = self.ops
        return out


class TimedLock:
    """Stands in for the service's write lock and times the wait for it."""

    def __init__(self, lock, tracer: Tracer) -> None:
        self._lock = lock
        self._tracer = tracer

    def __enter__(self):
        with self._tracer.span("service.lock_wait"):
            self._lock.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self._lock.release()


def install(tracer: Tracer, svc, server) -> None:
    """Wrap the layers' public functions and the service's route."""
    from pyspark.sql.classic.dataframe import DataFrame

    from api_to_parquet_spark import ingest, lake, service, state
    from api_to_parquet_spark.queries import kql as kql_mod

    def files_written(keys):
        for key in keys:
            for f in glob.glob(os.path.join(svc.lake_root, key, "*.parquet")):
                tracer.add("lake.files_written", 1)
                tracer.add("lake.bytes_written", os.path.getsize(f))

    def analysis(df):
        # spark.sql analyses eagerly; the executed plan is a new one
        tracer.add_phases(df._jdf.queryExecution().tracker())

    tracer.wrap(ingest, "ingest_batch", "ingest.ingest_batch")
    tracer.wrap(lake, "write_batch_files", "lake.write_batch_files", files_written)
    tracer.wrap(state, "update_state", "state.update_state")
    tracer.wrap(state, "read_state", "state.read_state")
    tracer.wrap(service, "kql", "kql.kql", analysis)
    tracer.wrap(DataFrame, "collect", "spark.collect")
    translate = kql_mod.kql_to_sql

    @functools.wraps(translate)
    def kql_to_sql(*args, **kwargs):
        if not tracer.active() or tracer.in_span("kql.translate"):
            return translate(*args, **kwargs)
        tracer.add("kql.translations", 1)
        with tracer.span("kql.translate"):
            return translate(*args, **kwargs)

    kql_mod.kql_to_sql = kql_to_sql
    svc._write_lock = TimedLock(svc._write_lock, tracer)
    handler = server.RequestHandlerClass
    route = handler._route

    def traced_route(self):
        with tracer.op("service"):
            route(self)

    handler._route = handler.do_GET = handler.do_POST = traced_route


def event_log_layers(event_dir: str) -> dict[str, float]:
    """Jobs, tasks and task metrics of the traced HTTP requests, read from
    the event log (`spark.*`), and job counts of the layers the benchmark
    reports them for (`<layer>.jobs`, registry jobs included)."""
    stage_group: dict[int, str] = {}
    out: dict[str, float] = defaultdict(float)
    job_layers = ("lake.write_batch_files", "state.update_state", "registry.construct")
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line[:40]:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get(_GROUP) or ""
                    if not group.startswith("pb"):
                        continue
                    for layer in job_layers:
                        if "/" + layer in group:
                            out[layer + ".jobs"] += 1
                    if group.split("/")[1] != "service":
                        continue
                    out["spark.jobs"] += 1
                    for s in e["Stage IDs"]:
                        stage_group[s] = group
                elif '"SparkListenerTaskEnd"' in line[:40]:
                    e = json.loads(line)
                    if e["Stage ID"] not in stage_group:
                        continue
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    out["spark.tasks"] += 1
                    out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    out["spark.shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)
