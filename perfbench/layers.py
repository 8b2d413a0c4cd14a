"""Per-layer tracing for the benchmark, measured from outside the library.

A traced op is wrapped in spans that share one op id::

    op ─┬─ build      the registered callable (Python construction, py4j)
        │   └─ catalyst   analysis of the returned DataFrame, and the
        │                 optimization and planning of any query the
        │                 build itself runs
        └─ exec       the sink (noop write or Arrow collect)
            └─ catalyst   optimization and planning of the query the
                          sink runs

Counters are read at the same boundaries, from public or stable hooks
only:

* a counting wrapper on py4j's ``send_command``, with memory-delete
  commands excluded because their number follows Python GC timing;
* one job group each for the build and exec spans, read back with
  ``statusTracker().getJobIdsForGroup``;
* stage totals from the JVM status store, and SQL plan graphs and
  metrics from the SQL status store;
* Catalyst phase times from ``QueryExecution.tracker().phases()``: of
  the DataFrame the build returns, read as soon as the build span ends
  (its analysis runs while the op builds it), and of every query the op
  executes, handed over by a ``QueryExecutionListener``.  The noop sink
  does not run the DataFrame's own ``QueryExecution``: it plans a write
  command in a new one, and only the listener sees that one.  Analysis
  of the intermediate DataFrames a build makes stays in the build span.
  The catalyst spans are placed on the op's timeline from the phases'
  wall-clock start and end (whole milliseconds).

No UI REST call is made and no library code is changed.  The only
wrappers sit on py4j and pyspark methods (``DataFrameWriter`` file
sinks, ``DataFrame.persist``/``cache``) and on
``fletcher_spark.io.Tables`` lookups, and they count only while a traced
op runs.  The listener is registered for the whole traced run and keeps
what it is handed only while a traced op runs.
"""

from __future__ import annotations

import itertools
import re
import sys
import time
from contextlib import contextmanager

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

import fletcher_spark.io as fio

#: py4j memory-delete command prefix ("m\nd\n<object id>\ne\n")
_MEMORY_DELETE = "m\nd\n"
#: Physical operators that run Python workers.
_PY_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
_EXCHANGES = {"Exchange", "BroadcastExchange"}
#: SQL metric of a Python exec node -> trace record field (sums over nodes)
_PY_METRICS = {
    "number of output rows": "py_rows",
    "time to run Python workers": "py_eval_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}
_FILE_SINKS = ("parquet", "json", "csv", "orc")
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_NUMBER = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> float:
    """Numeric total of a formatted SQL metric value.

    Sum metrics read ``"1,234"``; size and timing metrics read
    ``"total (min, med, max ...)\\n12.3 KiB (...)"``, where the total is
    the first number of the last line."""
    m = _NUMBER.search(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(jseq):
    """Iterate a Scala Seq returned over py4j."""
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def phases(jqe) -> dict[str, tuple[int, int]]:
    """Catalyst phase -> (start, end) wall-clock milliseconds of one
    ``QueryExecution``."""
    out = {}
    for kv in _seq(jqe.tracker().phases()):
        summary = kv._2()
        out[kv._1()] = (summary.startTimeMs(), summary.endTimeMs())
    return out


class _PlanListener:
    """``QueryExecutionListener`` that keeps the ``QueryExecution`` of each
    finished query while ``keep`` is set.  The JVM calls it from the
    listener bus thread, so it makes no py4j call of its own."""

    def __init__(self):
        self.keep = False
        self.plans: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface
        if self.keep:
            self.plans.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM interface
        if self.keep:
            self.plans.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans and counters for traced ops.  ``trace_op`` is the only entry
    point the benchmark loop calls; everything else is bookkeeping that
    runs outside the spans, so it adds to pass time but not to op time."""

    def __init__(self, spark, t0: float):
        self.sc = spark.sparkContext
        self.t0 = t0
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._on = False
        self._py4j = 0
        self._writes = 0.0
        self._persists = [0, 0]  # [requests, already cached]
        self._memo = [0, 0]  # [Tables lookups, served from the memo]
        self._status = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._cache_manager = spark._jsparkSession.sharedState().cacheManager()
        self._bus = self.sc._jsc.sc().listenerBus()
        # wall-clock seconds minus perf_counter seconds, to place the
        # JVM's millisecond phase times on the span timeline
        self._wall_offset = time.time() - time.perf_counter()
        self._restore: list[tuple[object, str, object]] = []
        self._install()
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PlanListener()
        spark._jsparkSession.listenerManager().register(self._listener)

    # -- wrappers ---------------------------------------------------------

    def _patch(self, owner, name, make):
        orig = getattr(owner, name)
        self._restore.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def _install(self) -> None:
        tracer = self

        def count_py4j(orig):
            def send_command(client, command, *args, **kwargs):
                if tracer._on and not command.startswith(_MEMORY_DELETE):
                    tracer._py4j += 1
                return orig(client, command, *args, **kwargs)

            return send_command

        self._patch(type(self.sc._gateway._gateway_client), "send_command", count_py4j)

        def time_write(orig):
            def write(writer, *args, **kwargs):
                if not tracer._on:
                    return orig(writer, *args, **kwargs)
                t = time.perf_counter()
                try:
                    return orig(writer, *args, **kwargs)
                finally:
                    tracer._writes += time.perf_counter() - t

            return write

        for name in _FILE_SINKS:
            self._patch(DataFrameWriter, name, time_write)

        def count_persist(orig):
            def persist(df, *args, **kwargs):
                if tracer._on:
                    with tracer._paused():
                        hit = tracer._cache_manager.lookupCachedData(df._jdf).isDefined()
                    tracer._persists[0] += 1
                    tracer._persists[1] += int(hit)
                return orig(df, *args, **kwargs)

            return persist

        for name in ("persist", "cache"):
            self._patch(DataFrame, name, count_persist)

        def count_memo(orig):
            def getitem(tables, name):
                if tracer._on:
                    tracer._memo[0] += 1
                    tracer._memo[1] += int(name in tables._cache)
                return orig(tables, name)

            return getitem

        self._patch(fio.Tables, "__getitem__", count_memo)

    def close(self) -> None:
        self._listener.keep = False
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    @contextmanager
    def _paused(self):
        on, self._on = self._on, False
        try:
            yield
        finally:
            self._on = on

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, op_id: int, parent: int | None):
        span_id = next(self._ids)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            self.spans.append(
                {
                    "name": name,
                    "start": start - self.t0,
                    "end": time.perf_counter() - self.t0,
                    "parent": parent,
                    "op_id": op_id,
                    "span_id": span_id,
                }
            )

    def trace_op(self, name: str, build, sink) -> dict:
        """Run one op under spans and return its per-layer record."""
        op_id = next(self._ids)
        group = f"perfbench-{op_id}"
        # every execution of earlier ops is posted before this op starts
        self._bus.waitUntilEmpty()
        n_exec = self._sql.executionsCount()
        self._py4j = self._writes = 0
        self._persists[:] = [0, 0]
        self._memo[:] = [0, 0]
        self._listener.plans.clear()
        self._listener.keep = True
        rec: dict = {"op": name, "op_id": op_id}

        try:
            with self.span("op", op_id, None) as root:
                self.sc.setJobGroup(group + "-build", name)
                self._on = True
                with self.span("build", op_id, root) as build_id:
                    df = build()
                self._on = False
                py4j_calls = self._py4j
                df_phases = phases(df._jdf.queryExecution())
                self.sc.setJobGroup(group + "-exec", name)
                self._on = True
                with self.span("exec", op_id, root) as exec_id:
                    sink(df)
        except BaseException:
            self._listener.keep = False
            raise
        finally:
            self._on = False
        op_spans = {s["name"]: s for s in self.spans[-3:]}
        for s in op_spans.values():
            rec[f"{s['name']}_s"] = s["end"] - s["start"]

        self._bus.waitUntilEmpty()
        self._listener.keep = False
        plans = [phases(qe) for qe in self._listener.plans]
        self._listener.plans.clear()
        tracker = self.sc.statusTracker()
        build_jobs = list(tracker.getJobIdsForGroup(group + "-build"))
        exec_jobs = list(tracker.getJobIdsForGroup(group + "-exec"))
        rec.update(
            py4j_calls=py4j_calls,
            build_jobs=len(build_jobs),
            exec_jobs=len(exec_jobs),
            write_s=self._writes,
            persist_requests=self._persists[0],
            persist_hits=self._persists[1],
            memo_lookups=self._memo[0],
            memo_hits=self._memo[1],
        )
        rec.update(self._catalyst(op_id, df_phases, plans, op_spans["exec"]["start"],
                                  build_id, exec_id))
        rec.update(self._stages(build_jobs + exec_jobs))
        rec.update(self._plans(n_exec))
        rec["executions"] = self._sql.executionsCount() - n_exec
        if rec["plans"] != rec["executions"]:
            print(f"perfbench: {name}: the listener saw {rec['plans']} of {rec['executions']} "
                  "queries; catalyst times are short", file=sys.stderr)
        return rec

    # -- counter readers (outside the spans) -----------------------------

    def _catalyst(self, op_id, df_phases, plans, exec_start, build_id, exec_id) -> dict:
        """Catalyst phase totals of one op, and one catalyst span per phase.

        The analysis of the built DataFrame is read before the sink runs,
        because a noop write shares its tracker and merges its own
        analysis into it.  A phase seen twice (the Arrow collect runs the
        DataFrame's own ``QueryExecution``) is counted once."""
        seen = {}
        for plan in [{k: v for k, v in df_phases.items() if k == "analysis"}, *plans]:
            for phase, (start_ms, end_ms) in plan.items():
                seen.setdefault((phase, start_ms), end_ms)
        out = {"analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0, "plans": len(plans),
               "catalyst_build_s": 0.0, "catalyst_exec_s": 0.0}
        for (phase, start_ms), end_ms in seen.items():
            out[f"{phase}_ms"] = out.get(f"{phase}_ms", 0) + end_ms - start_ms
            start = start_ms / 1e3 - self._wall_offset - self.t0
            in_exec = start >= exec_start - 1e-3
            out["catalyst_exec_s" if in_exec else "catalyst_build_s"] += (end_ms - start_ms) / 1e3
            self.spans.append({"name": "catalyst", "phase": phase, "start": start,
                               "end": end_ms / 1e3 - self._wall_offset - self.t0,
                               "parent": exec_id if in_exec else build_id, "op_id": op_id,
                               "span_id": next(self._ids)})
        out["catalyst_s"] = out["catalyst_build_s"] + out["catalyst_exec_s"]
        return out

    def _stages(self, job_ids: list[int]) -> dict:
        out = dict.fromkeys(
            ("stages", "tasks", "tasks_failed", "cpu_s", "shuffle_read", "shuffle_write",
             "bytes_written"),
            0,
        )
        seen = set()
        for jid in job_ids:
            for sid in _seq(self._status.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._status.lastStageAttempt(sid)
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                out["tasks_failed"] += sd.numFailedTasks()
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["bytes_written"] += sd.outputBytes()
        return out

    def _plans(self, first_execution: int) -> dict:
        """Node counts and Python-node metrics of the SQL executions the
        op started (executions are numbered in start order, and one
        driver thread issues every op)."""
        out = {"exchanges": 0, "inmemory_scans": 0, "py_nodes": 0}
        out.update(dict.fromkeys(_PY_METRICS.values(), 0))
        n = self._sql.executionsCount() - first_execution
        for ex in _seq(self._sql.executionsList(first_execution, n)):
            eid = ex.executionId()
            values = None
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                kind = node.name()
                if kind in _EXCHANGES:
                    out["exchanges"] += 1
                elif kind == "InMemoryTableScan":
                    out["inmemory_scans"] += 1
                elif _PY_NODE.search(kind):
                    out["py_nodes"] += 1
                    if values is None:
                        # keys are Scala Longs: a py4j int lookup would miss
                        values = {kv._1(): kv._2() for kv in _seq(self._sql.executionMetrics(eid))}
                    for metric in _seq(node.metrics()):
                        field = _PY_METRICS.get(metric.name())
                        text = values.get(metric.accumulatorId())
                        if field is not None and text is not None:
                            out[field] += parse_metric(text)
        return out
