"""Spans and counters for the traced run.

Spans come from wrappers in this file that patch module and class
attributes around the package's public entry points (and the few
internal steps a layer is made of); the package itself is unchanged.
Every span records its name, start, end, parent and op id. Root spans
(one per timed op) also record counter deltas taken at their
boundaries: the Spark status store (jobs, stages, tasks, run/CPU,
shuffle, spill, input and output), the JVM GC beans, py4j round trips
and the job intervals that give the op's time with no Spark job running.
Action spans record the query execution's phase tracker (analysis,
optimisation, planning) and whether the executed plan scans a rollup.

Spans stay in memory; ``layers.py`` reduces them when the run ends. A
layer's self time is its span minus its children, so per op the layer
self times plus the op's own remainder (``unattributed``) add up to the
op's wall time exactly. Tracing's own in-op reads (query plans and
phase trackers) are a span of their own, ``tracing``.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "spark.task_run_ms": ("executorRunTime", 1.0),
    "spark.task_cpu_ms": ("executorCpuTime", 1e-6),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.spill_bytes": ("diskBytesSpilled", 1.0),
    "spark.input_records": ("inputRecords", 1.0),
    "spark.input_bytes": ("inputBytes", 1.0),
    "spark.output_bytes": ("outputBytes", 1.0),
}


class StatusCounters:
    """Cumulative Spark and JVM counters, read incrementally: a job is
    folded in once, when the status store has it finished."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._tracker = sc.statusTracker()
        self._store = self._jsc.statusStore()
        self._done: set = set()
        self.totals = defaultdict(float)
        self.jobs: list = []  # (submit_ms, end_ms) of finished jobs

    def _stage(self, sid: int) -> None:
        empty = self._jvm.java.util.ArrayList()
        attempts = self._store.stageData(sid, False, empty, False, self._gw.new_array(self._jvm.double, 0))
        for i in range(attempts.size()):
            st = attempts.apply(i)
            for key, (field, scale) in STAGE_FIELDS.items():
                self.totals[key] += getattr(st, field)() * scale
            self.totals["spark.tasks"] += st.numCompleteTasks()
            self.totals["spark.stages"] += 1

    def refresh(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        for jid in self._tracker.getJobIdsForGroup(None):
            if jid in self._done:
                continue
            job = self._store.job(jid)
            if str(job.status()) == "RUNNING":
                continue
            self._done.add(jid)
            self.totals["spark.jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                self.jobs.append((sub.get().getTime(), end.get().getTime()))
            stages = job.stageIds()
            for i in range(stages.size()):
                try:
                    self._stage(stages.apply(i))
                except Py4JJavaError:  # a skipped stage has no stage data
                    pass

    def gc_ms(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())))

    def snapshot(self) -> dict:
        self.refresh()
        out = dict(self.totals)
        out["jvm.gc_ms"] = self.gc_ms()
        return out


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder. ``install`` patches the entry points; spans are
    recorded only inside an op opened with ``op``."""

    def __init__(self, spark):
        self.spark = spark
        self.counters = StatusCounters(spark)
        self.spans: list = []
        self.ops: list = []
        self._stack: list = []
        self._op = None
        self._internal = 0
        self.py4j_calls = 0
        self.stream_progress: list = []
        self._lock = threading.Lock()
        self._restore: list = []

    # -- recording ---------------------------------------------------------

    def _open(self, name: str) -> dict:
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "op": self._op["id"] if self._op else None,
                "id": len(self.spans), "attrs": {}}
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    def op(self, kind: str, phase: str = "run"):
        """Root span of one op: counters are read outside its interval."""
        tracer = self

        class _Op:
            def __enter__(self):
                tracer._internal += 1
                before = tracer.counters.snapshot()
                tracer._internal -= 1
                rec = {"id": len(tracer.ops), "kind": kind, "phase": phase,
                       "py4j0": tracer.py4j_calls, "c0": before}
                tracer.ops.append(rec)
                tracer._op = rec
                rec["span"] = tracer._open("op")
                rec["t0_epoch_ms"] = time.time() * 1000.0
                return rec

            def __exit__(self, *exc):
                rec = tracer._op
                rec["t1_epoch_ms"] = time.time() * 1000.0
                tracer._close(rec["span"])
                rec["py4j_calls"] = tracer.py4j_calls - rec.pop("py4j0")
                tracer._internal += 1
                after = tracer.counters.snapshot()
                tracer._internal -= 1
                c0 = rec.pop("c0")
                rec["counters"] = {k: after.get(k, 0.0) - c0.get(k, 0.0) for k in after}
                wall = (rec["span"]["end"] - rec["span"]["start"]) * 1000.0
                busy = _covered_ms(tracer.counters.jobs, rec["t0_epoch_ms"], rec["t1_epoch_ms"])
                rec["no_job_ms"] = max(0.0, wall - busy)
                tracer._op = None
                return False

        return _Op()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``after(span,
        args, result)`` may add attributes once the call returns."""
        orig = owner.__dict__[attr] if attr in owner.__dict__ else getattr(owner, attr)
        func = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig
        tracer = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            if tracer._op is None or tracer._internal:
                return func(*args, **kwargs)
            label = name(args) if callable(name) else name
            if label is None:  # folded into the enclosing layer
                return func(*args, **kwargs)
            span = tracer._open(label)
            try:
                result = func(*args, **kwargs)
            finally:
                tracer._close(span)
            if after is not None:  # tracing's own reads, kept out of every layer
                own = tracer._open("tracing")
                tracer._internal += 1
                try:
                    after(span, args, result)
                finally:
                    tracer._internal -= 1
                    tracer._close(own)
            return result

        if isinstance(orig, classmethod):
            wrapper = classmethod(wrapper)
        elif isinstance(orig, staticmethod):
            wrapper = staticmethod(wrapper)
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- wiring ------------------------------------------------------------

    def install(self) -> None:
        from py4j.clientserver import JavaClient
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from v3io_tsdb_spark import adapter, appender, catalog, formatters, prom, querier, rollup
        from v3io_tsdb_spark.sql import parser

        tracer = self
        send = JavaClient.send_command

        def counting_send(client, *a, **kw):
            if tracer._op is not None and not tracer._internal:
                tracer.py4j_calls += 1
            return send(client, *a, **kw)

        JavaClient.send_command = counting_send
        self._restore.append((JavaClient, "send_command", send))

        A, Q, NC = adapter.TSDBAdapter, querier.Querier, catalog.NamesCatalog
        self.wrap(A, "querier", "adapter.querier")
        self.wrap(A, "append", "adapter.append")
        self.wrap(A, "compact_samples", "adapter.compact")
        self.wrap(A, "compact_rollup", "adapter.compact")
        self.wrap(A, "_check_series_kinds", "appender.validate")
        for m in ("select", "label_values", "get_label_sets"):
            self.wrap(Q, m, "querier.select")
        self.wrap(querier, "align_to_grid", "operators.align")
        self.wrap(NC, "load", "catalog.load")
        self.wrap(NC, "merge_batch", "catalog.merge")
        self.wrap(NC, "save", "catalog.save")
        self.wrap(appender, "normalize_samples", "appender.normalize")
        self.wrap(appender, "validate_samples", "appender.validate")
        self.wrap(appender, "prepare_for_write", "appender.prepare")
        self.wrap(rollup, "build_rollup", "rollup.build")
        self.wrap(rollup, "build_label_rollup", "rollup.build")
        self.wrap(parser, "parse_query", "sql.parse")
        self.wrap(parser, "run_sql", "sql.run_sql")
        self.wrap(prom, "select_series", "prom.select_series")
        self.wrap(formatters, "format_df", "formatters.format")

        def action_name(args):
            # inside an append, an action belongs to the step that runs
            # it; the append's own eager checkpoint executes the prepared
            # batch (normalize, dedup, layout)
            if any(s["name"] == "adapter.append" for s in self._stack):
                return "appender.prepare" if self._stack[-1]["name"] == "adapter.append" else None
            return "spark.action"

        def after_collect(span, args, result):
            span["attrs"]["rows"] = len(result) if result is not None else 0
            self._plan_attrs(span, args[0])

        self.wrap(DataFrame, "collect", action_name, after_collect)
        self.wrap(DataFrame, "toPandas", action_name,
                  lambda span, args, res: span["attrs"].update(rows=len(res)))
        self.wrap(DataFrame, "count", action_name)
        self.wrap(DataFrame, "localCheckpoint", action_name)

        def write_name(args):
            path = args[1] if len(args) > 1 else ""
            if not any(s["name"] == "adapter.append" for s in self._stack):
                return "spark.action"
            return "rollup.build" if "rollup" in str(path) else "adapter.append"

        self.wrap(DataFrameWriter, "parquet", write_name)
        self.wrap(DataFrameWriter, "save", "spark.action")

    def _plan_attrs(self, span: dict, df) -> None:
        try:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    span["attrs"][f"catalyst.{ph}_ms"] = float(opt.get().durationMs())
            plan = qe.executedPlan().toString()
            locations = [seg.split("]", 1)[0] for seg in plan.split("Location:")[1:]]
            span["attrs"]["rollup_scan"] = any("rollup" in loc for loc in locations)
        except Exception as exc:  # report, never break the op
            span["attrs"]["plan_error"] = f"{type(exc).__name__}"

    def add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.stream_progress.append((time.time() * 1000.0, dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    # -- reduction ---------------------------------------------------------

    def self_times(self) -> dict:
        """{op id: {layer: self ms}}, the op's own remainder under
        ``unattributed``."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["op"] is None or s["end"] is None:
                continue
            self_ms = (s["end"] - s["start"] - child[s["id"]]) * 1000.0
            layer = "unattributed" if s["name"] == "op" else s["name"]
            out[s["op"]][layer] += self_ms
        return out

    def op_attrs(self, op_id: int) -> dict:
        """Sum of the action-span attributes of one op."""
        acc = defaultdict(float)
        for s in self.spans:
            if s["op"] == op_id:
                for k, v in s["attrs"].items():
                    if isinstance(v, (int, float)):
                        acc[k] += float(v)
        return acc
