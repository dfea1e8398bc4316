"""Per-layer trace, recorded from outside the engine.

The tracer never edits engine code. It wraps the public functions of the
layers it measures at every module binding that imported them, gives
each operation its own Spark job groups, and reads what Spark already
records: the status store (jobs, stages, tasks; kept with the UI
disabled), the query's ``QueryPlanningTracker`` phases, the executed
plan's SQL metrics, and streaming progress events.

Layers and what they measure (per workload pass unless noted):

* ``tables``     load_table / scan_splits calls and time (scan_splits self
                 time excludes the load_table it calls).
* ``operators``  registry call until the DataFrame returns: self time
                 (``build_s``: minus tables, eager jobs and the final
                 plan's analysis), py4j round trips, jobs run eagerly.
* ``catalyst``   analysis / optimization / planning of the collected plan.
* ``exec``       the action's jobs: wall from first submit to last end
                 (AQE re-planning between stage jobs included), stages,
                 tasks, task time, shuffle, spill, GC, Python bytes.
* ``caches``     persisted RDDs and bytes left after the action, release time.
* ``result``     rows collected; tail from the last job's end to return.
* ``streaming``  StreamingQueryListener progress of every micro-batch.
* ``sinks``      time in ``sinks.*`` writers and the files/bytes they left.
* ``session``    the cold set-up's session start, warmup queries and
                 fixture preparation (timed by run.py, not per pass).
"""

from __future__ import annotations

import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

PKG = "data_engineering_spotify_etl_airflow_aws_spark"
SINK_FUNCS = ("write_raw_json", "write_table_csv", "write_partitioned",
              "save_as_table", "save_bucketed_table")

# Every per-layer metric and its unit. Sums and counts are per pass.
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "session.fixture_prep_s": "s",
    "tables.load_table.calls": "count", "tables.load_table.s": "s",
    "tables.scan_splits.calls": "count", "tables.scan_splits.s": "s",
    "operators.build_s": "s", "operators.py4j_calls": "count",
    "operators.eager_jobs": "count", "operators.eager_job_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.core_busy_frac": "fraction",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.gc_s": "s",
    "exec.python_bytes_sent": "bytes",
    "caches.persisted_rdds": "count", "caches.persisted_bytes": "bytes",
    "caches.release_s": "s",
    "result.rows": "count", "result.tail_s": "s",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.commit_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "sinks.write_s": "s", "sinks.files_written": "count", "sinks.bytes_written": "bytes",
    "harness.hygiene_s": "s", "trace.overhead_frac": "fraction",
    "trace.coverage_frac": "fraction",
}
NOT_SUMMED = {"session.start_s", "session.warmup_s", "session.fixture_prep_s",
              "exec.core_busy_frac", "streaming.trigger_ms_p50", "streaming.state_rows",
              "streaming.state_bytes", "trace.coverage_frac", "harness.hygiene_s",
              "trace.overhead_frac"}


def _rebind(orig, wrapper) -> list[tuple[object, str]]:
    """Point every engine-module attribute bound to ``orig`` at ``wrapper``
    (``from ..tables import load_table`` copies the binding)."""
    bound = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)
                bound.append((mod, attr))
    return bound


def _merged_seconds(intervals: list[tuple[int, int]]) -> float:
    """Total length of the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


class Tracer:
    """Layer counters for one process. ``install`` wraps, ``uninstall``
    restores; ``begin_build``/``end_build`` bracket an operation's build
    and ``finish_op`` folds in what Spark recorded for it."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.t = defaultdict(float)  # summed counters
        self.samples = defaultdict(list)  # per-event samples (medians)
        self._restore: list[tuple[object, str, object]] = []
        self._stack: list[list[float]] = []  # child-time accumulators
        self._counting_py4j = False
        self._py4j = 0
        self._progress: list = []
        self._listener = None
        self._send_orig: list[tuple[type, object]] = []

    # -- installation -------------------------------------------------
    def _wrap(self, module, fname, calls_key, s_key, after=None):
        """Count calls and self time (minus wrapped callees) of
        ``module.fname`` at every binding of it."""
        orig = getattr(module, fname)
        tracer = self

        def wrapper(*args, **kwargs):
            tracer._stack.append([0.0])
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                child = tracer._stack.pop()[0]
                if tracer._stack:
                    tracer._stack[-1][0] += dur
                tracer.t[calls_key] += 1
                tracer.t[s_key] += dur - child
                if after is not None:
                    after(args, kwargs)

        wrapper.__wrapped__ = orig
        for mod, attr in _rebind(orig, wrapper):
            self._restore.append((mod, attr, orig))

    def _count_sink_files(self, args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        if not isinstance(path, str) or not Path(path).is_dir():
            return
        for f in Path(path).rglob("*"):
            if f.is_file() and not f.name.startswith((".", "_")):
                self.t["sinks.files_written"] += 1
                self.t["sinks.bytes_written"] += f.stat().st_size

    def _counting(self, send):
        """py4j ``send_command`` that counts round trips during builds."""
        tracer = self

        def counting_send(conn, command, *a, **k):
            if tracer._counting_py4j:
                tracer._py4j += 1
            return send(conn, command, *a, **k)

        return counting_send

    def install(self):
        import importlib

        from pyspark.sql.streaming import StreamingQueryListener

        tables = importlib.import_module(f"{PKG}.tables")
        sinks = importlib.import_module(f"{PKG}.sinks")
        for fname in ("load_table", "scan_splits"):
            self._wrap(tables, fname, f"tables.{fname}.calls", f"tables.{fname}.s")
        for fname in SINK_FUNCS:
            self._wrap(sinks, fname, "sinks.calls", "sinks.write_s", after=self._count_sink_files)

        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            self._send_orig.append((cls, cls.send_command))
            cls.send_command = self._counting(cls.send_command)

        progress = self._progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append((
                    p.numInputRows,
                    dict(p.durationMs),
                    sum(s.numRowsTotal for s in p.stateOperators),
                    sum(s.memoryUsedBytes for s in p.stateOperators),
                ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def uninstall(self):
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()
        for cls, send in self._send_orig:
            cls.send_command = send
        self._send_orig.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- per operation --------------------------------------------------
    def group(self, op_index: int, phase: str) -> str:
        g = f"perfbench-{op_index}-{phase}"
        self.sc.setJobGroup(g, g)
        return g

    def begin_build(self):
        self._mark = dict(self.t)
        self._py4j = 0
        self._counting_py4j = True

    def end_build(self):
        if self._counting_py4j:
            self._counting_py4j = False
            self.t["operators.py4j_calls"] += self._py4j

    def _jobs(self, group: str) -> list:
        store = self.sc._jsc.sc().statusStore()
        jobs = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jobs.append(store.job(jid))
        return jobs

    @staticmethod
    def _interval(job) -> tuple[int, int] | None:
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or end.isEmpty():
            return None
        return sub.get().getTime(), end.get().getTime()

    def finish_op(self, build_group: str, action_group: str, build_s: float,
                  action_s: float, qe, rows: int | None, returned_ms: int):
        """Fold one finished operation into the layer counters. Runs
        after the operation's timed window."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        t = self.t
        eager = [iv for j in self._jobs(build_group) if (iv := self._interval(j))]
        eager_s = _merged_seconds(eager)
        t["operators.eager_jobs"] += len(eager)
        t["operators.eager_job_s"] += eager_s

        jobs = self._jobs(action_group)
        ivs = [iv for j in jobs if (iv := self._interval(j))]
        # first submit to last end: AQE re-planning between stage jobs
        # belongs to execution
        exec_s = (max(e for _, e in ivs) - min(b for b, _ in ivs)) / 1000.0 if ivs else 0.0
        t["exec.s"] += exec_s
        t["exec.jobs"] += len(jobs)
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_status, no_quantiles = jvm.java.util.ArrayList(), self.sc._gateway.new_array(jvm.double, 0)
        task_ms = 0
        for sid in sorted({int(s) for j in jobs for s in self._seq(j.stageIds())}):
            for st in self._seq(store.stageData(sid, False, no_status, False, no_quantiles)):
                if st.numCompleteTasks() == 0:
                    continue  # skipped stage (shuffle output reused)
                t["exec.stages"] += 1
                t["exec.tasks"] += st.numCompleteTasks()
                task_ms += st.executorRunTime()
                t["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                t["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                t["exec.gc_s"] += st.jvmGcTime() / 1000.0
        t["exec.task_s"] += task_ms / 1000.0
        self.samples["exec.core_busy_frac"].append(
            (task_ms / 1000.0) / max(action_s * self.cores, 1e-9))

        analysis = 0.0
        if qe is not None:
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                ms = phases.get(ph).get().durationMs() if phases.contains(ph) else 0
                t[f"catalyst.{ph}_ms"] += ms
            analysis = (phases.get("analysis").get().durationMs() / 1000.0
                        if phases.contains("analysis") else 0.0)
            t["exec.python_bytes_sent"] += self._python_bytes(qe)

        jsc = self.sc._jsc.sc()
        t["caches.persisted_rdds"] += jsc.getPersistentRDDs().size()
        t["caches.persisted_bytes"] += sum(
            i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())

        tables_s = sum(t[k] - self._mark.get(k, 0.0)
                       for k in ("tables.load_table.s", "tables.scan_splits.s"))
        t["operators.build_s"] += max(build_s - tables_s - eager_s - analysis, 0.0)
        if rows is not None:
            t["result.rows"] += rows
        tail = 0.0
        if ivs:
            tail = max((returned_ms - max(e for _, e in ivs)) / 1000.0, 0.0)
        t["result.tail_s"] += tail
        # layer time the trace can name, for the coverage check
        t["trace.attributed_s"] += (tables_s + max(build_s - tables_s - eager_s - analysis, 0.0)
                                    + eager_s + exec_s + tail + analysis)
        t["trace.op_s"] += build_s + action_s
        if qe is not None:
            t["trace.attributed_s"] += sum(
                phases.get(ph).get().durationMs() / 1000.0
                for ph in ("optimization", "planning") if phases.contains(ph))

    @staticmethod
    def _seq(s):
        """Python list from a Scala Seq / Java list / py4j array."""
        if hasattr(s, "size") and hasattr(s, "apply"):
            return [s.apply(i) for i in range(s.size())]
        return list(s)

    def _python_bytes(self, qe) -> int:
        """Sum of ``pythonDataSent`` over the executed plan's Python nodes
        (pandas UDF / mapInPandas / Arrow eval), through AQE query stages."""
        total, stack = 0, [qe.executedPlan()]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                stack.append(node.executedPlan())
                continue
            if name.endswith("QueryStage"):
                stack.append(node.plan())
                continue
            if "Python" in name or "Pandas" in name or "Arrow" in name:
                m = node.metrics()
                if m.contains("pythonDataSent"):
                    total += m.apply("pythonDataSent").value()
            stack.extend(self._seq(node.children()))
        return total

    # -- streaming ------------------------------------------------------
    def fold_streaming(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        t = self.t
        for rows, dur, state_rows, state_bytes in self._progress:
            t["streaming.batches"] += 1
            t["streaming.input_rows"] += rows
            t["streaming.commit_ms"] += dur.get("walCommit", 0) + dur.get("commitOffsets", 0)
            t["streaming.add_batch_ms"] += dur.get("addBatch", 0)
            self.samples["streaming.trigger_ms"].append(dur.get("triggerExecution", 0))
            self.samples["streaming.state_rows"].append(state_rows)
            self.samples["streaming.state_bytes"].append(state_bytes)
        self._progress.clear()

    def metrics(self, passes: int) -> dict[str, float]:
        """Layer metrics: counters summed per pass; the ``NOT_SUMMED`` ones
        as medians, maxima or ratios. The session and harness ones are set
        by run.py."""
        self.fold_streaming()
        t, n = self.t, max(passes, 1)
        out = {k: t[k] / n for k in LAYER_UNITS if k not in NOT_SUMMED}
        med = lambda k: statistics.median(self.samples[k]) if self.samples[k] else 0.0  # noqa: E731
        out["exec.core_busy_frac"] = med("exec.core_busy_frac")
        out["streaming.trigger_ms_p50"] = med("streaming.trigger_ms")
        out["streaming.state_rows"] = max(self.samples["streaming.state_rows"], default=0)
        out["streaming.state_bytes"] = max(self.samples["streaming.state_bytes"], default=0)
        out["trace.coverage_frac"] = t["trace.attributed_s"] / t["trace.op_s"] if t["trace.op_s"] else 0.0
        return out
