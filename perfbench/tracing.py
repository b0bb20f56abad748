"""Traced mode: spans around the engine's public calls and per-layer
counters read from Spark, all measured from outside the engine.

- Spans (name, start, end, parent, run id) stay in memory and are
  written out once, when the run ends.
- Stage counters come from the status store, for the jobs of one
  operation's job group.
- Operator, scan and Python-boundary counters come from the SQL status
  store: the plan-graph metrics of every SQL execution whose jobs belong
  to the operation, read as raw accumulator values.
- Streaming counters come from a ``StreamingQueryListener``.
- Writer counters come from wrapping ``sources.writers``' public
  functions in every module that holds a reference to them.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1 << 20
# Public writer functions, with the position of their output-path argument.
_WRITER_PATH_ARG = {"write_single_csv": 1, "write_text_report": 1, "upsert_by_key": 2,
                    "compact_table": 1}


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stream_batches: list[dict] = []
        self._exec_seen = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def reset_session(self) -> None:
        """A new SparkContext starts a new SQL status store."""
        self._exec_seen = 0

    def take_counters(self) -> dict[str, float]:
        out = dict(self.counters)
        self.counters = defaultdict(float)
        return out

    # -- writers -------------------------------------------------------
    def patch_writers(self) -> None:
        """Wrap the writer layer's public functions wherever they are bound."""
        from tomasz_weight_tracker_spark.sources import writers

        for name in _WRITER_PATH_ARG:
            orig = getattr(writers, name)
            wrapped = self._wrap_writer(orig, name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("tomasz_weight_tracker_spark"):
                    if getattr(mod, name, None) is orig:
                        setattr(mod, name, wrapped)

    def _wrap_writer(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span(f"writers.{name}"):
                result = fn(*args, **kwargs)
            tracer.counters["writers.write_s"] += time.perf_counter() - t0
            pos = _WRITER_PATH_ARG[name]
            path = args[pos] if len(args) > pos else kwargs.get("path", kwargs.get("out_path"))
            files, nbytes = _tree_size(str(path))
            tracer.counters["writers.files"] += files
            tracer.counters["writers.mb"] += nbytes / MB
            return result

        return wrapper

    # -- streaming -----------------------------------------------------
    def add_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs or {}
                tracer._stream_batches.append(dict(d))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def _drain_stream_batches(self) -> None:
        batches, self._stream_batches = self._stream_batches, []
        c = self.counters
        for d in batches:
            c["streaming.batches"] += 1
            c["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000
            c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000
            c["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000
            c["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1000

    # -- Spark counters --------------------------------------------------
    def collect_op(self, spark, group: str, build_jobs: set[int], action_start: float | None,
                   action_end: float | None) -> None:
        """Read the counters of every job in ``group`` into ``counters``."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        self._drain_stream_batches()
        jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        action_jobs = jobs - build_jobs
        st = jsc.statusStore()
        c = self.counters
        c["plans.build_jobs"] += len(build_jobs & jobs)
        intervals = []
        for jid in sorted(jobs):
            jd = st.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                a, b = sub.get().getTime() / 1000, comp.get().getTime() / 1000
                if jid in action_jobs:
                    c["exec.job_s"] += b - a
                    intervals.append((a, b))
                else:
                    c["plans.build_job_s"] += b - a
            ids = jd.stageIds()
            for i in range(ids.size()):
                self._stage(st, ids.apply(i), jid in action_jobs)
        c["exec.jobs"] += len(action_jobs)
        if action_start is not None:
            c["exec.gap_s"] += max(0.0, (action_end - action_start) - _union(intervals))
        self._sql_metrics(spark, jobs)

    def _stage(self, st, sid: int, action: bool) -> None:
        seq = st.stageData(sid, False, None, False, None)
        c = self.counters
        for k in range(seq.size()):
            sd = seq.apply(k)
            if sd.status().toString() == "SKIPPED":
                continue
            if action:
                c["exec.stages"] += 1
                c["exec.tasks"] += sd.numCompleteTasks()
                c["exec.run_s"] += sd.executorRunTime() / 1e3
                c["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                c["exec.gc_s"] += sd.jvmGcTime() / 1e3
                c["exec.deserialize_s"] += sd.executorDeserializeTime() / 1e3
            c["shuffle.write_mb"] += sd.shuffleWriteBytes() / MB
            c["shuffle.read_mb"] += sd.shuffleReadBytes() / MB
            c["shuffle.records"] += sd.shuffleWriteRecords()
            c["shuffle.write_s"] += sd.shuffleWriteTime() / 1e9
            c["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            c["shuffle.spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / MB

    def _sql_metrics(self, spark, jobs: set[int]) -> None:
        store = spark._jsparkSession.sharedState().statusStore()
        acc = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
        total = store.executionsCount()
        new = store.executionsList(self._exec_seen, int(total - self._exec_seen))
        self._exec_seen = int(total)
        c = self.counters
        for i in range(new.size()):
            ex = new.apply(i)
            ex_jobs = ex.jobs().keySet()
            it = ex_jobs.iterator()
            if not any(int(it.next()) in jobs for _ in range(ex_jobs.size())):
                continue
            seen: set[int] = set()
            nodes = store.planGraph(ex.executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                metrics = node.metrics()
                vals = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    aid = m.accumulatorId()
                    if aid in seen:
                        continue
                    seen.add(aid)
                    a = acc.get(aid)
                    vals[m.name()] = float(a.get().value()) if a.isDefined() else 0.0
                _node_counters(c, name, vals)


def _node_counters(c, name: str, v: dict[str, float]) -> None:
    if name.startswith("Scan "):
        c["sources.scan_s"] += v.get("scan time", 0) / 1e3
        c["sources.files_mb"] += v.get("size of files read", 0) / MB
        c["sources.files"] += v.get("number of files read", 0)
        c["sources.rows"] += v.get("number of output rows", 0)
        return
    if "time to run Python workers" in v:
        c["python.boot_s"] += v.get("time to start Python workers", 0) / 1e3
        c["python.init_s"] += v.get("time to initialize Python workers", 0) / 1e3
        c["python.total_s"] += v["time to run Python workers"] / 1e3
        c["python.sent_mb"] += v.get("data sent to Python workers", 0) / MB
        c["python.received_mb"] += v.get("data returned from Python workers", 0) / MB
        c["python.rows"] += v.get("number of output rows", 0)
        return
    if name.endswith("Aggregate"):
        c["operators.agg_s"] += v.get("time in aggregation build", 0) / 1e3
        c["operators.agg_peak_mb"] += v.get("peak memory", 0) / MB
    elif name == "Sort":
        c["operators.sort_s"] += v.get("sort time", 0) / 1e3
    elif name == "BroadcastExchange":
        c["operators.broadcast_build_s"] += v.get("time to build", 0) / 1e3
        c["operators.broadcast_mb"] += v.get("data size", 0) / MB
        return
    if name != "Exchange" and not name.startswith("ColumnarToRow"):
        c["operators.output_rows"] += v.get("number of output rows", 0)


def catalyst_phases(qe) -> dict[str, float]:
    """Analysis/optimization/planning seconds from a QueryExecution's tracker."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _tree_size(path: str) -> tuple[int, int]:
    if not os.path.exists(path):
        return 0, 0
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes
