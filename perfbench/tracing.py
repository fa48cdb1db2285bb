"""Per-layer tracing for ``--trace 1`` runs.

Spans are recorded by the benchmark around its calls into each engine
layer — never inside the engine: the query function (``queries.build``),
``catalog.load``, ``stage.stage_frame`` at every module that bound it,
forcing the physical plan (``queries.plan``) and the noop sink
(``queries.exec``). After each traced query the Spark status store is
read for the jobs that query caused, and a ``StreamingQueryListener``
collects micro-batch progress. Everything is kept in memory and turned
into per-query layer totals by :meth:`Tracer.layer_metrics`.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

import metrics
from metrics import Span

PACKAGE = "data_engineer_8_final_project_spark"

#: status-store stage fields summed per traced query: name -> (getter, scale)
_STAGE_FIELDS = {
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_memory_bytes": ("memoryBytesSpilled", 1),
    "spill_disk_bytes": ("diskBytesSpilled", 1),
}


class StreamProbe(StreamingQueryListener):
    """Collects one record per micro-batch while ``collecting`` is set."""

    def __init__(self) -> None:
        self.collecting = False
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if not self.collecting:
            return
        p = event.progress
        d = p.durationMs
        self.batches.append(
            {
                "run_id": str(p.runId),
                "rows": p.numInputRows,
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "planning_s": d.get("queryPlanning", 0) / 1e3,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                "state_memory_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans, status-store totals and stream progress of traced queries.

    ``by_group`` selects how Spark jobs are attributed to a query: by a
    per-thread job group (concurrent clients) or by the job-ID range
    between the query's start and end (one client; this also catches
    micro-batch jobs that run on a stream's own thread and group).
    """

    def __init__(self, spark, by_group: bool) -> None:
        self.spark = spark
        self.by_group = by_group
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        #: jobs and stages the status store no longer held when read
        self.missing_stages = 0
        self.spans: list[Span] = []
        self.queries = 0
        self.spark_totals: dict[str, float] = defaultdict(float)
        self.probe = StreamProbe()

    # -- installation -------------------------------------------------

    def install(self) -> None:
        """Wrap ``catalog.load`` and every module binding of
        ``stage.stage_frame``; register the stream listener. The wrappers
        record spans only on a thread inside :meth:`run_query`."""
        from data_engineer_8_final_project_spark import catalog, stage

        self._patch(catalog, "load", "catalog.load")
        original = stage.stage_frame
        for name, module in list(sys.modules.items()):
            if name.startswith(PACKAGE) and getattr(module, "stage_frame", None) is original:
                self._patch(module, "stage_frame", "stage.stage_frame", original)
        self.spark.streams.addListener(self.probe)

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()
        self.spark.streams.removeListener(self.probe)

    def _patch(self, module, attr: str, span_name: str, original=None) -> None:
        original = original or getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        self._patches.append((module, attr, original))
        setattr(module, attr, traced)

    # -- spans --------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Record a span if this thread is inside a traced query."""
        local = self._local
        query_id = getattr(local, "query_id", None)
        if query_id is None:
            yield
            return
        span_id = next(self._ids)
        parent = local.stack[-1] if local.stack else None
        local.stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            local.stack.pop()
            with self._lock:
                self.spans.append(Span(span_id, name, start, end, parent, query_id))

    def run_query(self, query_id: int, fn, data_dir: str) -> None:
        """One traced query: build, plan, execute into the noop sink, then
        account the Spark jobs it caused. With one client, the stream
        listener collects only while this query runs (listener events
        arrive asynchronously, so the bus is flushed on both sides);
        with concurrent clients stream batches are not attributed."""
        sc = self.spark.sparkContext
        group = f"perfbench-q{query_id}"
        if self.by_group:
            sc.setJobGroup(group, group)
        else:
            self.flush_events()
            self.probe.collecting = True
            first_job = self._next_job_id()
        self._local.query_id, self._local.stack = query_id, []
        wall0 = time.time()
        try:
            with self.span("query"):
                with self.span("queries.build"):
                    df = fn(self.spark, data_dir)
                with self.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            wall1 = time.time()
            self._local.query_id = None
        if self.by_group:
            job_ids = sc.statusTracker().getJobIdsForGroup(group)
        else:
            job_ids = metrics.job_ids_between(first_job, self._next_job_id())
        self.flush_events()
        self.probe.collecting = False
        self._account_jobs(job_ids, wall0, wall1)

    # -- Spark status store -------------------------------------------

    def _next_job_id(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def next_stage_id(self) -> int:
        return self._sc.dagScheduler().nextStageId()

    def task_run_s(self, first_stage: int, next_stage: int) -> float:
        """Summed task run time of the stages with IDs in
        ``[first_stage, next_stage)``, traced or not; a stage evicted from
        the status store counts in ``missing_stages``."""
        self.flush_events()
        total_ms = 0
        for stage_id in range(first_stage, next_stage):
            try:
                total_ms += self._store.lastStageAttempt(stage_id).executorRunTime()
            except Py4JJavaError:
                self._missing()
        return total_ms / 1e3

    def _missing(self) -> None:
        with self._lock:
            self.missing_stages += 1

    def flush_events(self) -> None:
        """Wait until the listener bus has delivered every posted event, so
        the status store and the stream listener are up to date."""
        self._sc.listenerBus().waitUntilEmpty()

    def _account_jobs(self, job_ids, wall0: float, wall1: float) -> None:
        totals: dict[str, float] = defaultdict(float)
        intervals = []
        for job_id in job_ids:
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # evicted from the store
                self._missing()
                continue
            totals["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (
                        job.submissionTime().get().getTime() / 1e3,
                        job.completionTime().get().getTime() / 1e3,
                    )
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._account_stage(stage_ids.apply(i), totals)
        totals["driver_self_s"] = (wall1 - wall0) - metrics.covered(intervals, wall0, wall1)
        with self._lock:
            self.queries += 1
            for k, v in totals.items():
                self.spark_totals[k] += v

    def _account_stage(self, stage_id: int, totals: dict[str, float]) -> None:
        # a stage reused by a later job shows up in that job's stage list
        # too (as skipped there); count each stage's work once
        with self._lock:
            if stage_id in self._seen_stages:
                return
            self._seen_stages.add(stage_id)
        try:
            stage = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:
            self._missing()
            return
        if stage.status().toString() != "COMPLETE":
            return
        totals["stages"] += 1
        totals["tasks"] += stage.numCompleteTasks()
        for key, (getter, scale) in _STAGE_FIELDS.items():
            totals[key] += getattr(stage, getter)() * scale

    # -- results ------------------------------------------------------

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of the traced queries: name -> (value, unit).
        Counts and times are per traced query."""
        n = max(self.queries, 1)
        self_s = metrics.self_times(self.spans)
        calls = defaultdict(int)
        for s in self.spans:
            calls[s.name] += 1
        t = self.spark_totals
        out = {
            "catalog.load_calls": (calls["catalog.load"] / n, "count/query"),
            "catalog.load_s": (self_s.get("catalog.load", 0.0) / n, "s/query"),
            "queries.build_s": (self_s.get("queries.build", 0.0) / n, "s/query"),
            "queries.plan_s": (self_s.get("queries.plan", 0.0) / n, "s/query"),
            "queries.exec_s": (self_s.get("queries.exec", 0.0) / n, "s/query"),
            "queries.driver_self_s": (t["driver_self_s"] / n, "s/query"),
            "stage.calls": (calls["stage.stage_frame"] / n, "count/query"),
            "stage.s": (self_s.get("stage.stage_frame", 0.0) / n, "s/query"),
            "spark.jobs": (t["jobs"] / n, "count/query"),
            "spark.stages": (t["stages"] / n, "count/query"),
            "spark.tasks": (t["tasks"] / n, "count/query"),
            "spark.task_cpu_s": (t["task_cpu_s"] / n, "s/query"),
            "spark.gc_s": (t["gc_s"] / n, "s/query"),
            "spark.input_bytes": (t["input_bytes"] / n, "B/query"),
            "spark.shuffle_write_bytes": (t["shuffle_write_bytes"] / n, "B/query"),
            "spark.shuffle_read_bytes": (t["shuffle_read_bytes"] / n, "B/query"),
            "spark.spill_bytes": ((t["spill_memory_bytes"] + t["spill_disk_bytes"]) / n, "B/query"),
        }
        out.update(self._stream_metrics(n))
        return out

    def _stream_metrics(self, n: int) -> dict[str, tuple[float, str]]:
        batches = self.probe.batches
        total = defaultdict(float)
        final_state: dict[str, tuple[float, float]] = {}
        for b in batches:
            for k in ("rows", "trigger_s", "add_batch_s", "planning_s", "commit_s"):
                total[k] += b[k]
            # state size of a stream = its largest state over its batches
            rows, mem = final_state.get(b["run_id"], (0, 0))
            final_state[b["run_id"]] = (
                max(rows, b["state_rows"]),
                max(mem, b["state_memory_bytes"]),
            )
        triggers = [b["trigger_s"] for b in batches]
        return {
            "streaming.batches": (len(batches) / n, "count/query"),
            "streaming.input_rows": (total["rows"] / n, "rows/query"),
            "streaming.trigger_s": (total["trigger_s"] / n, "s/query"),
            "streaming.add_batch_s": (total["add_batch_s"] / n, "s/query"),
            "streaming.planning_s": (total["planning_s"] / n, "s/query"),
            "streaming.commit_s": (total["commit_s"] / n, "s/query"),
            "streaming.state_rows": (sum(r for r, _ in final_state.values()) / n, "rows/query"),
            "streaming.state_memory_bytes": (
                sum(m for _, m in final_state.values()) / n,
                "B/query",
            ),
            "streaming.rows_per_s": (
                total["rows"] / total["trigger_s"] if total["trigger_s"] else 0.0,
                "rows/s",
            ),
            "streaming.batch_p90_s": (
                metrics.quantile(triggers, 0.9) if triggers else 0.0,
                "s",
            ),
        }
