"""Operation timing, spans and Spark counters for the benchmark.

Every timed operation runs inside :meth:`Recorder.op`. With tracing off
that is a bare wall-clock measurement. With tracing on, the recorder also

- wraps four public entry points of the package (from here, not from the
  package's own files) so their calls become spans of the current
  operation: ``algo.ppr.personalized_pagerank_batch``,
  ``algo.ppr.collect_graph_coo``, ``checkpointing.CheckpointManager.write``
  and ``graph.blocked.compile_blocks``;
- reads Spark's status store after each operation and credits it the
  jobs whose ids fall in the range the operation spanned. Job groups
  cannot be used: the batch PPR engine submits jobs from its own threads.
  Reading after every operation keeps the jobs inside Spark's retention
  limit (``spark.ui.retainedJobs``).

Spans and counters stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    name: str
    wall_s: float = 0.0
    spans: dict = field(default_factory=dict)  # span name -> [seconds, ...]
    counts: dict = field(default_factory=dict)  # counter name -> number
    spark: dict = field(default_factory=dict)  # status-store counters

    def span_s(self, name: str) -> float:
        return sum(self.spans.get(name, ()))


class Recorder:
    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.ops: list[Op] = []
        self._current: Op | None = None
        self._jsc = spark.sparkContext._jsc.sc()
        self._seen_stages: set[int] = set()
        if trace:
            self._store = self._jsc.statusStore()
            self._install_wrappers()

    # ---- operations ----

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one operation; with tracing on, attach its spans and the
        Spark counters of the jobs it ran. The record is kept even when the
        operation raises."""
        rec = Op(name)
        lo = self._last_job_id() if self.trace else None
        self._current = rec
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            t1_ms = time.time() * 1000
            self._current = None
            if self.trace:
                rec.spark = self._job_counters(lo, self._last_job_id(), t0_ms, t1_ms)
            self.ops.append(rec)

    def _span(self, name: str, seconds: float, **counts) -> None:
        rec = self._current
        if rec is None:
            return
        rec.spans.setdefault(name, []).append(seconds)
        for k, v in counts.items():
            rec.counts[k] = rec.counts.get(k, 0) + v

    # ---- wrappers around public entry points ----

    def _install_wrappers(self) -> None:
        from hipporag_spark import checkpointing
        from hipporag_spark.algo import ppr
        from hipporag_spark.graph import blocked

        rec = self

        def timed(name, fn, counts=lambda result, args: {}):
            def wrapper(*args, **kwargs):
                t0 = time.perf_counter()
                result = fn(*args, **kwargs)
                rec._span(name, time.perf_counter() - t0, **counts(result, args))
                return result

            wrapper.__wrapped__ = fn
            return wrapper

        ppr.personalized_pagerank_batch = timed(
            "ppr_batch",
            ppr.personalized_pagerank_batch,
            # last lineage entry: superstep count (csr) or max per-query
            # iterations (broadcast engine, one entry per batch)
            lambda result, args: {
                "ppr_batch_iterations": result[1][-1]["superstep"] + 1 if result[1] else 0
            },
        )
        ppr.collect_graph_coo = timed("coo_collect", ppr.collect_graph_coo)
        blocked.compile_blocks = timed("compile_blocks", blocked.compile_blocks)
        checkpointing.CheckpointManager.write = timed(
            "checkpoint_write",
            checkpointing.CheckpointManager.write,
            lambda result, args: {
                "checkpoint_bytes": _dir_bytes(
                    args[0]._step_dir(args[2].superstep) + "/state"
                )
            },
        )

    # ---- Spark status store ----

    def _last_job_id(self) -> int:
        # the listener bus applies job events asynchronously; drain it so
        # the store holds every job submitted so far
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        jobs = self._store.jobsList(None)  # newest first
        return -1 if jobs.isEmpty() else int(jobs.head().jobId())

    def _job_counters(self, lo: int, hi: int, t0_ms: float, t1_ms: float) -> dict:
        out = dict.fromkeys(
            ("jobs", "tasks", "failed_tasks", "exec_busy_s", "shuffle_write_mb",
             "gc_s", "fetch_wait_s"),
            0,
        )
        intervals = []
        for job_id in range(lo + 1, hi + 1):
            try:
                job = self._store.job(job_id)
            except Exception:  # dropped by retention or never registered
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in self._seen_stages:  # a stage reused as skipped
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["exec_busy_s"] += st.executorRunTime() / 1000
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["gc_s"] += st.jvmGcTime() / 1000
                out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1000
        covered = _union_ms(intervals, t0_ms, t1_ms)
        out["driver_gap_s"] = max(0.0, (t1_ms - t0_ms - covered) / 1000)
        return out


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
