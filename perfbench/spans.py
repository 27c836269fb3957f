"""Spans around the engine's public calls, with Spark work attributed from
outside the engine.

A span records the wall time of one public call. When tracing is on it
also records the window of Spark job ids the DAG scheduler handed out
while the call ran (``DAGScheduler.numTotalJobs`` is read on open and on
close, so every job submitted from any thread inside the window counts,
job group or not). Jobs of the window that are still running when the
span closes, and jobs submitted between this span's close and the next
span's open, are the call's *late* jobs: leaked asynchronous work that is
counted against the call that started it, never against the next one.

After the run, ``Tracer.collect`` reads each job's stages from the status
store (``SparkContext.statusStore``; no event log, no extra job) and sums
executor run time, shuffle bytes and spill per span.

``ProgressListener`` is a ``StreamingQueryListener`` that keeps each
micro-batch's ``durationMs``; the per-trigger latencies come from it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    layer: str
    iteration: int
    wall_s: float = 0.0
    first_job: int = 0
    end_job: int = 0
    # jobs of [first_job, end_job) still running at close, and jobs
    # submitted after close but before the next span opened
    running_at_close: list[int] = field(default_factory=list)
    gap_jobs: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    # filled by Tracer.collect
    jobs: int = 0
    stages: int = 0
    exec_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def job_ids(self) -> list[int]:
        return list(range(self.first_job, self.end_job)) + self.gap_jobs

    @property
    def late_jobs(self) -> int:
        return len(self.running_at_close) + len(self.gap_jobs)


class Tracer:
    """Span recorder. With ``traced=False`` a span is only a timer, so the
    untraced run pays for two ``perf_counter`` calls per call."""

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self.iteration = 0
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._gap_owner: Span | None = None
        self._last_close = self._next_job_id() if traced else 0
        # seconds spent on the tracer's own bookkeeping: its overhead
        self.overhead_s = 0.0

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def _drain_events(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def settle(self) -> None:
        """Give the jobs submitted since the last span closed to that span.
        Call before running work that belongs to no span."""
        if not self.traced:
            return
        t0 = time.perf_counter()
        now = self._next_job_id()
        if self._gap_owner is not None:
            self._gap_owner.gap_jobs.extend(range(self._last_close, now))
        self._gap_owner = None
        self._last_close = now
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str):
        rec = Span(layer, self.iteration)
        if self.traced:
            self.settle()
            rec.first_job = self._last_close
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec.wall_s = t1 - t0
            if self.traced:
                rec.end_job = self._next_job_id()
                self._drain_events()
                tracker = self._sc.statusTracker()
                active = set(tracker.getActiveJobsIds())
                # a job the scheduler has numbered but not yet started is
                # unknown to the status store: it is running too
                rec.running_at_close = [
                    j for j in range(rec.first_job, rec.end_job)
                    if j in active or tracker.getJobInfo(j) is None
                ]
                self._last_close = rec.end_job
                self._gap_owner = rec
                self.overhead_s += time.perf_counter() - t1
            self.spans.append(rec)

    def collect(self) -> None:
        """Fill every span's Spark counters from the status store. Waits
        for every job the spans own to finish first."""
        if not self.traced:
            return
        self.settle()
        self._drain_events()
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + 60
        while set(tracker.getActiveJobsIds()) and time.monotonic() < deadline:
            time.sleep(0.05)
        self._drain_events()
        store = self._jsc.statusStore()
        for rec in self.spans:
            stage_ids: set[int] = set()
            for j in rec.job_ids:
                ids = store.job(j).stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
            rec.jobs = len(rec.job_ids)
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                rec.stages += 1
                rec.exec_run_s += st.executorRunTime() / 1000.0
                rec.shuffle_write_mb += st.shuffleWriteBytes() / MB
                rec.shuffle_read_mb += st.shuffleReadBytes() / MB
                rec.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB


class ProgressListener:
    """Collects ``durationMs`` of every streaming micro-batch."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                events.append({
                    "batch": int(p.batchId),
                    "rows": int(p.numInputRows),
                    "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": d.get("addBatch", 0) / 1000.0,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def reset(self) -> None:
        self.events.clear()

    def wait_for(self, n_batches: int, timeout: float = 30.0) -> list[dict]:
        """The progress of batches ``0..n_batches-1``, once all arrived."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            got = {e["batch"]: e for e in list(self.events)}
            if all(b in got for b in range(n_batches)):
                return [got[b] for b in range(n_batches)]
            time.sleep(0.01)
        raise TimeoutError(f"progress of {n_batches} batches did not arrive")
