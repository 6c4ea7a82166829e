"""Spans and Spark counters for the benchmark's traced run.

Every call the benchmark makes into a layer of the engine goes through
:meth:`Tracer.call`, which times it.  With tracing on it also tags the
calling thread with a job group of its own and afterwards reads the jobs
and stages that ran during the call from Spark's status store
(``SparkContext.statusStore``, populated with ``spark.ui.enabled=false``
too), and a :class:`StreamingQueryListener` collects the per-trigger
phase durations of every streaming query.  Jobs that ran during a call
but outside its job group are counted as unattributed: work the engine
started on threads that did not inherit the caller's job group.
"""

from __future__ import annotations

import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

# module-level fixture caches of the engine whose warmth a timed call may
# depend on: (module, attribute)
FIXTURE_CACHES = [
    ("spark_spotify.etl.pipeline", "_WAREHOUSE_CACHE"),
    ("spark_spotify.etl.pipeline", "_BLOOM_GATE_CACHE"),
    ("spark_spotify.analytics.textops", "_BPE_MERGE_CACHE"),
    ("spark_spotify.analytics.textops", "_UNIGRAM_CACHE"),
    ("spark_spotify.analytics.neardup", "_INDEX_CACHE"),
]


def warm_caches() -> list[str]:
    """Names of the fixture caches that hold entries right now."""
    import importlib

    warm = []
    for mod, attr in FIXTURE_CACHES:
        cache = getattr(importlib.import_module(mod), attr, None)
        if cache:
            warm.append(attr)
    return warm


@dataclass
class Span:
    layer: str
    name: str
    wall_s: float
    ok: bool = True
    rows: int = 0
    jobs: int = 0
    jobs_unattributed: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    stage_busy_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    phase: str = "timed"
    warm_caches: list[str] = field(default_factory=list)

    @property
    def driver_gap_s(self) -> float:
        """Wall time not covered by any running stage: planning, py4j,
        result transfer and Python work on the driver."""
        return max(0.0, self.wall_s - self.stage_busy_s)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


class StageReader:
    """Reads jobs and stages of a time window from the status store."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def fill(self, span: Span, group: str, first_job: int) -> None:
        self.drain()
        last_job = self.next_job_id()
        seen: set[int] = set()
        busy: list[tuple[int, int]] = []
        for jid in range(first_job, last_job):
            job = self._store.job(jid)
            span.jobs += 1
            jg = job.jobGroup()
            if not (jg.isDefined() and jg.get() == group):
                span.jobs_unattributed += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                span.stages += 1
                span.tasks += st.numTasks()
                span.exec_run_s += st.executorRunTime() / 1000.0
                span.input_bytes += st.inputBytes()
                span.shuffle_read_bytes += st.shuffleReadBytes()
                span.shuffle_write_bytes += st.shuffleWriteBytes()
                span.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    busy.append((sub.get().getTime(), done.get().getTime()))
        span.stage_busy_s = min(span.wall_s, _union_s(busy))


class StreamPhases:
    """Sums the ``durationMs`` phases, input rows and state rows of every
    streaming trigger reported while it is registered.  ``callback_s`` is
    the time spent in its callbacks, which run while the query does."""

    PHASES = ("addBatch", "getBatch", "walCommit", "queryPlanning",
              "triggerExecution")

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        phases = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                phases.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.reset()
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def reset(self) -> None:
        self.triggers = 0
        self.callback_s = 0.0
        self.input_rows = 0
        self.state_rows = 0
        self.phase_ms = {p: 0 for p in self.PHASES}

    def on_progress(self, progress) -> None:
        t0 = time.perf_counter()
        self.triggers += 1
        self.input_rows += int(progress.numInputRows)
        self.state_rows += sum(
            int(s.numRowsTotal) for s in progress.stateOperators
        )
        durations = progress.durationMs
        for p in self.PHASES:
            self.phase_ms[p] += int(durations.get(p, 0))
        self.callback_s += time.perf_counter() - t0

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class Tracer:
    """Times calls into the engine; with ``traced`` also records their
    Spark jobs, stages and streaming triggers."""

    def __init__(self, spark, traced: bool, log: Callable[[str], None]):
        self.spark = spark
        self.traced = traced
        self.log = log
        self.spans: list[Span] = []
        self.phase = "warmup"
        self.attempted = 0
        self.failed = 0
        # time the tracing itself adds to timed calls, callbacks excluded
        self.overhead_s = 0.0
        self._seq = 0
        self._lock = threading.Lock()
        self.stages = StageReader(spark) if traced else None
        self.streams = StreamPhases(spark) if traced else None

    def call(
        self,
        layer: str,
        name: str,
        fn: Callable[[], Any],
        rows: int | Callable[[Any], int] = 0,
    ) -> Any:
        """Run ``fn`` as one operation of ``layer``; return its result, or
        None if it raised (the failure is counted and logged).  ``rows`` is
        the number of rows the call took in, or maps its result to the
        rows it handed back."""
        sc = self.spark.sparkContext
        with self._lock:
            self._seq += 1
            group = f"perfbench-{self._seq}"
        # warm-up calls may run concurrently; only timed calls are traced
        traced = self.traced and self.phase == "timed"
        first_job, warm, pre_s = 0, [], 0.0
        if traced:
            t0 = time.perf_counter()
            self.stages.drain()
            first_job = self.stages.next_job_id()
            warm = warm_caches()
            pre_s = time.perf_counter() - t0
        sc.setJobGroup(group, f"{layer}:{name}")
        ok, out = True, None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed operation is data, not a crash
            ok = False
            self.log(f"{layer}:{name} failed\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        span = Span(layer, name, wall, ok, phase=self.phase, warm_caches=warm)
        if ok:
            span.rows = int(rows(out) if callable(rows) else rows)
        if traced:
            t0 = time.perf_counter()
            self.stages.fill(span, group, first_job)
            self.overhead_s += pre_s + time.perf_counter() - t0
        with self._lock:
            self.attempted += 1
            self.failed += 0 if ok else 1
            self.spans.append(span)
        return out

    def start_timed(self) -> None:
        """End the warm-up: later spans and stream triggers are timed."""
        self.phase = "timed"
        if self.streams is not None:
            self.stages.drain()
            self.streams.reset()

    def timed(self) -> list[Span]:
        return [s for s in self.spans if s.phase == "timed"]

    def traced_overhead_s(self) -> float:
        """Time tracing added to the timed calls: the status-store reads
        around each call and the Python side of the streaming listener's
        callbacks.  The record's ``vs_untraced`` compares whole runs."""
        if not self.traced:
            return 0.0
        return self.overhead_s + self.streams.callback_s

    def close(self) -> None:
        if self.streams is not None:
            self.stages.drain()
            self.streams.close()
