"""Layer spans read from Spark's JVM status store.

The benchmark wraps each call into an engine layer in a :class:`Span`. It
makes its calls one after another from one driver thread, so the jobs a
span caused are exactly the jobs whose ids the scheduler assigned between
the span's start and its end. After each op, outside the op's clock, one
bulk read of ``jobsList`` and ``stageList`` (serialised to JSON inside the
JVM, so py4j crosses once per list) turns every span into job and stage
counts and the stage metrics of those jobs.

The store keeps ``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages``
stages; the benchmark raises both at launch. A stage id a job references but
the store no longer holds is counted in ``stages_missing`` rather than
dropped silently.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# per-layer counters, in report order; every layer reports every one
COUNTERS = ("wall_s", "driver_s", "jobs", "stages", "executor_run_s", "gc_s",
            "shuffle_write_mb", "fetch_wait_s", "spill_mb")


@dataclass
class Span:
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    first_job: int = 0  # job ids in [first_job, end_job) belong to the span
    end_job: int = 0


@dataclass
class StatusStore:
    """Bulk reader over one SparkContext's status store."""

    spark: object
    _mapper: object = field(default=None, init=False, repr=False)
    session_jobs: int = field(default=0, init=False)  # jobs run in set-up
    overhead_s: float = field(default=0.0, init=False)  # time spent in spans and reads

    def __post_init__(self) -> None:
        jvm = self.spark.sparkContext._jvm
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                       "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self.session_jobs = self._next_job_id()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def jobs(self) -> list[dict]:
        jlist = self.spark.sparkContext._jvm.java.util.ArrayList()
        return json.loads(self._mapper.writeValueAsString(
            self._store().jobsList(jlist)))

    def stages(self) -> list[dict]:
        sc = self.spark.sparkContext
        # all five arguments explicitly: py4j cannot fill Scala defaults
        stages = self._store().stageList(
            sc._jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList())
        return json.loads(self._mapper.writeValueAsString(stages))

    def _next_job_id(self) -> int:
        # the scheduler's job-id counter (py4j unboxes the AtomicInteger)
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def begin(self, layer: str) -> Span:
        t0 = time.perf_counter()
        span = Span(layer, time.time(), first_job=self._next_job_id())
        self.overhead_s += time.perf_counter() - t0
        return span

    def finish(self, span: Span) -> Span:
        t0 = time.perf_counter()
        span.end_job = self._next_job_id()
        span.end = time.time()
        self.overhead_s += time.perf_counter() - t0
        return span

    def resolve(self, spans: list[Span]) -> tuple[dict[str, dict], int]:
        """Counters per layer for ``spans`` plus the number of stage ids
        their jobs reference that the store no longer holds."""
        if not spans:
            return {}, 0
        t0 = time.perf_counter()
        try:
            return self._resolve(spans)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _resolve(self, spans: list[Span]) -> tuple[dict[str, dict], int]:
        lo = min(s.first_job for s in spans)
        jobs = {j["jobId"]: j for j in self.jobs() if j["jobId"] >= lo}
        stages: dict[int, dict] = {}
        for st in self.stages():
            prev = stages.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                stages[st["stageId"]] = st
        out: dict[str, dict] = {}
        missing = 0
        for span in spans:
            acc = out.setdefault(span.layer, dict.fromkeys(COUNTERS, 0.0))
            wall = span.end - span.start
            acc["wall_s"] += wall
            intervals = []
            stage_ids: set[int] = set()
            for jid in range(span.first_job, span.end_job):
                job = jobs.get(jid)
                if job is None:
                    continue
                acc["jobs"] += 1
                stage_ids.update(job["stageIds"])
                t0, t1 = job.get("submissionTime"), job.get("completionTime")
                if t0 is not None:
                    intervals.append((max(t0 / 1e3, span.start),
                                      min((t1 / 1e3) if t1 else span.end, span.end)))
            acc["driver_s"] += wall - _union(intervals)
            for sid in stage_ids:
                st = stages.get(sid)
                if st is None:
                    missing += 1
                    continue
                # a skipped stage, or one an earlier span's job already ran
                # and this job reused, is not this span's work
                submitted = st.get("submissionTime")
                if submitted is None or submitted / 1e3 < span.start:
                    continue
                acc["stages"] += 1
                acc["executor_run_s"] += st["executorRunTime"] / 1e3
                acc["gc_s"] += st["jvmGcTime"] / 1e3
                acc["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                acc["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                acc["spill_mb"] += st["diskBytesSpilled"] / MB
            # jobs whose ids fell in the span but which the store evicted
            missing += sum(1 for jid in range(span.first_job, span.end_job)
                           if jid not in jobs)
        return out, missing


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
