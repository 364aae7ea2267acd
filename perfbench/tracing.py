"""Spans, Spark stage metrics and UDF profiles for the traced run.

A :class:`Tracer` records one span per layer call the benchmark makes
(name, start, end, parent, iteration) and tags every Spark job started
inside a span with a job group named after that span. After a traced
iteration, :meth:`Tracer.stage_metrics` reads Spark's own status store
(the data behind the web UI, live even with the UI off) and sums each
span's stages: shuffle bytes, spill, executor run and CPU time. The
Python UDF profiler is switched on only around the spans that ask for it.

With ``enabled=False`` every method is a no-op, so the timed run pays
nothing for the hooks.
"""

from __future__ import annotations

import contextlib
import pstats
import shutil
import statistics
import time
from collections.abc import Iterator
from pathlib import Path

from pyspark.sql import SparkSession

#: stage counters summed per span, as (our key, StageData accessor)
STAGE_COUNTERS = (
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
    ("executor_run_ms", "executorRunTime"),
    ("executor_cpu_ns", "executorCpuTime"),
    ("output_bytes", "outputBytes"),
    ("output_records", "outputRecords"),
)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Span recorder bound to one Spark session."""

    def __init__(self, spark: SparkSession, enabled: bool, work: Path):
        self.spark = spark
        self.enabled = enabled
        self.work = work
        self.iteration: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._last_job_id = -1
        #: iteration → stage_metrics() result, kept for the run record
        self.stages: dict[int, dict] = {}

    @contextlib.contextmanager
    def span(self, name: str, profile_udfs: bool = False) -> Iterator[dict]:
        """Time ``name``; Spark jobs started inside carry its job group.

        With ``profile_udfs`` the span also records ``udf_s``: the time
        spent inside Python UDF bodies, from Spark's UDF profiler."""
        rec = {"id": len(self.spans), "name": name, "iteration": self.iteration,
               "parent": self._stack[-1]["id"] if self._stack else None}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        rec["group"] = f"{name}#{self.iteration}#{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        if profile_udfs:
            self.spark.profile.clear()
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if profile_udfs:
                self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
                rec["udf_s"] = self._udf_seconds()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _udf_seconds(self) -> float:
        """Total time inside profiled UDF bodies since the last clear."""
        out = self.work / "udf_profile"
        shutil.rmtree(out, ignore_errors=True)
        self.spark.profile.dump(str(out), type="perf")
        total = 0.0
        for f in out.glob("*.pstats") if out.exists() else ():
            total += pstats.Stats(str(f)).total_tt
        shutil.rmtree(out, ignore_errors=True)
        return total

    def iteration_spans(self, iteration: int) -> list[dict]:
        return [s for s in self.spans if s["iteration"] == iteration]

    def stage_metrics(self, iteration: int) -> dict[str, dict]:
        """Per-span sums of the stage counters of the jobs started in it,
        keyed by the span's job group.

        A stage reused by a later job (a skipped stage) is counted once,
        for the job that first ran it. Each span also gets
        ``heaviest_stage_task_skew``: max ÷ median task duration in its
        stage with the largest executor run time. Computed once per
        iteration; later calls return the same result."""
        if iteration in self.stages:
            return self.stages[iteration]
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty(60_000)
        store = sc.statusStore()
        groups = {s["group"]: s for s in self.iteration_spans(iteration)}
        out: dict[str, dict] = {}
        seen: set[int] = set()
        jobs = sorted(
            (j for j in _seq(store.jobsList(None)) if j.jobId() > self._last_job_id),
            key=lambda j: j.jobId(),
        )
        for job in jobs:
            self._last_job_id = max(self._last_job_id, job.jobId())
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in groups:
                continue
            acc = out.setdefault(group.get(), {k: 0 for k, _ in STAGE_COUNTERS} | {
                "stages": 0, "heaviest_stage": None, "heaviest_run_ms": -1})
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.numCompleteTasks() == 0:
                    continue
                acc["stages"] += 1
                for key, getter in STAGE_COUNTERS:
                    acc[key] += getattr(stage, getter)()
                if stage.executorRunTime() > acc["heaviest_run_ms"]:
                    acc["heaviest_run_ms"] = stage.executorRunTime()
                    acc["heaviest_stage"] = (sid, stage.attemptId())
        for acc in out.values():
            acc["heaviest_stage_task_skew"] = self._task_skew(store, acc.pop("heaviest_stage"))
        self.stages[iteration] = out
        return out

    @staticmethod
    def _task_skew(store, stage: tuple[int, int] | None) -> float:
        if stage is None:
            return 0.0
        durations = [
            t.duration().get() for t in _seq(store.taskList(stage[0], stage[1], 100_000))
            if t.duration().isDefined()
        ]
        if not durations:
            return 0.0
        med = statistics.median(durations)
        return max(durations) / med if med > 0 else 1.0
