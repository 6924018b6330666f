"""Spans and per-layer accounting for the traced run.

Spans are recorded from the benchmark's own files around the calls into
each layer: ``driver.plan`` (``run_queries`` / ``BroadcastQueryServer.serve``
up to the returned DataFrame) and ``driver.collect`` (the action), with the
Spark jobs and stages of the call read back from the Spark status REST API
as children of the collect span. Spans are kept in memory and written once
at exit.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import time
import urllib.request

# Per-call Spark metrics: output name -> REST stage field (times in ms
# unless noted; executorCpuTime is in ns)
STAGE_FIELDS = {
    "spark.task_deser_ms": "executorDeserializeTime",
    "spark.result_ser_ms": "resultSerializationTime",
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",
    "spark.gc_ms": "jvmGcTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.input_bytes": "inputBytes",
}

# driver + Spark spans must cover a call's wall within this share
COVERAGE_TOLERANCE = 0.10


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_coverage(wall_ms: float, plan_ms: float, spark_ms: float) -> float:
    """Share of a call's wall covered by the driver plan span plus the
    Spark job spans, each measured on its own clock."""
    return (plan_ms + spark_ms) / wall_ms


def coverage_ok(coverage: float) -> bool:
    return abs(coverage - 1.0) <= COVERAGE_TOLERANCE


def _epoch_ms(stamp: str) -> float:
    """REST timestamps look like 2026-10-16T18:01:02.345GMT."""
    t = datetime.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e3


class SpanLog:
    """In-memory spans: name, start, end, parent; one trace id per call."""

    def __init__(self):
        self.spans: list[dict] = []
        self._epoch0 = time.time()
        self._perf0 = time.perf_counter()

    def epoch_ms(self, perf_s: float) -> float:
        return (self._epoch0 + (perf_s - self._perf0)) * 1e3

    def add(self, trace: str, name: str, start_ms: float, end_ms: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "trace": trace,
                           "name": name, "parent": parent,
                           "start_ms": start_ms, "end_ms": end_ms, **attrs})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkStatus:
    """Reads a finished call's jobs, stages and tasks from the status REST
    API of the run's own session (the UI is on only in the traced run)."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                      f"{sc.applicationId}")
        self._bus = sc._jsc.sc().listenerBus()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def call(self, group: str, spans: SpanLog, collect_span: int
             ) -> tuple[dict, list[tuple[float, float]]]:
        """Summed stage metrics of the jobs tagged ``group`` and their
        (start, end) intervals; adds job and stage spans under
        ``collect_span``."""
        # the status store is fed asynchronously: drain the listener bus so
        # every job and task of the call is visible
        self._bus.waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update({"spark.jobs": len(jobs), "spark.tasks": 0,
                    "spark.failed_tasks": 0, "spark.scheduler_delay_ms": 0.0})
        intervals = []
        trace = spans.spans[collect_span]["trace"]
        for job in jobs:
            js, je = (_epoch_ms(job["submissionTime"]),
                      _epoch_ms(job["completionTime"]))
            intervals.append((js, je))
            jspan = spans.add(trace, "spark.job", js, je, collect_span,
                              job_id=job["jobId"])
            for sid in job["stageIds"]:
                for st in self._get(f"/stages/{sid}"):
                    if st["status"] not in ("COMPLETE", "FAILED"):
                        continue  # skipped: reused from an earlier job
                    self._add_stage(st, out)
                    spans.add(trace, "spark.stage",
                              _epoch_ms(st["submissionTime"]),
                              _epoch_ms(st["completionTime"]), jspan,
                              stage_id=sid, tasks=st["numCompleteTasks"])
        out["spark.executor_cpu_ms"] /= 1e6
        return out, intervals

    def _add_stage(self, st: dict, out: dict) -> None:
        for k, field in STAGE_FIELDS.items():
            out[k] += st.get(field) or 0
        out["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        out["spark.failed_tasks"] += st["numFailedTasks"]
        tasks = self._get(f"/stages/{st['stageId']}/{st['attemptId']}"
                          "/taskList?length=100000")
        out["spark.scheduler_delay_ms"] += sum(
            t.get("schedulerDelay") or 0 for t in tasks)


def medians(records: list[dict]) -> dict:
    """Per-metric median over traced calls."""
    keys = records[0].keys() if records else ()
    return {k: statistics.median(r[k] for r in records) for k in keys}
