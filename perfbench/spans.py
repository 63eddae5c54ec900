"""Spans around the benchmark's calls into the program, with Spark stage
metrics attributed to each span.

A span records name, start, end and parent. When the tracer is bound to
a session, each span tags the jobs its call starts with a job group of
its own (``setJobGroup``); after the pass, ``attribute`` finds each
group's jobs through ``statusTracker`` and sums the metrics of their
stages from the UI's REST API. A disabled tracer records spans (so the
per-call timings exist in every run) but never tags jobs or polls.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

#: per-span counters summed from the REST stage data
STAGE_COUNTERS = (
    "stages",
    "tasks",
    "failed_tasks",
    "cpu_s",
    "run_s",
    "gc_s",
    "fetch_wait_s",
    "shuffle_write_mb",
    "spill_mb",
    "records",
    "sched_wait_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that child spans
    cover (overlapping children are merged, children are clipped to the
    parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.wall_s - covered
    return out


class Tracer:
    def __init__(self, spark=None) -> None:
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def tagging(self) -> bool:
        return self._sc is not None

    def _group(self, span: Span | None) -> None:
        if not self.tagging:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    def attribute(self, spark, spans: list[Span]) -> None:
        """Fill ``span.counts`` with the summed metrics of the stages of
        the jobs tagged with the span's own group (children excluded)."""
        tracker = spark.sparkContext.statusTracker()
        stages = _rest_stages(spark)
        for s in spans:
            ids = set()
            for job in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                info = tracker.getJobInfo(job)
                if info is not None:
                    ids.update(info.stageIds)
            c = dict.fromkeys(STAGE_COUNTERS, 0.0)
            for sid in ids:
                for st in stages.get(sid, ()):
                    _add_stage(c, st)
            s.counts = c


def _add_stage(c: dict, st: dict) -> None:
    if st["status"] == "SKIPPED":  # its shuffle output was reused
        return
    c["stages"] += 1
    done, failed = st["numCompleteTasks"], st["numFailedTasks"]
    c["tasks"] += done + failed
    c["failed_tasks"] += failed
    c["cpu_s"] += st["executorCpuTime"] / 1e9
    c["run_s"] += st["executorRunTime"] / 1e3
    c["gc_s"] += st["jvmGcTime"] / 1e3
    c["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
    c["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
    c["spill_mb"] += st["diskBytesSpilled"] / 1e6
    c["records"] += st["inputRecords"] + st["shuffleReadRecords"]
    # task time not spent running: from submission to the first task,
    # plus each task's deserialization and result serialization
    wait_ms = st["executorDeserializeTime"] + st["resultSerializationTime"]
    if st.get("submissionTime") and st.get("firstTaskLaunchedTime"):
        wait_ms += max(
            0.0,
            _epoch_ms(st["firstTaskLaunchedTime"])
            - _epoch_ms(st["submissionTime"]),
        )
    c["sched_wait_s"] += wait_ms / 1e3


def _epoch_ms(stamp: str) -> float:
    # REST stamps look like 2026-01-02T03:04:05.678GMT
    from datetime import datetime, timezone

    t = datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp() * 1e3


def _rest_stages(spark) -> dict[int, list[dict]]:
    """stageId -> attempts' REST stage data for every retained stage."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        raise RuntimeError("tracing needs the Spark UI (spark.ui.enabled)")
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages", timeout=60
    ) as r:
        stages = json.load(r)
    out: dict[int, list[dict]] = {}
    for st in stages:
        out.setdefault(st["stageId"], []).append(st)
    return out
