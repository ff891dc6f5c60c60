"""Spark event-log parser: per-query layer ledger.

Reads an uncompressed JSON-lines event log and attributes every job to
the query call that launched it. A job belongs to the span whose job
group it carries; jobs in a group the benchmark did not set (streaming
micro-batches run under their query's run id) fall back to the span
whose wall-clock interval contains the job's submission. The benchmark
is one closed-loop client, so query spans never overlap and the
fallback is unambiguous. Jobs matching no span are counted as
unattributed, so per-span jobs plus unattributed always equal the
application's total.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass, field

from stats import union_length

__all__ = ["Job", "Span", "read_jobs", "attribute", "ENGINE_METRICS"]

# Engine metrics summed per job, in reporting units.
ENGINE_METRICS = (
    "spark.stages",
    "spark.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "shuffle.read_bytes",
    "shuffle.write_bytes",
    "shuffle.fetch_wait_s",
    "spill.bytes",
    "scan.input_bytes",
)


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float | None = None
    stage_ids: list[int] = field(default_factory=list)
    metrics: Counter = field(default_factory=Counter)


@dataclass(frozen=True)
class Span:
    key: str  # what the jobs are attributed to, e.g. a query name
    group: str  # the job group set for this call
    start: float  # epoch seconds
    end: float


def _task_metrics(tm: dict) -> Counter:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return Counter(
        {
            "spark.tasks": 1,
            "exec.run_s": tm.get("Executor Run Time", 0) / 1e3,
            "exec.cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
            "exec.gc_s": tm.get("JVM GC Time", 0) / 1e3,
            "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle.write_bytes": sw.get("Shuffle Bytes Written", 0),
            "shuffle.fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
            "spill.bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            "scan.input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        }
    )


def read_jobs(lines) -> list[Job]:
    """Jobs, with their tasks' metrics, from event-log lines.

    A stage listed by several jobs (a reused shuffle) ran in the first
    of them and is skipped in the rest, so its tasks go to the lowest
    job id that lists it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, Counter] = {}
    completed: Counter = Counter()
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(
                id=e["Job ID"],
                group=(e.get("Properties") or {}).get("spark.jobGroup.id"),
                submit=e["Submission Time"] / 1e3,
                stage_ids=list(e.get("Stage IDs", [])),
            )
            jobs[j.id] = j
            for s in j.stage_ids:
                stage_job[s] = min(stage_job.get(s, j.id), j.id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if tm:
                stage_metrics.setdefault(e["Stage ID"], Counter()).update(_task_metrics(tm))
        elif kind == "SparkListenerStageCompleted":
            completed[e["Stage Info"]["Stage ID"]] += 1
    for s, m in stage_metrics.items():
        if s in stage_job:
            jobs[stage_job[s]].metrics.update(m)
    for s, n in completed.items():
        if s in stage_job:
            jobs[stage_job[s]].metrics["spark.stages"] += n
    return [jobs[k] for k in sorted(jobs)]


def attribute(jobs: list[Job], spans: list[Span]) -> tuple[dict[str, Counter], int]:
    """Per-span-key totals and the number of unattributed jobs.

    Each key gets ``spark.jobs``, the engine metrics, ``wall_s`` and
    ``driver.residual_s`` (span wall time not covered by any of its
    jobs' run intervals)."""
    by_group = {s.group: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    owned: dict[Span, list[Job]] = {s: [] for s in spans}
    unattributed = 0
    for j in jobs:
        span = by_group.get(j.group)
        if span is None:
            span = next((s for s in ordered if s.start <= j.submit <= s.end), None)
        if span is None:
            unattributed += 1
        else:
            owned[span].append(j)
    out: dict[str, Counter] = {}
    for s, js in owned.items():
        c = out.setdefault(s.key, Counter())
        c["spark.jobs"] += len(js)
        for j in js:
            c.update(j.metrics)
        clipped = [(max(j.submit, s.start), min(j.end or s.end, s.end)) for j in js]
        covered = union_length([(a, b) for a, b in clipped if a < b])
        c["wall_s"] += s.end - s.start
        c["driver.residual_s"] += max(0.0, (s.end - s.start) - covered)
    return out, unattributed
