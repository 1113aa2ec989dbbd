"""Parse an uncompressed Spark event log into per-operation runtime counts.

The benchmark tags every job of a traced operation with a job tag
(``SparkContext.addJobTag``) that starts with ``TAG_PREFIX``. Spark copies
job tags into the properties of every job and stage it starts, broadcast
and streaming threads included, so tasks are attributed through their
stage's tag. Jobs without a benchmark tag are not counted.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

TAG_PREFIX = "perfbench-"

# Python worker SQL metrics (ArrowEvalPython, MapInPandas and friends);
# times are milliseconds, data sizes bytes.
PYWORKER_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
}


@dataclass
class OpStats:
    """Runtime counts of one tagged operation execution."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    sched_delay_ms: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    fetch_wait_ms: int = 0
    spill_b: int = 0
    peak_exec_mem_b: int = 0  # largest over the operation's tasks
    py_boot_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0
    py_sent_b: int = 0
    py_recv_b: int = 0
    # (submission, completion) of each job, epoch milliseconds
    job_intervals: list[tuple[int, int]] = field(default_factory=list)


def _tag(properties: dict | None) -> str | None:
    for tag in ((properties or {}).get("spark.job.tags") or "").split(","):
        if tag.startswith(TAG_PREFIX):
            return tag
    return None


def _sched_delay_ms(info: dict, m: dict) -> int:
    """Spark UI's scheduler delay: task duration not spent deserialising,
    running, serialising the result or fetching it."""
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info["Finish Time"] - info["Getting Result Time"] if info["Getting Result Time"] else 0
    busy = (
        m["Executor Run Time"] + m["Executor Deserialize Time"]
        + m["Result Serialization Time"] + getting
    )
    return max(0, duration - busy)


def _add_task(s: OpStats, event: dict) -> None:
    info = event["Task Info"]
    s.tasks += 1
    if info["Failed"] or event["Task End Reason"]["Reason"] != "Success":
        s.failed_tasks += 1
    for acc in info.get("Accumulables", ()):
        key = PYWORKER_METRICS.get(acc.get("Name"))
        if key:
            setattr(s, key, getattr(s, key) + int(acc["Update"]))
    m = event.get("Task Metrics")
    if not m:
        return
    s.run_ms += m["Executor Run Time"]
    s.cpu_ns += m["Executor CPU Time"]
    s.gc_ms += m["JVM GC Time"]
    s.sched_delay_ms += _sched_delay_ms(info, m)
    s.spill_b += m["Disk Bytes Spilled"]
    s.peak_exec_mem_b = max(s.peak_exec_mem_b, m["Peak Execution Memory"])
    read = m["Shuffle Read Metrics"]
    s.shuffle_read_b += read["Remote Bytes Read"] + read["Local Bytes Read"]
    s.fetch_wait_ms += read["Fetch Wait Time"]
    s.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]


def parse(path: Path) -> dict[str, OpStats]:
    """Runtime counts per benchmark tag, from the event log at ``path``."""
    stats: dict[str, OpStats] = {}
    job_tag: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_tag: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tag = _tag(ev.get("Properties"))
                if tag:
                    job_tag[ev["Job ID"]] = tag
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    stats.setdefault(tag, OpStats()).jobs += 1
            elif kind == "SparkListenerJobEnd":
                tag = job_tag.get(ev["Job ID"])
                if tag:
                    stats[tag].job_intervals.append(
                        (job_start[ev["Job ID"]], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageSubmitted":
                tag = _tag(ev.get("Properties"))
                if tag:
                    stage_tag[ev["Stage Info"]["Stage ID"]] = tag
            elif kind == "SparkListenerStageCompleted":
                tag = stage_tag.get(ev["Stage Info"]["Stage ID"])
                if tag:
                    stats.setdefault(tag, OpStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"])
                if tag:
                    _add_task(stats.setdefault(tag, OpStats()), ev)
    return stats


def covered_s(intervals_ms: list[tuple[int, int]], start: float, end: float) -> float:
    """Seconds of [start, end] (epoch seconds) covered by the union of the
    job intervals."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals_ms):
        a, b = max(a / 1000.0, cursor), min(b / 1000.0, end)
        if b > a:
            covered += b - a
            cursor = b
    return covered
