"""Spark event-log parser: per-job-group counters for the traced run.

The benchmark tags every call into the engine with
``sparkContext.setJobGroup(<group>, ...)``. Spark records the group in each
``SparkListenerJobStart``'s properties and lists the job's stage ids there;
tasks name their stage. So a task's metrics reach its group through
task -> stage -> job -> group. A stage that several jobs list (a reused
shuffle) belongs to the first job that lists it, which is the one that ran
it; later jobs skip it.

Jobs started without a group (none are expected) land in the group ``""``.
The log stays ``*.inprogress`` until the SparkContext stops, so parse it
after ``spark.stop()``.
"""

from __future__ import annotations

import json
from collections import defaultdict

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_failures",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "result_bytes",
    "input_bytes",
)


def parse(lines) -> tuple[dict[str, dict[str, float]], dict[str, list[tuple[float, float]]]]:
    """Return ({group: {counter: value}}, {group: [(start_s, end_s), ...]})
    from an iterable of event-log lines. Job spans are in epoch seconds."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    counters: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)

    def group_of_stage(stage_id: int) -> dict[str, float]:
        return counters[job_group.get(stage_job.get(stage_id, -1), "")]

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[job] = group
            job_start[job] = ev["Submission Time"] / 1000.0
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, job)
            counters[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            spans[job_group[job]].append((job_start[job], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            group_of_stage(ev["Stage Info"]["Stage ID"])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = group_of_stage(ev["Stage ID"])
            c["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                c["task_failures"] += 1
            m = ev.get("Task Metrics") or {}
            if not m:
                continue
            c["exec_run_s"] += m["Executor Run Time"] / 1e3
            c["exec_cpu_s"] += m["Executor CPU Time"] / 1e9
            c["gc_s"] += m["JVM GC Time"] / 1e3
            c["result_bytes"] += m["Result Size"]
            c["spill_bytes"] += m["Disk Bytes Spilled"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
    return dict(counters), dict(spans)


def parse_file(path: str):
    with open(path, encoding="utf-8") as f:
        return parse(f)
