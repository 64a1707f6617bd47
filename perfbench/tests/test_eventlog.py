import json
import os

import eventlog
import pytest

#: A real Spark 4.1 event log (trimmed to the events and fields the parser
#: reads) of: a grouped aggregation counted under job group "1|q|build",
#: written to the noop sink under "1|q|action", and collected under
#: "verify|q".
SAMPLE = os.path.join(os.path.dirname(__file__), "eventlog_sample.jsonl")


def test_sample_log_counters_per_group():
    counters, spans = eventlog.parse_file(SAMPLE)
    assert set(counters) == {"1|q|build", "1|q|action", "verify|q"}
    assert [counters[g]["jobs"] for g in ("1|q|build", "1|q|action", "verify|q")] == [3, 2, 2]
    assert [counters[g]["stages"] for g in ("1|q|build", "1|q|action", "verify|q")] == [3, 2, 2]
    assert [counters[g]["tasks"] for g in ("1|q|build", "1|q|action", "verify|q")] == [4, 3, 3]
    for c in counters.values():
        assert c["task_failures"] == 0
        assert c["shuffle_write_bytes"] > 0 and c["shuffle_read_bytes"] > 0
        assert 0 < c["exec_cpu_s"] <= c["exec_run_s"]
        assert c["result_bytes"] > 0
    with open(SAMPLE) as f:
        task_ends = sum(json.loads(line)["Event"] == "SparkListenerTaskEnd" for line in f)
    assert sum(c["tasks"] for c in counters.values()) == task_ends
    # one span per job, in submission order: build before action before verify
    assert {g: len(s) for g, s in spans.items()} == {g: c["jobs"] for g, c in counters.items()}
    ends = [max(b for _, b in spans[g]) for g in ("1|q|build", "1|q|action", "verify|q")]
    starts = [min(a for a, _ in spans[g]) for g in ("1|q|build", "1|q|action", "verify|q")]
    assert ends[0] <= starts[1] and ends[1] <= starts[2]


def _task_end(stage, reason="Success", run_ms=10):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 1, "Result Size": 100, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
            "Input Metrics": {"Bytes Read": 4},
        },
    }


def test_shared_stage_belongs_to_the_job_that_ran_it_and_failures_count():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}},
        _task_end(0), _task_end(1, reason="ExceptionFailure"), _task_end(1),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # job 1 reuses stage 1's shuffle (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "b"}},
        _task_end(2),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
    ]
    counters, spans = eventlog.parse(json.dumps(e) for e in events)
    a, b = counters["a"], counters["b"]
    assert (a["jobs"], a["stages"], a["tasks"], a["task_failures"]) == (1, 2, 3, 1)
    assert (b["jobs"], b["stages"], b["tasks"], b["task_failures"]) == (1, 1, 1, 0)
    assert a["exec_run_s"] == pytest.approx(0.03)
    assert a["exec_cpu_s"] == pytest.approx(0.015)
    assert (a["shuffle_read_bytes"], a["shuffle_write_bytes"], a["input_bytes"]) == (9, 9, 12)
    assert (a["spill_bytes"], a["result_bytes"], a["gc_s"]) == (15, 300, pytest.approx(0.003))
    assert counters[""]["jobs"] == 1
    assert spans == {"a": [(1.0, 3.0)], "b": [(4.0, 4.5)], "": [(5.0, 5.1)]}
