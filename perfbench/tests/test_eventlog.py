import os

from eventlog import group_totals, read_group_totals

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_captured_log_splits_by_job_group():
    totals = read_group_totals(DATA)
    assert {"g-scan", "g-agg"} <= set(totals)
    scan, agg = totals["g-scan"], totals["g-agg"]
    assert scan["jobs"] >= 1 and agg["jobs"] >= 1
    # only the aggregation shuffles
    assert scan["shuffle_write_bytes"] == 0
    assert agg["shuffle_write_bytes"] > 0
    assert agg["stages"] >= 2 and agg["tasks"] >= agg["stages"]
    assert all(t["executor_run_ms"] >= 0 for t in totals.values())


def test_stage_counts_once_for_the_first_job_that_lists_it():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}}',
        '{"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "b"}}',
        '{"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}}',
        '{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Number of Tasks": 4, "Accumulables": [{"Name": "internal.metrics.executorRunTime", "Value": 40}]}}',
        '{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Number of Tasks": 2, "Accumulables": [{"Name": "internal.metrics.diskBytesSpilled", "Value": 7}]}}',
        '{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "Number of Tasks": 1, "Accumulables": []}}',
    ]
    totals = group_totals(lines)
    assert set(totals) == {"a", "b"}
    assert totals["a"]["jobs"] == 1 and totals["a"]["stages"] == 1
    assert totals["a"]["executor_run_ms"] == 40 and totals["a"]["tasks"] == 4
    assert totals["b"]["stages"] == 1 and totals["b"]["spill_bytes"] == 7
