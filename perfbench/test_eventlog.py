"""Checks of the event-log reader on a hand-written rolling log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import SparkLog, event_files  # noqa: E402
from spans import Tracer, covered  # noqa: E402

APP = "local-1"


def _write(d, name, events):
    with open(os.path.join(d, name), "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _rolling_log(tmp_path):
    d = tmp_path / f"eventlog_v2_{APP}"
    d.mkdir()
    plan = {"nodeName": "HashAggregate", "simpleString": "", "children": [
        {"nodeName": "Scan parquet ", "simpleString": "", "children": [],
         "metrics": [{"name": "number of output rows", "accumulatorId": 7, "metricType": "sum"},
                     {"name": "size of files read", "accumulatorId": 8, "metricType": "size"}]}],
        "metrics": [{"name": "time in aggregation build", "accumulatorId": 9,
                     "metricType": "timing"}]}
    # file 2 must be read before file 10: the job starts in 2 and ends in 10
    _write(d, f"events_2_{APP}", [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Stage Infos": [{"Stage ID": 0, "Stage Name": "localCheckpoint at x:1"}],
         "Properties": {"spark.jobGroup.id": "w|t0|q", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [{"ID": 7, "Update": 5}, {"ID": 9, "Update": "250"}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 2e8, "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64,
                                                    "Shuffle Write Time": 1e6}}},
    ])
    _write(d, f"events_10_{APP}", [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[8, 4096]]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1100, "Completion Time": 1900}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ])
    return tmp_path


def test_rolling_files_in_numeric_order(tmp_path):
    root = _rolling_log(tmp_path)
    names = [os.path.basename(p) for p in event_files(str(root))]
    assert names == [f"events_2_{APP}", f"events_10_{APP}"]


def test_fold_jobs_stages_and_sql_metrics(tmp_path):
    log = SparkLog(str(_rolling_log(tmp_path)))
    job = log.jobs[0]
    assert (job.submit_s, job.end_s, job.group) == (1.0, 2.0, "w|t0|q")
    assert "localCheckpoint" in job.call_site and job.sql_execution == 0
    c = log.stages[(0, 0)].counters
    assert c["tasks"] == 1 and c["task_failures"] == 1
    assert c["run_s"] == 0.4 and c["cpu_s"] == 0.2 and c["shuffle_bytes_written"] == 64
    assert c["sql|Scan parquet |number of output rows"] == 5
    assert c["sql|HashAggregate|time in aggregation build"] == 0.25
    assert log.driver_sql[0]["sql|Scan parquet |size of files read"] == 4096


def test_self_time_subtracts_covered_children():
    tr = Tracer()
    root = tr.add("op", "op", 0.0, 10.0, None)
    tr.add("a", "spark.job", 1.0, 4.0, root.sid)
    tr.add("b", "spark.job", 3.0, 6.0, root.sid)
    assert covered([(1.0, 4.0), (3.0, 6.0), (20.0, 30.0)], 0.0, 10.0) == 5.0
    assert tr.self_times(root) == {"op": 5.0, "spark.job": 6.0}
