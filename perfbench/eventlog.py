"""Reader for Spark's JSON event log, rolling or single-file.

A rolling log is a directory ``eventlog_v2_<appId>/`` of files
``events_<n>_<appId>``; the files are read in the numeric order of
``<n>``, so ``events_2`` comes before ``events_10``.

:class:`SparkLog` folds the events into per-job records (time window,
job group, call site, stages) and per-stage counters: task time, CPU,
GC, shuffle, and the SQL-node metrics of each plan node, keyed by the
node type that owns the metric accumulator.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_INDEX = re.compile(r"^events_(\d+)_")

# SQL metric types whose task updates are durations, and their unit in seconds.
_TIME_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


def event_files(log_dir: str) -> list[str]:
    """Every event file of the one application logged under ``log_dir``,
    in write order. ``log_dir`` is a rolling-log directory, or a
    directory holding one such directory or one single-file log."""
    names = os.listdir(log_dir)
    rolling = [n for n in names if _INDEX.match(n)]
    if rolling:
        rolling.sort(key=lambda n: int(_INDEX.match(n).group(1)))
        return [os.path.join(log_dir, n) for n in rolling]
    subdirs = [n for n in names if n.startswith("eventlog_v2_")]
    if len(subdirs) == 1:
        return event_files(os.path.join(log_dir, subdirs[0]))
    files = [n for n in names if os.path.isfile(os.path.join(log_dir, n))]
    if len(files) != 1 or subdirs:
        raise ValueError(f"expected the event log of one application in {log_dir}, found {names}")
    return [os.path.join(log_dir, files[0])]


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Job:
    job_id: int
    submit_s: float
    end_s: float = 0.0
    group: str = ""
    call_site: str = ""
    sql_execution: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    attempt: int
    job_id: int | None
    submit_s: float = 0.0
    end_s: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def _node_metrics(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for child in plan.get("children", []):
        _node_metrics(child, out)


def _number(v) -> float | None:
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return None


class SparkLog:
    """Jobs and stage counters of one application's event log.

    Stage counters hold, summed over the stage's successful tasks:
    ``tasks``, ``task_failures``, ``run_s``, ``cpu_s``, ``gc_s``,
    ``shuffle_bytes_written``, ``shuffle_write_s``, ``fetch_wait_s``,
    and one ``sql|<node>|<metric>`` entry per SQL-node metric (durations
    in seconds). Driver-side SQL metrics (such as the bytes a file scan
    lists) land in :attr:`driver_sql`, keyed by SQL execution id.
    """

    def __init__(self, log_dir: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[tuple[int, int], Stage] = {}
        self.driver_sql: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.n_files = len(event_files(log_dir))
        acc_owner: dict[int, tuple[str, str, str]] = {}
        stage_job: dict[int, int] = {}
        for ev in read_events(log_dir):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                          group=props.get("spark.jobGroup.id") or "",
                          stage_ids=list(ev.get("Stage IDs", [])))
                exec_id = props.get("spark.sql.execution.id")
                job.sql_execution = int(exec_id) if exec_id not in (None, "") else None
                infos = ev.get("Stage Infos") or []
                if infos:
                    # the job's result stage carries the job's call site
                    last = max(infos, key=lambda s: s["Stage ID"])
                    job.call_site = props.get("callSite.short") or last.get("Stage Name", "")
                for sid in job.stage_ids:
                    stage_job[sid] = job.job_id
                self.jobs[job.job_id] = job
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_s = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = self._stage(info["Stage ID"], info.get("Stage Attempt ID", 0), stage_job)
                st.submit_s = (info.get("Submission Time") or 0) / 1e3
                st.end_s = (info.get("Completion Time") or 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                self._task_end(ev, self._stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0),
                                               stage_job), acc_owner)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _node_metrics(ev["sparkPlanInfo"], acc_owner)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                sums = self.driver_sql[ev["executionId"]]
                for acc_id, value in ev["accumUpdates"]:
                    owner = acc_owner.get(acc_id)
                    if owner is not None:
                        node, metric, mtype = owner
                        sums[f"sql|{node}|{metric}"] += value * _TIME_UNIT.get(mtype, 1.0)

    def _stage(self, sid: int, attempt: int, stage_job: dict[int, int]) -> Stage:
        key = (sid, attempt)
        if key not in self.stages:
            self.stages[key] = Stage(sid, attempt, stage_job.get(sid))
        return self.stages[key]

    @staticmethod
    def _task_end(ev: dict, st: Stage, acc_owner: dict) -> None:
        c = st.counters
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            c["task_failures"] += 1
            return
        c["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        c["run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        c["shuffle_bytes_written"] += sw.get("Shuffle Bytes Written", 0)
        c["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        c["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            owner = acc_owner.get(acc.get("ID"))
            value = _number(acc.get("Update"))
            if owner is None or value is None:
                continue
            node, metric, mtype = owner
            c[f"sql|{node}|{metric}"] += value * _TIME_UNIT.get(mtype, 1.0)
