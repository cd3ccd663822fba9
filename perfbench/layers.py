"""Per-layer metrics of a traced run.

Spark jobs and stages from the event log, and streaming triggers from
the query listener, are joined into the benchmark's span tree under the
innermost benchmark span open when they started. Every figure is per
timed pass: its sum over the traced passes divided by their count.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
from collections import defaultdict

from eventlog import SparkLog
from spans import covered

PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")
TRIGGER_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
# span layers whose self time is reported; the harness's own pass and op
# spans make up the unattributed remainder
SELF_LAYERS = ("sources", "driver", "exec", "streaming", "mapreduce",
               "streaming.trigger", "spark.job", "spark.stage")


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _sql(counters: dict, node_match, metric: str) -> float:
    return sum(v for k, v in counters.items()
               if k.startswith("sql|") and k.endswith("|" + metric) and node_match(k.split("|")[1]))


def _is_scan(node: str) -> bool:
    return node.startswith(("Scan ", "BatchScan")) and "ExistingRDD" not in node


def _is_agg(node: str) -> bool:
    return node.endswith("Aggregate")


def _is_python(node: str) -> bool:
    return node in PYTHON_NODES


def join_spark(tr, run_span, log: SparkLog, progress: list[dict]) -> None:
    """Add trigger, job and stage spans to ``tr`` below ``run_span``."""
    kids = tr.children()
    for p in progress:
        start = _epoch(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
        host = tr.innermost(start, run_span, kids)
        tr.add(f"trigger {p['batchId']}", "streaming.trigger", start, end, host.sid, progress=p)
    kids = tr.children()
    by_job = defaultdict(list)
    for st in log.stages.values():
        by_job[st.job_id].append(st)
    for job in log.jobs.values():
        if not job.end_s:
            continue
        host = tr.innermost(job.submit_s, run_span, kids)
        js = tr.add(f"job {job.job_id}", "spark.job", job.submit_s, job.end_s, host.sid,
                    job_id=job.job_id, group=job.group, call_site=job.call_site)
        for st in by_job.get(job.job_id, []):
            if st.end_s:
                tr.add(f"stage {st.stage_id}.{st.attempt}", "spark.stage", st.submit_s, st.end_s,
                       js.sid, stage_id=st.stage_id, counters=dict(st.counters))


def per_layer(bench, run_span, traced, untraced, events_dir, app_id, host):
    """(metrics, extra): every ``per_layer`` metric of BENCHMARK.json, and
    the run's totals for the report."""
    tr = bench.tr
    log = SparkLog(os.path.join(events_dir, f"eventlog_v2_{app_id}"))
    join_spark(tr, run_span, log, bench.progress)
    kids = tr.children()
    n = len(traced)

    def subtree(span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    spans = [s for p in traced for s in subtree(p)]
    by_layer = defaultdict(list)
    for s in spans:
        by_layer[s.layer].append(s)
    jobs = [log.jobs[s.attrs["job_id"]] for s in by_layer["spark.job"]]
    job_ids = {j.job_id for j in jobs}
    stages = [st for st in log.stages.values() if st.job_id in job_ids]
    c = defaultdict(float)
    for st in stages:
        for k, v in st.counters.items():
            c[k] += v
    for ex in {j.sql_execution for j in jobs if j.sql_execution is not None}:
        for k, v in log.driver_sql.get(ex, {}).items():
            c[k] += v

    def total(layer):
        return sum(s.dur for s in by_layer[layer])

    def uncovered(span):
        inner = [(s.start, s.end) for s in subtree(span) if s.layer == "spark.job"]
        return span.dur - covered(inner, span.start, span.end)

    ckpt = [j for j in jobs if "checkpoint" in j.call_site.lower()]
    trig = [s.attrs["progress"] for s in by_layer["streaming.trigger"]]
    # state held by each replay: the most over its triggers
    peak_rows, peak_mem = defaultdict(int), defaultdict(int)
    for p in trig:
        ops = p.get("stateOperators", [])
        peak_rows[p["runId"]] = max(peak_rows[p["runId"]], sum(o.get("numRowsTotal", 0) for o in ops))
        peak_mem[p["runId"]] = max(peak_mem[p["runId"]], sum(o.get("memoryUsedBytes", 0) for o in ops))
    submits = by_layer["mapreduce"]
    skews = []
    for s in submits:
        red = s.attrs.get("reduce_task_s") or []
        if red and statistics.median(red) > 0:
            skews.append(max(red) / statistics.median(red))
    setup_spans = [s for s in tr.spans if s.layer == "setup" and s.name != "setup traced"]
    setup_kids = [k for s in setup_spans for k in kids.get(s.sid, [])]
    self_t = defaultdict(float)
    for p in traced:
        for layer, v in tr.self_times(p).items():
            self_t[layer] += v
    traced_pass = statistics.median(p.dur for p in traced)
    untraced_pass = statistics.median(p.dur for p in untraced)

    m = {
        "session.start_s": statistics.median(k.dur for k in setup_kids if k.name == "session.start"),
        "session.warm_s": statistics.median(k.dur for k in setup_kids if k.name == "session.warm"),
        "sources.load_s": total("sources") / n,
        "spark.scan.bytes": (_sql(c, _is_scan, "size of files read")) / n,
        "spark.scan.rows": _sql(c, _is_scan, "number of output rows") / n,
        "spark.scan.time_s": _sql(c, _is_scan, "scan time") / n,
        "driver.build_s": total("driver") / n,
        "driver.gap_s": sum(uncovered(s) for s in by_layer["op"]) / n,
        "spark.checkpoint.jobs": len(ckpt) / n,
        "spark.checkpoint.s": sum(j.end_s - j.submit_s for j in ckpt) / n,
        "exec.s": total("exec") / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(1 for st in stages if st.counters.get("tasks")) / n,
        "spark.tasks": c["tasks"] / n,
        "spark.task_run_s": c["run_s"] / n,
        "spark.task_cpu_s": c["cpu_s"] / n,
        "spark.gc_s": c["gc_s"] / n,
        "spark.task_failures": c["task_failures"] / n,
        "spark.shuffle.bytes_written": c["shuffle_bytes_written"] / n,
        "spark.shuffle.write_s": c["shuffle_write_s"] / n,
        "spark.shuffle.fetch_wait_s": c["fetch_wait_s"] / n,
        "spark.agg.spill_bytes": _sql(c, _is_agg, "spill size") / n,
        "spark.agg.peak_mem_bytes": _sql(c, _is_agg, "peak memory") / n,
        "spark.agg.build_s": _sql(c, _is_agg, "time in aggregation build") / n,
        "spark.python.run_s": _sql(c, _is_python, "time to run Python workers") / n,
        "spark.python.bytes_sent": _sql(c, _is_python, "data sent to Python workers") / n,
        "spark.python.bytes_returned": _sql(c, _is_python, "data returned from Python workers") / n,
        "streaming.triggers": len(trig) / n,
        "streaming.triggers_per_replay": len(trig) / max(1, len(by_layer["streaming"])),
        **{f"streaming.trigger_ms.{ph}": sum(p["durationMs"].get(ph, 0) for p in trig) / n
           for ph in TRIGGER_PHASES},
        "streaming.state_rows": sum(peak_rows.values()) / n,
        "streaming.state_rows_removed": sum(o.get("numRowsRemoved", 0)
                                            for p in trig for o in p.get("stateOperators", [])) / n,
        "streaming.state_mem_bytes": sum(peak_mem.values()) / n,
        "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0)
                                         for p in trig for o in p.get("stateOperators", [])) / n,
        "mapreduce.job_s": sum(s.attrs["job_s"] for s in submits) / n,
        "mapreduce.map_task_s": sum(sum(s.attrs["map_task_s"]) for s in submits) / n,
        "mapreduce.reduce_task_s": sum(sum(s.attrs["reduce_task_s"]) for s in submits) / n,
        "mapreduce.reduce_skew": statistics.median(skews) if skews else 0.0,
        "mapreduce.output_s": sum(uncovered(s) for s in submits) / n,
        **{f"self.{layer}_s": self_t[layer] / n for layer in SELF_LAYERS},
        "trace.unattributed_s": (self_t["pass"] + self_t["op"]) / n,
        "trace.overhead_s": traced_pass - untraced_pass,
        "host.calib_s": host["calib_s"],
        "host.nproc": host["nproc"],
        "host.load1_before": host["load1_before"],
        "host.load1_after": host["load1_after"],
    }
    # build (or replay) and exec time, and streaming triggers, of each operation, per pass
    split = defaultdict(lambda: defaultdict(float))
    for s in by_layer["op"]:
        for k in kids.get(s.sid, []):
            split[s.name][k.layer] += k.dur / n
        triggers = sum(1 for k in subtree(s) if k.layer == "streaming.trigger")
        if triggers:
            split[s.name]["triggers"] += triggers / n
    extra = {
        "op_split_s": {k: dict(v) for k, v in split.items()},
        "event_files": log.n_files, "traced_passes": n, "traced_pass_s": traced_pass,
        "untraced_pass_s": untraced_pass, "self_s_per_pass": {k: v / n for k, v in self_t.items()},
        "jobs_total": len(log.jobs), "triggers_total": len(bench.progress),
    }
    return m, extra
