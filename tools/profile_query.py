"""Per-job/per-stage profile of one registered query at bench scale.

Runs the named queries exactly as bench.py does (noop sink, warm
session) with the Spark event log enabled, then folds the log with
``perfbench.eventlog.SparkLog`` into a per-job breakdown: wall, call
site, and each stage's wall and task count — the local[32] stand-in
for the Spark UI's Jobs page (guide §1.1/§7.1; session.get_spark
disables the UI server).

Usage: python tools/profile_query.py <query> [query ...]
       SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py
"""

from __future__ import annotations

import os
import shlex
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import SparkLog  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    assert names, "usage: profile_query.py <query> [query ...]"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="spark_events_")
    # event-log confs are static: they reach the JVM only at launch
    confs = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir,
             "spark.eventLog.compress": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [shlex.quote(f"--conf={k}={v}") for k, v in confs.items()] + ["pyspark-shell"])

    from gomapreduce_spark.queries import QUERIES
    from gomapreduce_spark.session import get_spark
    from tools.timing import run_noop, warm

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm(QUERIES, spark, sf_dir)

    sc = spark.sparkContext
    for name in names:
        for rep in (1, 2):  # rep2 is the warm run — read that one
            sc.setJobGroup(f"{name}#r{rep}", name)
            t0 = time.time()
            run_noop(QUERIES, name, spark, sf_dir)
            print(f"=== {name} rep{rep}: {time.time() - t0:.3f}s total ===")
    spark.stop()

    log = SparkLog(evdir)
    by_group: dict[str, list] = {}
    for jid in sorted(log.jobs):
        by_group.setdefault(log.jobs[jid].group, []).append(log.jobs[jid])
    for group, jobs in by_group.items():
        if group.split("#")[0] not in names:
            continue
        print(f"\n##### {group} — {len(jobs)} jobs")
        for j in jobs:
            wall = f"{j.end_s - j.submit_s:7.3f}s" if j.end_s else "  no end"
            print(f"  job {j.job_id:>3}  {wall}  {j.call_site[:90]}")
            for (sid, _), st in sorted(log.stages.items()):
                if st.job_id == j.job_id and st.end_s:
                    tasks = int(st.counters["tasks"])
                    print(f"        stage {sid:>3} {st.end_s - st.submit_s:7.3f}s {tasks:>3}t")
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
