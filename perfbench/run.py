"""Seeded end-to-end benchmark of the gomapreduce_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run generates the workload's input
from ``--seed`` under ``.perfbench/``, then starts the engine's session
on ``local[nproc]`` and warms it three times; set-up time is their
median. The first warm-up checks every operation's output once against
the DuckDB oracle of ``queries.ORACLES`` (for the MapReduce job, against
the generator's exact word counts). Timed passes over the workload's
operations then run for ``--seconds``.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, read from Spark's event log and streaming progress of a
separately started, traced session. A traced run also writes every span
to ``.perfbench/trace-<workload>.json``. Output mismatches exit 1.

Operations are timed by calls into the engine's public functions only:
``session.get_spark``, ``sources.registry.load_table``, the
``queries.QUERIES`` callables (their call time is driver-side build) and
the final ``noop`` write (execution), the ``streaming`` replays, and
``mapreduce.MapReduceEngine.submit``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

# one cold set-up (JVM launch and output check), then warm restarts
SETUP_REPS = 3
# timed passes per run at least; a traced run's two halves take three each
MIN_PASSES = 4
MIN_TRACED_PASSES = 3
# JVM heap sizing for a steady peak_rss_mb. The maximum stays the engine's
# own (session.get_spark). Left to G1, the heap grew in steps of about
# 500 MiB whenever GC pauses ran long, so the JVM's resident size jumped
# between runs of equal work. With a fixed young generation and a 3 GiB
# starting heap, the heap does not grow below 3 GiB, and the resident size
# is the heap regions that young and old data have touched.
YOUNG_GEN = "768m"
HEAP_START = "3g"
MR_CHUNK_DIR = "chunks"
# bench.py's host calibration loop: fixed JVM-side work, no repo code.
CALIB_ROWS = 200_000_000


@dataclass(frozen=True)
class Op:
    """One operation: a registered query, a streaming replay, or one
    MapReduce job."""

    name: str
    kind: str = "query"  # query | stream | mrjob


@dataclass(frozen=True)
class Workload:
    why: str
    tables: tuple[str, ...]
    ops: tuple[Op, ...]


# Two workloads that stress different layers; each layer change has one
# that exercises it and one that bypasses it (see README.md).
WORKLOADS = {
    "corpus_mapreduce": Workload(
        "text-corpus work on the Python paths: an n-gram novelty query (driver "
        "build, localCheckpoint, MapInPandas) and the reference word-count job "
        "through MapReduceEngine.submit",
        ("documents",),
        (Op("ngram_novelty"), Op("mr_wordcount_job", "mrjob")),
    ),
    "warehouse_stream": Workload(
        "JVM-only work with no checkpoint and no pandas: TPC-H-style joins "
        "and aggregations, and availableNow replays of time-ordered event "
        "files: windowed counts in one trigger, dedup state kept and evicted "
        "across several",
        ("customer", "lineitem", "orders", "events"),
        tuple(Op(n) for n in (
            "q12_late_by_returnflag", "q18_large_orders", "rollup_revenue", "topk_per_group",
        )) + (Op("streaming_tumbling_counts", "stream"), Op("streaming_dedup_events", "stream")),
    ),
}


def _tumbling_counts(spark, events_path: str):
    from gomapreduce_spark.streaming import streaming_tumbling_counts

    # takes no trigger bound: one trigger reads every file
    return streaming_tumbling_counts(spark, events_path)


def _dedup_events(spark, events_path: str):
    from pyspark.sql import functions as F

    from gomapreduce_spark.streaming import streaming_dedup_events

    # the projection of QUERIES["streaming_dedup_events"], which its oracle reads
    k = gen.STREAM["files_per_trigger"]
    return streaming_dedup_events(spark, events_path, max_files_per_trigger=k).select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value", "props")


# Streaming replays are called directly, not through their QUERIES
# wrappers, so that a replay can bound the event files each trigger reads.
STREAMS = {"streaming_tumbling_counts": _tumbling_counts, "streaming_dedup_events": _dedup_events}

# (call span, call layer, exec span, exec layer) per operation kind
KIND_SPANS = {
    "query": ("build", "driver", "exec", "exec"),
    "stream": ("replay", "streaming", "exec", "exec"),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and the Python worker tree under it), sampled from /proc while
    active. Each process counts its proportional share (PSS) of pages it
    shares with others, so forked Python workers are not counted twice.
    ``peak_by_kind`` keeps the JVM's and the Python workers' own peaks."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_bytes = 0
        self.peak_by_kind = {"jvm": 0, "python": 0}
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            if self.active:
                kinds = self.sample()
                self.peak_bytes = max(self.peak_bytes, sum(kinds.values()))
                for k, v in kinds.items():
                    self.peak_by_kind[k] = max(self.peak_by_kind[k], v)

    def sample(self) -> dict[str, int]:
        kinds = {"jvm": 0, "python": 0}
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    kind = "jvm" if fh.read().strip() == "java" else "python"
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            kinds[kind] += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass  # exited between listing and reading
        return kinds


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """p90, or the highest percentile with at least 10 samples above it."""
    return max(0.5, min(0.9, 1.0 - 10.0 / n))


def prepare_env(work: str, trace: bool) -> str:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``; return the event-log directory of a traced run."""
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning,ignore::DeprecationWarning"
    # -UsePerfData stops the JVMs (spark-submit's launcher too) writing
    # /tmp/hsperfdata_<user>.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{HEAP_START} -Xmn{YOUNG_GEN} -XX:-UsePerfData"]
    if trace:
        # Logging stays off for the untraced first half of a traced run;
        # enable_event_log turns it on for the session started after it.
        args += [f"--conf={k}={v}" for k, v in {
            "spark.eventLog.enabled": "false",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.rolling.maxFileSize": "10m",
        }.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    return events


class Bench:
    def __init__(self, workload: str, work: str, info: dict, tracer: Tracer):
        from gomapreduce_spark.queries import ORACLES, PRECOMPUTED_ORACLE_SF, QUERIES

        self.name = workload
        self.wl = WORKLOADS[workload]
        self.work = work
        self.data = os.path.join(work, "data")
        self.info = info
        self.tr = tracer
        self.queries = QUERIES
        self.oracles = ORACLES
        stale = [o.name for o in self.wl.ops if o.name in PRECOMPUTED_ORACLE_SF]
        if stale:
            raise ValueError(f"precomputed oracles are valid only on fixed testdata: {stale}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.progress: list[dict] = []
        self.mismatches: list[str] = []

    # -- session ----------------------------------------------------------

    def start_session(self, listen: bool = False) -> None:
        from gomapreduce_spark.session import get_spark

        with self.tr.span("session.start", "session"):
            self.spark = get_spark(f"perfbench-{self.name}", cpus=nproc())
        self.spark.sparkContext.setLogLevel("ERROR")
        if listen:
            self.spark.streams.addListener(progress_listener(self.progress))

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def enable_event_log(self) -> None:
        """Log the next session: ``SparkConf`` reads ``spark.*`` JVM system
        properties each time a context starts."""
        from pyspark import SparkContext

        SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "true")

    # -- operations ---------------------------------------------------------

    def run_op(self, op: Op, collect: bool = False):
        """Run one operation; with ``collect`` return its output for the check."""
        if op.kind == "mrjob":
            return self._mr_job()
        call, call_layer, exe, exe_layer = KIND_SPANS[op.kind]
        with self.tr.span(call, call_layer):
            if op.kind == "stream":
                df = STREAMS[op.name](self.spark, os.path.join(self.data, "events.parquet"))
            else:
                df = self.queries[op.name](self.spark, self.data)
        if collect:
            return df.toPandas()
        with self.tr.span(exe, exe_layer):
            df.write.format("noop").mode("overwrite").save()
        return None

    def _mr_job(self) -> dict:
        from gomapreduce_spark.mapreduce import (
            DemoMapper, DemoReducer, DirectoryInputer, JobConfig, MapReduceEngine,
        )
        from gomapreduce_spark.mapreduce.io import PartitionedSink

        eng = MapReduceEngine(self.spark)
        sink = PartitionedSink(os.path.join(self.work, "mr_out"))
        with self.tr.span("submit", "mapreduce") as s:
            job = eng.submit(JobConfig(m=nproc(), r=nproc()), DemoMapper(), DemoReducer(),
                             DirectoryInputer(os.path.join(self.work, MR_CHUNK_DIR)), sink, sync=True)
            eng.wait(job)
        stats = eng.stats(job)
        times = stats.task_times
        s.attrs.update(job_s=stats.job_time, map_task_s=times.get("map", []),
                       reduce_task_s=times.get("reduce", []))
        eng.done(job)
        return sink.results

    def run_pass(self, label: str):
        from gomapreduce_spark.sources.registry import load_table

        sc = self.spark.sparkContext
        with self.tr.span(f"pass {label}", "pass", label=label) as ps:
            sc.setJobGroup(f"{self.name}|{label}|load", "load")
            with self.tr.span("load", "sources"):
                for t in self.wl.tables:
                    load_table(self.spark, self.data, t).write.format("noop").mode("overwrite").save()
            for op in self.wl.ops:
                sc.setJobGroup(f"{self.name}|{label}|{op.name}", op.name)
                with self.tr.span(op.name, "op") as s:
                    self.attempted += 1
                    try:
                        self.run_op(op)
                    except Exception as e:  # noqa: BLE001 -- counted, run continues
                        s.attrs["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                        self.failed += 1
                        self.errors.append(f"{op.name}: {s.attrs['error']}")
            sc.setJobGroup(f"{self.name}|{label}|idle", "idle")
        return ps

    def setup(self, reps: int) -> list[float]:
        """Start and warm the session ``reps`` times; the last one stays up.
        The first start launches the JVM, and its warm-up pass is the
        output check, which collects every operation's result."""
        totals = []
        for rep in range(reps):
            if self.spark is not None:
                self.stop_session()
            t0 = time.time()
            with self.tr.span(f"setup {rep}", "setup"):
                self.start_session()
                with self.tr.span("session.warm", "session"):
                    if rep == 0:
                        self.mismatches = self.check()
                    else:
                        self.run_pass(f"w{rep}")
            totals.append(time.time() - t0)
        return totals

    def timed_passes(self, seconds: float, tag: str, min_passes: int) -> list:
        spans = []
        t0 = time.time()
        while len(spans) < min_passes or time.time() - t0 < seconds:
            spans.append(self.run_pass(f"{tag}{len(spans)}"))
        return spans

    # -- correctness ------------------------------------------------------------

    def check(self) -> list[str]:
        """Check each operation's output once; return the mismatches."""
        import duckdb
        from tools.check_oracle import canon, pandas_rows

        con = duckdb.connect()
        for f in os.listdir(self.data):
            if f.endswith(".parquet"):
                path = os.path.join(self.data, f)
                glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{glob}')")
        bad = []
        with self.tr.span("check", "check"):
            for op in self.wl.ops:
                self.spark.sparkContext.setJobGroup(f"{self.name}|check|{op.name}", op.name)
                self.attempted += 1
                try:
                    got = self.run_op(op, collect=True)
                    if op.kind == "mrjob":
                        ok, why = self._check_mr(got)
                    else:
                        sc, sr = canon(*pandas_rows(got))
                        dc, dr = canon(*pandas_rows(con.sql(self.oracles[op.name]).fetchdf()))
                        ok = sc == dc and sr == dr
                        why = f"columns {sc} vs {dc}, {len(sr)} vs {len(dr)} rows"
                except Exception as e:  # noqa: BLE001 -- an error is a failed check
                    ok, why = False, f"{type(e).__name__}: {str(e)[:300]}"
                if not ok:
                    bad.append(f"{op.name}: {why}")
        con.close()
        self.failed += len(bad)
        return bad

    def _check_mr(self, results: dict) -> tuple[bool, str]:
        want = {w: int(n) for w, n in self.info["counts"].items()}
        if {k: int(v) for k, v in results.items()} != want:
            return False, f"job output differs from exact counts ({len(results)} vs {len(want)} words)"
        back = self.spark.read.parquet(os.path.join(self.work, "mr_out")).collect()
        if {r["key"]: int(r["value"]) for r in back} != want:
            return False, "PartitionedSink files differ from exact counts"
        return True, ""

    def calibrate(self) -> float:
        t0 = time.time()
        self.spark.range(CALIB_ROWS).selectExpr("sum((id * 3 + 1) % 7) AS s").write.format(
            "noop").mode("overwrite").save()
        return time.time() - t0


def progress_listener(sink: list):
    """A StreamingQueryListener appending every progress report to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def pass_metrics(bench: Bench, passes: list) -> dict:
    """End-to-end figures of the timed passes. The operation percentiles
    are taken over each operation's median time: pooled samples cluster by
    operation, and a percentile between two clusters jumps with a single
    slow pass."""
    kids = bench.tr.children()
    walls = [p.dur for p in passes]
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for c in kids.get(p.sid, []):
            if c.layer in ("op", "sources"):
                by_name.setdefault(c.name, []).append(c.dur)
    op_median = {k: statistics.median(v) for k, v in by_name.items()}
    ops = [op_median[op.name] for op in bench.wl.ops]
    samples = len(passes) * len(ops)
    q = tail_quantile(samples)
    return {"passes": len(passes), "pass_walls": walls, "pass_s": statistics.median(walls),
            "op_median_s": op_median, "op_samples": samples,
            "query_p50_s": percentile(ops, 0.5), "query_p90_s": percentile(ops, q), "tail_q": q}


def stop_children(timeout: float = 30.0) -> None:
    """Shut the JVM gateway down and wait for every child process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except Exception:  # noqa: BLE001 -- escalate below
                proc.kill()
                proc.wait(timeout)
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any input is made, when the engine is absent
    import gomapreduce_spark.queries  # noqa: F401

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"{args.workload}-{os.getpid()}")
    try:
        return _run(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str) -> int:
    import pyspark

    events_dir = prepare_env(run_dir, bool(args.trace))
    host = {"nproc": nproc(), "load1_before": os.getloadavg()[0],
            "python": platform.python_version(), "spark": pyspark.__version__}

    data = os.path.join(run_dir, "data")
    t0 = time.time()
    info = gen.generate(args.workload, args.seed, data)
    corpus = os.path.join(data, "corpus.txt")
    if os.path.exists(corpus):
        from gomapreduce_spark.mapreduce import split_file_into_chunks

        info["chunks"] = len(split_file_into_chunks(
            corpus, os.path.join(run_dir, MR_CHUNK_DIR), gen.MAPREDUCE["chunk_bytes"]))
        os.remove(corpus)
    gen_s = time.time() - t0
    wl = WORKLOADS[args.workload]
    input_rows = sum(info["tables"][t]["rows"] for t in wl.tables) + info.get("lines", 0)

    tr = Tracer()
    bench = Bench(args.workload, run_dir, info, tr)
    try:
        with RssSampler() as rss, tr.span("run", "run") as run_span:
            setups = bench.setup(SETUP_REPS)
            # pass times still fall after a restart's warm-up; let them settle
            bench.run_pass("settle")
            half = args.seconds / 2 if args.trace else args.seconds
            rss.active = True
            untraced = bench.timed_passes(half, "t", MIN_TRACED_PASSES if args.trace else MIN_PASSES)
            rss.active = False
            traced = []
            if args.trace:
                bench.stop_session()
                bench.enable_event_log()
                with tr.span("setup traced", "setup"):
                    bench.start_session(listen=True)
                    bench.run_pass("wt")
                traced = bench.timed_passes(half, "x", MIN_TRACED_PASSES)
            calib = bench.calibrate()
            app_id = bench.spark.sparkContext.applicationId
            bench.stop_session()
    finally:
        if bench.spark is not None:
            bench.stop_session()
        stop_children()
    host.update(load1_after=os.getloadavg()[0], calib_s=calib)

    e2e = pass_metrics(bench, untraced)
    correct = bench.failed == 0
    report = {
        "workload": args.workload, "seed": args.seed, "why": wl.why, "host": host,
        "input": {k: v for k, v in info.items() if k != "counts"}, "gen_s": gen_s,
        "input_rows": input_rows, "setup_reps_s": setups, "timed": e2e,
        "peak_pss_mb": {k: v / 2**20 for k, v in rss.peak_by_kind.items()},
        "attempted": bench.attempted, "failed": bench.failed,
        "errors": bench.errors, "mismatches": bench.mismatches,
    }
    if args.trace:
        from layers import per_layer

        metrics, extra = per_layer(bench, run_span, traced, untraced, events_dir, app_id, host)
        report["trace"] = extra
        with open(os.path.join(work, f"trace-{args.workload}.json"), "w") as fh:
            json.dump({"report": report, "spans": tr.to_json()}, fh)
        units = {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}
    else:
        metrics = {
            "setup_s": statistics.median(setups[1:]),
            "pass_s": e2e["pass_s"],
            "rows_per_s": input_rows / e2e["pass_s"],
            "query_p50_s": e2e["query_p50_s"],
            "query_p90_s": e2e["query_p90_s"],
            "ok_frac": 1.0 - bench.failed / bench.attempted,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        units = {m["name"]: m["unit"] for m in _bench_spec()["end_to_end"]}

    print(json.dumps(report, default=str))
    for k in units:
        print(f"{k:40s} {metrics[k]:>16.6g} {units[k]}")
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
