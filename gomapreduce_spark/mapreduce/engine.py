"""MapReduce engine: the reference's job lifecycle on Spark.

Mirrors the reference's public API surface —
``Start``/``Status``/``Done`` (reference mapreduce.go:57-88) — while
replacing its entire execution machinery (master/worker RPC, task
scheduling, barriers, shuffle: reference mapreduce.go:97-344) with one
Spark lineage:

    parallelize(keys)                    # O1, inputer.ListKeys
      .map(k -> (k, inputer.GetValue(k)))# O2
      .flatMap(mapper.map)               # O4, Emit collected
      .partitionBy(R, hash)              # O6/O7, adler32%R → portable hash
      .groupByKey()                      # O8/O9, shuffle read + group
      .flatMap(reducer.reduce)           # O10, complete value list per key
      .mapPartitions(islice(cap + 1))    # bounded per reduce partition
      .collect()                         # ONE Spark job: map + shuffle + reduce
      → outputer                         # O12; PartitionedSink adds one
                                         # JVM-only parquet write

The map→reduce stage barrier (reference mapreduce.go:119-143) is the
shuffle boundary; a submit is one collect job — the reference's one
round of one map phase and one reduce phase. A result over
``MAX_DRIVER_RESULT_PAIRS`` is not collected whole: it goes to the
outputer's distributed ``write_rdd`` (the reduce partitions re-run
once from the kept shuffle files, written as R files).
Scheduling/retries/heartbeats (O16-O23) are Spark internals. Job/task
wall-clock stats (reference statsManager.go:89-115) are kept as a
simple ``JobStats``.

Scale posture: ``groupByKey`` is mandatory for the general contract
(the reducer sees ALL values for its key — reference tasks.go:143-161)
and is the documented memory hazard at 100 TB; reducers that declare
``associative = True`` run via per-partition pre-combine + final
reduce, bounding shuffle volume the way the reference's demo mapper
hand-rolls its local counts (mapper.go:43-49). Analytics workloads
should use the DataFrame operators instead — this facade exists for API
fidelity.
"""

from __future__ import annotations

import os
import socket
import threading
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field
from itertools import islice
from typing import Any, NamedTuple

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import SparkSession

from zlib import adler32

from .api import Inputer, ListEmitter, ListOutputer, Mapper, Outputer, Reducer
from .chaos import unreliable_partition


class TaskStat(NamedTuple):
    """One task's timing record (reference statsManager.go:102-152:
    per-task wall-clock + the worker that ran it)."""

    stage: str       # "map" | "reduce"
    partition: int   # Spark partition id == task index within the stage
    worker: str      # host:pid of the Python worker (local mode: pid)
    wall_sec: float
    rows_out: int


class _TaskStatAccum(AccumulatorParam):
    """List-append accumulator: each task contributes its TaskStat;
    Spark merges per-task lists driver-side (no shuffle, no contention
    — the canonical metrics side-channel for executor-side facts)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def adler32_partition(key: str, r: int) -> int:
    """The reference's exact partitioner: adler32(key) % R (reference
    emittedStore.go:40). Only the grouping contract ("equal keys meet in
    one partition") affects results, but this gives bit-for-bit bucket
    parity for anyone comparing intermediate layouts."""
    return adler32(str(key).encode("utf-8")) % r


@dataclass
class JobConfig:
    """Per-job knobs, mirroring reference jobConfig.go:6-13. The
    reference config's input folder and output path belong here to the
    job's ``Inputer`` and ``Outputer`` (``DirectoryInputer(folder)``,
    ``PartitionedSink(path)``), so the config holds only parallelism."""

    m: int = 8            # map parallelism (reference: #input chunks)
    r: int = 8            # reduce partitions (reference: adler32 % R)


@dataclass
class Job:
    """A submitted job (reference job.go:6-13)."""

    config: JobConfig
    mapper: Mapper
    reducer: Reducer
    inputer: Inputer
    outputer: Outputer
    job_id: str = field(default_factory=lambda: uuid.uuid4().hex)


@dataclass
class JobStats:
    """Job/task wall-clock timing (reference statsManager.go:89-152:
    job time, per-task times, tasks-per-worker histogram)."""

    started_at: float = 0.0
    finished_at: float = 0.0
    map_tasks: int = 0
    reduce_tasks: int = 0
    _accum: Any = None  # executor-side TaskStat accumulator

    @property
    def job_time(self) -> float:
        return (self.finished_at or time.time()) - self.started_at

    @property
    def task_stats(self) -> list[TaskStat]:
        """Per-task records, populated once the job's action has run.
        Tasks cut short by an early-terminating action (the bounded
        collect stopping a partition at its cap) may not report — same
        blind spot as the reference's stats on interrupted tasks.
        Re-executions of the same logical task (a second action over the
        lineage — e.g. the oversized-result divert path collects then
        write_rdd's — or a Spark retry/speculative attempt) are
        deduplicated by (stage, partition), last attempt wins, so counts
        reflect logical tasks, not physical attempts."""
        if self._accum is None:
            return []
        seen: dict[tuple[str, int], TaskStat] = {}
        for s in self._accum.value:
            seen[(s.stage, s.partition)] = s
        return list(seen.values())

    @property
    def task_times(self) -> dict[str, list[float]]:
        """stage → sorted per-task wall-clock seconds (reference
        statsManager.go:102-126)."""
        out: dict[str, list[float]] = {}
        for s in self.task_stats:
            out.setdefault(s.stage, []).append(s.wall_sec)
        return {k: sorted(v) for k, v in out.items()}

    @property
    def tasks_per_worker(self) -> dict[str, int]:
        """worker → #tasks it ran (reference statsManager.go:128-152's
        histogram; local mode distinguishes Python workers by pid)."""
        return dict(Counter(s.worker for s in self.task_stats))


class MapReduceEngine:
    """Submit/status/done facade over Spark (reference mapreduce.go:57-88).

    ``submit`` is asynchronous like the reference's ``Start`` — it
    returns a job id immediately and runs the lineage on a daemon
    thread; ``status`` polls completion; ``done`` releases state.
    Pass ``sync=True`` to block (the common analytics case).
    """

    def __init__(
        self,
        spark: SparkSession,
        unreliable: bool = False,
        unreliable_pcts: tuple[int, int] = (10, 20),
        chaos_marker_dir: str | None = None,
    ):
        """``unreliable=True`` is the reference's unreliable mode
        (mapreduce.go:24, 465-523) restated on Spark: both stages'
        tasks get deterministic first-attempt failures injected —
        ``unreliable_pcts[0]``% dropped before any work and a further
        ``unreliable_pcts[1]``% failed AFTER completing all work (the
        reply-discarded case) — and the job must still finish with the
        correct result via Spark's task retry + attempt isolation. See
        mapreduce/chaos.py; needs spark.task.maxFailures >= 2
        (``local[N, 2]``), else the injected failure is fatal."""
        self.spark = spark
        self.unreliable = unreliable
        self._unreliable_pcts = unreliable_pcts
        self._chaos_marker_dir = chaos_marker_dir
        self._jobs: dict[str, Job] = {}
        self._status: dict[str, str] = {}
        self._stats: dict[str, JobStats] = {}
        self._threads: dict[str, threading.Thread] = {}
        self._errors: dict[str, BaseException] = {}

    # -- public API (reference mapreduce.go:57-88) ---------------------

    def submit(self, config: JobConfig, mapper: Mapper, reducer: Reducer,
               inputer: Inputer, outputer: Outputer, sync: bool = False) -> str:
        job = Job(config, mapper, reducer, inputer, outputer)
        self._jobs[job.job_id] = job
        self._status[job.job_id] = "starting"
        self._stats[job.job_id] = JobStats(started_at=time.time())
        if sync:
            self._run(job)
        else:
            t = threading.Thread(target=self._run, args=(job,), daemon=True)
            self._threads[job.job_id] = t
            t.start()
        return job.job_id

    def status(self, job_id: str) -> bool:
        """True iff completed (reference mapreduce.go:74-77)."""
        return self._status.get(job_id) == "completed"

    def wait(self, job_id: str, timeout: float = 300.0) -> None:
        """Block until the job finishes; raise its error if it failed,
        TimeoutError if it is still running when the timeout elapses
        (silently returning would let callers read partial state)."""
        t = self._threads.get(job_id)
        if t is not None:
            t.join(timeout)
            if t.is_alive():
                raise TimeoutError(f"job {job_id} still running after {timeout}s")
        if job_id in self._errors:
            raise self._errors[job_id]

    def done(self, job_id: str) -> None:
        """Release job state (reference mapreduce.go:85-88)."""
        for d in (self._jobs, self._status, self._stats, self._threads, self._errors):
            d.pop(job_id, None)

    def stats(self, job_id: str) -> JobStats:
        return self._stats[job_id]

    # -- execution -----------------------------------------------------

    # per-key driver Output loops above this stop being "results" and
    # start being "data" — divert to a distributed writer instead
    MAX_DRIVER_RESULT_PAIRS = 100_000

    def _bounded_collect(self, rdd) -> list[tuple[str, Any]]:
        """Collect at most MAX_DRIVER_RESULT_PAIRS + 1 pairs per reduce
        partition in ONE job. The ``islice`` is pipelined into the
        reduce stage (no extra stage), so the driver holds at most
        R·(cap + 1) pairs; a result longer than the cap is detected
        without ever shipping it whole. ``take`` would need a job for
        partition 0 and more for the rest, relaunching the reduce stage
        each time."""
        cap = self.MAX_DRIVER_RESULT_PAIRS
        return rdd.mapPartitions(lambda it: islice(it, cap + 1)).collect()

    def _run(self, job: Job) -> None:
        try:
            self._status[job.job_id] = "working"
            rdd = self.run_rdd(job)
            pairs = self._bounded_collect(rdd)
            if len(pairs) > self.MAX_DRIVER_RESULT_PAIRS:
                # result too large for the per-key driver loop: divert to
                # the outputer's distributed writer or fail loudly
                write_rdd = getattr(job.outputer, "write_rdd", None)
                if not callable(write_rdd):
                    raise RuntimeError(
                        f"job result exceeds {self.MAX_DRIVER_RESULT_PAIRS} pairs; "
                        "use an outputer with a distributed write_rdd path "
                        "(e.g. PartitionedSink)"
                    )
                write_rdd(self.spark, rdd)
            else:
                for k, v in pairs:
                    job.outputer.output(k, v)
                flush = getattr(job.outputer, "flush", None)
                if callable(flush):
                    flush(self.spark)
            self._stats[job.job_id].finished_at = time.time()
            self._status[job.job_id] = "completed"
        except BaseException as e:  # surfaced via wait()
            self._errors[job.job_id] = e
            self._status[job.job_id] = "failed"

    def run_pairs(self, job: Job) -> list[tuple[str, Any]]:
        """Execute the lineage and return the output pairs, refusing to
        materialize more than MAX_DRIVER_RESULT_PAIRS on the driver
        (outputs above the cap belong on a distributed sink —
        ``run_rdd`` + ``PartitionedSink.write_rdd``)."""
        pairs = self._bounded_collect(self.run_rdd(job))
        if len(pairs) > self.MAX_DRIVER_RESULT_PAIRS:
            raise RuntimeError(
                f"job result exceeds {self.MAX_DRIVER_RESULT_PAIRS} pairs; "
                "use run_rdd() with a distributed writer"
            )
        return pairs

    def run_rdd(self, job: Job):
        sc = self.spark.sparkContext
        mapper, reducer, inputer = job.mapper, job.reducer, job.inputer
        r = max(1, job.config.r)
        acc = sc.accumulator([], _TaskStatAccum())
        self._stats[job.job_id]._accum = acc

        def timed(stage, per_pair):
            """Partition wrapper: run per_pair over every input, then
            report ONE TaskStat (wall-clock, worker, rows emitted) via
            the accumulator — per-task fidelity at zero shuffle cost."""

            def run(it):
                from pyspark import TaskContext

                t0 = time.time()
                n = 0
                for pair in it:
                    for out in per_pair(pair):
                        n += 1
                        yield out
                tc = TaskContext.get()
                acc.add([TaskStat(
                    stage,
                    tc.partitionId() if tc is not None else -1,
                    f"{socket.gethostname()}:{os.getpid()}",
                    time.time() - t0,
                    n,
                )])

            if self.unreliable:
                # reference unreliable mode (mapreduce.go:465-523):
                # inject drop / reply-lost first-attempt failures
                drop_pct, reply_lost_pct = self._unreliable_pcts
                return unreliable_partition(
                    stage, run, drop_pct, reply_lost_pct, self._chaos_marker_dir
                )
            return run

        def do_map_pair(kv_pair):
            key, value = kv_pair
            emitter = ListEmitter()
            mapper.map(key, value, emitter)
            return emitter.pairs

        as_rdd = getattr(inputer, "as_rdd", None)
        if callable(as_rdd):
            # distributed source: (key, value) pairs stay on executors;
            # map parallelism comes from the source's own splits (the
            # 100 TB-correct reading of the reference's M = "#input
            # objects" — Spark derives it from bytes, SCALE.md)
            src = as_rdd(sc)
            self._stats[job.job_id].map_tasks = src.getNumPartitions()
            kv = src.mapPartitions(timed("map", do_map_pair))
        else:
            keys = inputer.list_keys()
            m = max(1, min(job.config.m, len(keys)) if keys else 1)
            self._stats[job.job_id].map_tasks = len(keys)
            kv = sc.parallelize(keys, m).mapPartitions(
                timed("map", lambda key: do_map_pair((key, inputer.get_value(key))))
            )
        self._stats[job.job_id].reduce_tasks = r

        def do_reduce(kv_pair):
            key, values = kv_pair
            out = ListOutputer()
            reducer.reduce(key, list(values), out)
            return out.pairs

        if reducer.associative:
            # combiner fast path: reduce partial lists per partition first
            def combine(vals_a, vals_b):
                out = ListOutputer()
                reducer.reduce("", list(vals_a) + list(vals_b), out)
                # the associative contract (api.Reducer): exactly one
                # combined pair, key ignored during combining. A raise,
                # not an assert — the contract must hold under python -O
                if len(out.pairs) != 1:
                    raise ValueError(
                        "associative reducer must emit exactly one pair when "
                        f"combining; got {len(out.pairs)}"
                    )
                return [v for _, v in out.pairs]

            grouped = kv.mapValues(lambda v: [v]).reduceByKey(
                combine, numPartitions=r, partitionFunc=lambda k: adler32_partition(k, r)
            )
        else:
            grouped = kv.groupByKey(
                numPartitions=r, partitionFunc=lambda k: adler32_partition(k, r)
            )
        return grouped.mapPartitions(timed("reduce", do_reduce))
