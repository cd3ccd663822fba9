"""Unreliable-mode fault injection — the Spark restatement of the
reference's ``mr.unreliable`` RPC chaos (reference mapreduce.go:24 and
mapreduce.go:465-523): with unreliable on, ~10% of incoming RPCs are
dropped outright ("discard the request") and ~20% of the rest are
executed but their reply is discarded ("process the request but force
discard of reply") — the caller sees a failure even though the work
ran, so recovery must re-execute WITHOUT the orphaned first execution
corrupting the result.

Spark's unit of at-least-once execution is the task attempt, so the
faithful restatement injects per-(stage, partition) FIRST-ATTEMPT
failures at the same two points:

- ``drop``: the attempt dies BEFORE doing any work — the scheduler
  resubmits and nothing of the attempt exists (the reference's dropped
  request: the worker never saw it).
- ``reply_lost``: the attempt does ALL its work, emits every row, and
  THEN dies — the work ran, but its output must be invisible to
  consumers. This is the case that distinguishes exactly-once OUTPUT
  from at-least-once EXECUTION, and Spark's guarantees cover it twice
  over: a failed attempt's shuffle output is never registered with the
  MapOutputTracker (downstream stages read exactly one attempt per
  partition), and a failed write attempt's files are never committed
  by the FileCommitProtocol (only the committed attempt's files are
  visible after job commit). ``tests/test_unreliable.py`` proves both
  on executed jobs.

Determinism: the reference draws twice per RPC — ``rand.Int63() % 1000
< 100`` drops it, else a FRESH draw ``< 200`` discards the reply
(mapreduce.go:465-468) — i.e. 10% dropped and 20% of the drop
SURVIVORS (= 18% of all RPCs) reply-lost. Here selection is ONE
``adler32(stage:partition) % 100`` draw banded [0, drop_pct) /
[drop_pct, drop_pct+reply_lost_pct), so the default (10, 20) bands
APPROXIMATE the reference's rates: drop matches exactly (10% of all),
reply-lost fires on 20% of ALL pairs where the reference's second
draw hits ~18% of all — pass (10, 18) to match the overall reply-lost
share instead of the per-mode conditional rate. The banding uses the
reference's own hash (emittedStore.go:40) instead of its
nondeterminism, so a given (stage, partition) either always or never
injects and tests can state expected injection sets exactly. "First
attempt" comes from ``TaskContext.attemptNumber()``, so the retry of
an injected task runs clean and the job completes with the correct
result.

One honest gap vs the reference: a ``reply_lost`` injection fires
after the wrapped function EXHAUSTS, so if the consumer stops early
(the engine's bounded collect stopping a reduce partition at its
cap, a pushed-down limit) the generator is closed with GeneratorExit and the post-yield
raise never runs — correctly so: Spark has already marked that task
successful, and there is no attempt left to fail. Reply-loss chaos is
therefore only exercised on fully-consumed partitions (every test
below consumes fully).

Needs a master with task retries (``local[N, 2]`` or any real cluster
where ``spark.task.maxFailures`` >= 2, the production default of 4);
with maxFailures=1 the injected failure is fatal by design — exactly
like running the reference's unreliable tests without its retry loop
(taskManager.go:165-182).
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Iterator
from zlib import adler32


class InjectedFailure(RuntimeError):
    """An unreliable-mode injected task failure (never a real error)."""


def chaos_mode(
    stage: str, partition_id: int, drop_pct: int = 10, reply_lost_pct: int = 20
) -> str | None:
    """'drop' / 'reply_lost' / None for a (stage, partition) under the
    given percentage bands — deterministic (adler32, the reference's
    partitioner hash), so the injection set is a pure function of the
    job shape."""
    band = adler32(f"{stage}:{partition_id}".encode("utf-8")) % 100
    if band < drop_pct:
        return "drop"
    if band < drop_pct + reply_lost_pct:
        return "reply_lost"
    return None


def unreliable_partition(
    stage: str,
    run_partition: Callable[[Iterable], Iterator],
    drop_pct: int = 10,
    reply_lost_pct: int = 20,
    marker_dir: str | None = None,
) -> Callable[[Iterable], Iterator]:
    """Wrap a ``mapPartitions`` function with unreliable-mode injection:
    selected partitions' first attempts fail before any work (drop) or
    after ALL work (reply_lost); retries run clean. ``marker_dir``
    (optional) gets one ``{stage}-p{pid}`` file per injection, with the
    mode as its CONTENT, so tests can assert the chaos actually fired
    on a shared filesystem."""

    def run(it: Iterable) -> Iterator:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        first = tc is not None and tc.attemptNumber() == 0
        mode = chaos_mode(stage, pid, drop_pct, reply_lost_pct) if first else None
        if mode == "drop":
            _mark(marker_dir, stage, pid, mode)
            raise InjectedFailure(
                f"unreliable: request dropped (stage={stage}, partition={pid}, attempt=0)"
            )
        yield from run_partition(it)
        if mode == "reply_lost":
            _mark(marker_dir, stage, pid, mode)
            raise InjectedFailure(
                f"unreliable: reply discarded after full execution "
                f"(stage={stage}, partition={pid}, attempt=0)"
            )

    return run


def _mark(marker_dir: str | None, stage: str, pid: int, mode: str, kind: str = "p") -> None:
    if marker_dir:
        with open(os.path.join(marker_dir, f"{stage}-{kind}{pid}"), "w", encoding="utf-8") as fh:
            fh.write(mode)


def unreliable_foreach_batch(
    stage: str,
    write_batch: Callable,
    attempt_dir: str,
    drop_pct: int = 10,
    reply_lost_pct: int = 20,
    marker_dir: str | None = None,
) -> Callable:
    """Unreliable-mode injection at the MICRO-BATCH granularity — the
    streaming complement of :func:`unreliable_partition`, aimed at the
    reference's lost-reply re-execution class (mapreduce.go:465-523)
    where it actually bites a streaming pipeline: a ``foreachBatch``
    sink whose batch function completes its writes and THEN the commit
    is lost, so Structured Streaming replays the whole micro-batch on
    restart and the sink must be replay-idempotent to stay
    exactly-once.

    Wraps a foreachBatch function; injection is selected per
    (stage, batch_id) by the same deterministic :func:`chaos_mode`
    banding and fires only on the FIRST delivery of that batch:

    - ``drop``: the batch function dies before doing any work — the
      query fails, a restart from the checkpoint redelivers the batch
      (the reference's dropped request).
    - ``reply_lost``: the batch function runs to completion — every
      write committed — and THEN dies, so the streaming engine never
      records the batch as committed and redelivers it on restart.
      The sink sees the same batch TWICE with all its first-delivery
      writes already on disk: exactly the case the repo's
      dynamic-partition-overwrite sinks (streaming_upsert_counts,
      streaming_incremental_dedup) are built to absorb.

    Structured Streaming exposes no attempt number for a batch
    delivery (foreachBatch runs on the driver), so "first delivery" is
    tracked by an ``attempt_dir`` marker file per (stage, batch_id) —
    written BEFORE the injected failure, so the restarted query's
    redelivery runs clean. ``marker_dir`` gets the same fired-injection
    audit files as :func:`unreliable_partition` (``{stage}-b{batch}``,
    mode as content)."""

    # a forgotten attempt_dir would otherwise surface as an opaque
    # FileNotFoundError inside the streaming query at first-batch time
    os.makedirs(attempt_dir, exist_ok=True)
    if marker_dir:
        os.makedirs(marker_dir, exist_ok=True)

    def run(batch_df, batch_id: int) -> None:
        attempt_marker = os.path.join(attempt_dir, f"{stage}-b{batch_id}.attempted")
        first = not os.path.exists(attempt_marker)
        if first:
            with open(attempt_marker, "w", encoding="utf-8") as fh:
                fh.write("attempted")
        mode = chaos_mode(stage, batch_id, drop_pct, reply_lost_pct) if first else None
        if mode == "drop":
            _mark(marker_dir, stage, batch_id, mode, kind="b")
            raise InjectedFailure(
                f"unreliable: batch dropped (stage={stage}, batch={batch_id}, delivery=0)"
            )
        write_batch(batch_df, batch_id)
        if mode == "reply_lost":
            _mark(marker_dir, stage, batch_id, mode, kind="b")
            raise InjectedFailure(
                f"unreliable: batch commit lost after full execution "
                f"(stage={stage}, batch={batch_id}, delivery=0)"
            )

    return run


def unreliable_sink_gap(
    stage: str, attempt_dir: str, marker_dir: str | None = None
) -> Callable[[int], None]:
    """Injection BETWEEN a multi-sink batch's writes — the partial-
    progress case neither :func:`unreliable_partition` nor
    :func:`unreliable_foreach_batch` can reach: a foreachBatch function
    that feeds TWO sinks (streaming_incremental_dedup's verdicts +
    index) crashes after the first sink's job commit is durable but
    before the second's ever starts. The streaming engine never
    records the batch, so the restart redelivers it against a store
    where the batch's FIRST sink output already exists and its second
    doesn't — the sharpest replay shape a multi-sink query faces.

    Returns a callable the query invokes between its writes; it raises
    :class:`InjectedFailure` on the FIRST delivery of every batch
    (tracked by ``attempt_dir`` marker files, same protocol as
    :func:`unreliable_foreach_batch`) and is a no-op on redelivery."""
    os.makedirs(attempt_dir, exist_ok=True)
    if marker_dir:
        os.makedirs(marker_dir, exist_ok=True)

    def fire(batch_id: int) -> None:
        attempt_marker = os.path.join(attempt_dir, f"{stage}-g{batch_id}.attempted")
        if os.path.exists(attempt_marker):
            return
        with open(attempt_marker, "w", encoding="utf-8") as fh:
            fh.write("attempted")
        _mark(marker_dir, stage, batch_id, "sink_gap", kind="g")
        raise InjectedFailure(
            f"unreliable: crashed between sinks (stage={stage}, "
            f"batch={batch_id}, delivery=0)"
        )

    return fire
