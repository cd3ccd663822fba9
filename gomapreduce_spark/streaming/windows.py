"""Structured Streaming variants of the event-time operators.

The reference is strictly batch (hard barrier between phases, reference
mapreduce.go:105-143); streaming is a driver-mandated extension. These
run the same event schema through ``readStream`` with watermarks; tests
drive them to completion with availableNow + memory sink, which is also
how the batch-parity check works (streaming result == batch result on
a static input).

At scale the source becomes Kafka/files-on-arrival; the plans are
identical (incremental hash aggregation with watermark-bounded state).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _read_parquet_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Generic parquet file-stream reader: accepts a single file or a
    directory, probes the footer with a batch read (metadata only — no
    data scan) for the exact on-disk schema ``readStream`` requires,
    and fails loudly on a missing path (which would otherwise stream 0
    files and "complete" with an empty result).

    ``max_files_per_trigger`` bounds each micro-batch to that many
    files (availableNow honors it): with a time-ordered multi-file
    directory this forces a genuinely INCREMENTAL replay — the
    watermark advances between batches and state eviction actually
    fires mid-stream, instead of one batch processing everything at
    watermark 0. The multi-batch parity tests use this to pin the
    incremental semantics; production file-arrival streams get it for
    ingest smoothing."""
    from ..session import apply_runtime_confs

    apply_runtime_confs(spark)
    if os.path.isfile(path):  # single file: glob it within its dir
        import glob as _globmod

        d, base = os.path.split(path)
        # glob-ESCAPE the name: a basename like 'events[2026].parquet'
        # would otherwise parse as a character class, match nothing,
        # and the availableNow query would "complete" empty — the
        # silent-empty mode the FileNotFoundError below exists to stop
        glob, stream_dir = _globmod.escape(base), d
    elif os.path.isdir(path):
        glob, stream_dir = None, path
    else:
        raise FileNotFoundError(f"stream path is neither file nor directory: {path}")

    # honoring nanosAsLong etc. exactly as the batch reader resolves it
    disk_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(disk_schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(stream_dir)


def _read_events_stream(
    spark: SparkSession, events_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Encoding-adaptive streaming read of the events table.

    ``readStream`` needs an explicit schema, but the testdata's ``ts``
    encoding has changed across driver generations (TIMESTAMP(NANOS)
    surfaced as bigint via ``nanosAsLong``; now plain naive
    timestamp[us] → TIMESTAMP_NTZ). Hard-coding either assumption is
    how a silent unit error ships: a micros long divided as if nanos
    still *runs* — every window lands in January 1970. So probe the
    parquet footer with a one-file batch read (metadata only, no data
    scan) and build the stream schema from what is actually on disk:

    - ``bigint`` ts → read as long, floor-div 1000 (nanos→micros);
    - ``timestamp_ntz`` ts → read natively, cast to ``timestamp``
      (value-preserving under the pinned UTC session zone);
    - ``timestamp`` ts → use directly.

    Same normalization contract as ``sources.registry.normalize_timestamps``
    on the batch side; ``tests/test_streaming.py`` parity tests pin the
    two paths together.
    """
    stream = _read_parquet_stream(spark, events_path, max_files_per_trigger)
    ts_type = stream.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    elif not isinstance(ts_type, T.TimestampType):
        raise TypeError(f"unsupported events.ts encoding: {ts_type.simpleString()}")
    return stream


# Stateful operators pay a PER-PARTITION fixed cost: every shuffle
# partition owns its own state-store instance (a stream-stream join
# runs FOUR per partition), each with snapshot/commit I/O per batch.
# Sizing streaming shuffle partitions to the session's batch
# parallelism (32) made that fixed cost dominate replay wall-clock —
# measured on the sf0.1 LEFT OUTER interval join: 13.7 s at 32
# partitions vs 2.8 s at 8, identical results. At production scale the
# count goes UP with state volume (each partition's state must fit its
# executor), not with core count; the sweep behind 8 is in SCALE.md.
STREAM_STATE_PARTITIONS = 8


@contextmanager
def _state_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to STREAM_STATE_PARTITIONS
    while a stateful query starts (the conf is read at query START and
    frozen into its checkpoint), restoring the session value after."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _run_to_memory(agg: DataFrame, mode: str) -> DataFrame:
    """Drive a streaming aggregation over a static source to completion
    synchronously, under _state_partitions; return the materialized
    result table."""
    name = "s" + uuid.uuid4().hex[:12]
    with _state_partitions(agg.sparkSession):
        (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return agg.sparkSession.table(name)


def _windowed_counts(spark: SparkSession, events_path: str, slide: str | None) -> DataFrame:
    """Shared tumbling/sliding windowed aggregation.

    NB on the watermark: in COMPLETE output mode the watermark does NOT
    drop late rows — complete mode keeps full aggregation state, which
    is exactly why the batch-parity tests hold on a finite replay. The
    withWatermark call is kept because it is required the moment this
    plan runs in append/update mode against a live sink (where state
    older than the watermark IS dropped); the declared delay documents
    that production contract."""
    stream = _read_events_stream(spark, events_path).withWatermark("ts", "1 hour")
    window = F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
    agg = stream.groupBy(window, "event_type").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    # complete mode: a finite (availableNow) source never advances the
    # watermark past its last window, which in append mode would withhold
    # the final windows — complete emits the full aggregation state.
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def streaming_tumbling_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Hourly tumbling counts per event type as an incremental streaming
    aggregation (see :func:`_windowed_counts` for watermark semantics)."""
    return _windowed_counts(spark, events_path, slide=None)


def streaming_sliding_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Sliding windows: 1-hour windows advancing every 15 minutes (each
    event lands in 4 windows); the batch-parity check uses the identical
    window() expression on a static read (see :func:`_windowed_counts`
    for watermark semantics)."""
    return _windowed_counts(spark, events_path, slide="15 minutes")


SESSION_OUT_SCHEMA = "user_id long, session_start string, n_events long, dur_s double"
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"


def streaming_stateful_sessions(
    spark: SparkSession,
    events_path: str,
    gap_minutes: int = 30,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the arbitrary-state API — what you reach
    for when session_window/window can't express the semantics).

    Per user, an open session lives in typed GroupState; each batch
    merges its (sorted) events into the state, emitting a session row
    whenever a gap > ``gap_minutes`` closes one. An event-time timeout at
    (last event + gap) flushes idle sessions once the watermark passes —
    so with a 0-second watermark delay, every session except those still
    "open" at end-of-stream is emitted. State is O(1) per user; the
    shuffle is one hash partition on user_id — the same partitioning
    contract as the reference's emitted-store (emittedStore.go:40), but
    with incremental checkpointed state instead of a RAM map.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def emit(user_id: int, start_us: int, last_us: int, n: int) -> dict:
        return {
            "user_id": user_id,
            "session_start": pd.Timestamp(start_us, unit="us").strftime("%Y-%m-%d %H:%M:%S"),
            "n_events": n,
            # raw IEEE division of exact integer micros — bit-identical in
            # Python, Spark, and DuckDB, so the value hash-matches the
            # oracle without any cross-engine round() semantics in play
            "dur_s": (last_us - start_us) / 1_000_000,
        }

    def fn(key, pdfs, state: GroupState):
        user_id = key[0]
        closed: list[dict] = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            closed.append(emit(user_id, start_us, last_us, n))
            state.remove()
        else:
            pdf = pd.concat(list(pdfs))
            ts_us = sorted(pdf["ts"].astype("datetime64[us]").astype("int64").tolist())
            cur = state.get if state.exists else None
            for t in ts_us:
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_us:
                    closed.append(emit(user_id, *cur))
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], max(cur[1], t), cur[2] + 1)
            state.update(cur)
            # flush the open session once the watermark passes last+gap
            state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        yield pd.DataFrame(closed, columns=["user_id", "session_start", "n_events", "dur_s"])

    stream = _read_events_stream(spark, events_path, max_files_per_trigger).withWatermark(
        "ts", "0 seconds"
    )
    result = stream.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return _run_to_memory(result, "append")


def streaming_dedup_events(
    spark: SparkSession,
    events_path: str,
    id_col: str = "event_id",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exact-dedup: drop replayed/duplicate events by id while
    the stream runs, keeping state only within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state is GC'd 1 hour past the
    max seen event time, so it's bounded at 100 TB/day ingest, unlike a
    naive dropDuplicates whose state grows forever).

    Tests drive this with a deliberately duplicated corpus and assert
    exact agreement with batch ``dropDuplicates`` — that parity test is
    the real check. The queries() entry (rows-only) exists for surface
    completeness; the pristine driver tables have no duplicate ids, so
    its row count alone proves only that the pipeline runs.
    """
    stream = _read_events_stream(spark, events_path, max_files_per_trigger).withWatermark(
        "ts", "1 hour"
    )
    return _run_to_memory(stream.dropDuplicatesWithinWatermark([id_col]), "append")


def _interval_join(
    spark: SparkSession,
    events_path: str,
    within_minutes: int,
    how: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The click ⋈ purchase interval join the three public forms share:
    same user, ``click_ts <= purchase_ts <= click_ts + within_minutes``,
    both sides watermarked 1 hour so join state is evicted beyond the
    interval. Returns (c_user, click_id, click_ts, p_user, purchase_id,
    purchase_ts) rows joined ``how``."""
    stream = _read_events_stream(spark, events_path, max_files_per_trigger)
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")),
        how,
    )


def streaming_click_purchase_join(
    spark: SparkSession, events_path: str, within_minutes: int = 60
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks in the preceding ``within_minutes`` — the canonical
    attribution join, with watermarks on BOTH sides so join state is
    garbage-collected beyond the interval (unbounded-state stream joins
    don't survive continuous ingest).

    Returns (user_id, click_id, purchase_id) pairs; batch parity against
    the identical static join is asserted in tests."""
    joined = _interval_join(spark, events_path, within_minutes, "inner", None)
    return _run_to_memory(
        joined.select(F.col("c_user").alias("user_id"), "click_id", "purchase_id"), "append"
    )


def streaming_left_outer_interval_join(
    spark: SparkSession,
    events_path: str,
    within_minutes: int = 60,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click row is
    emitted — matched to same-user purchases in the following
    ``within_minutes`` when they exist, null-padded otherwise. The
    production-critical difference from the inner join above is WHEN the
    null-padded rows appear: Spark can only declare "no match will ever
    arrive" once the watermark passes the end of a click's match window
    (click_ts + interval + the 1-hour watermark delay), at which point
    the click's state is evicted and the null row emitted. Clicks whose
    match window is still open at end-of-stream stay in state, un-emitted
    — exactly the same flush contract as the stateful sessionizer's
    timeout (see ``streaming_stateful_sessions``).

    On a finite availableNow replay the final watermark is
    max(event time) − 1 hour (ms-truncated), so the result is a
    deterministic function of the input: all inner matches, plus a null
    row for every unmatched click with
    ``click_ts + interval < final watermark``. That determinism is what
    makes this hash-oracleable; ``tests/test_streaming.py`` additionally
    asserts the three-way batch parity (stream == watermark-filtered
    batch left join).
    """
    joined = _interval_join(spark, events_path, within_minutes, "leftOuter", max_files_per_trigger)
    return _run_to_memory(
        joined.select(F.col("c_user").alias("user_id"), "click_id", "purchase_id"), "append"
    )


def streaming_full_outer_interval_join(
    spark: SparkSession,
    events_path: str,
    within_minutes: int = 60,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join matrix next to the inner and LEFT OUTER forms: every click AND
    every purchase is eventually emitted, matched when the interval
    condition holds, null-padded otherwise. Two independent eviction
    clocks drive the null rows: a click is declared unmatched when the
    watermark passes the END of its match window (click_ts + interval),
    while a purchase is declared unmatched as soon as the watermark
    passes purchase_ts itself — any later click has click_ts >
    purchase_ts and can no longer satisfy purchase_ts >= click_ts, and
    Spark derives exactly that state-value watermark from the join
    predicate.

    On a finite availableNow replay the final watermark is
    max(event time) − 1 hour (ms-truncated), so the result is a
    deterministic function of the input — all inner matches, plus null
    rows for clicks with click_ts + interval < watermark and purchases
    with purchase_ts < watermark — which is what makes it
    hash-oracleable like the LEFT OUTER form."""
    joined = _interval_join(spark, events_path, within_minutes, "fullOuter", max_files_per_trigger)
    return _run_to_memory(
        joined.select(
            F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
            "click_id",
            "purchase_id",
        ),
        "append",
    )


def streaming_session_windows(spark: SparkSession, events_path: str, gap_minutes: int = 30) -> DataFrame:
    """Native session windows (session_window) — the streaming
    counterpart of operators.events.sessionize."""
    stream = (
        _read_events_stream(spark, events_path)
        .withWatermark("ts", "1 hour")
    )
    agg = stream.groupBy(F.session_window("ts", f"{gap_minutes} minutes"), "user_id").agg(
        F.count("*").alias("n_events")
    )
    out = _run_to_memory(agg, "complete")
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.max("n_events").alias("max_session_events")
    )


def streaming_upsert_counts(
    spark: SparkSession,
    events_path: str,
    out_dir: str,
    checkpoint_dir: str,
    wrap_batch=None,
) -> None:
    """Streaming sink via ``foreachBatch``: hourly per-type counts
    upserted into a date-partitioned parquet table — the keyed-sink
    shape (reference outputer.go:11-13 / PartitionedSink) on a live
    stream, with end-to-end effectively-once semantics: offsets are
    tracked in the checkpoint, and each micro-batch OVERWRITES exactly
    the partitions it touches (dynamic partitionOverwriteMode), so a
    replayed batch rewrites the same files instead of duplicating rows.
    Update output mode ships only windows the batch changed; state
    carries cumulative counts, so the last write per partition is the
    correct total. The sink partitions by the FULL update key
    (hour, event_type) — overwrite granularity must match what update
    mode emits: partitioning by hour alone would let a later batch
    that touches only one event type wipe its siblings' rows for that
    hour. At 100 TB this is the standard streaming→lakehouse
    compaction pattern (swap parquet-overwrite for a MERGE sink where
    ACID tables are available).

    ``wrap_batch`` (optional) wraps the foreachBatch function before
    it is registered — the unreliable-mode injection hook
    (chaos.unreliable_foreach_batch); tests/test_unreliable.py proves
    the overwrite sink delivers exactly-once under batch replay."""
    stream = _read_events_stream(spark, events_path).withWatermark("ts", "1 hour")
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events")
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.date_format(F.col("window.start"), "yyyy-MM-dd-HH").alias("hour"),
                "event_type",
                "n_events",
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hour", "event_type")
            .parquet(out_dir)
        )

    # the partition count freezes into the checkpoint: starting at the
    # session's batch parallelism (32) would pay 32 snapshot/commit
    # cycles per micro-batch forever (the module-header measurement)
    with _state_partitions(spark):
        (
            agg.writeStream.foreachBatch(upsert if wrap_batch is None else wrap_batch(upsert))
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def streaming_gopher_filter(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming corpus hygiene: the batch ``gopher_rules`` filter —
    unchanged — applied to a DOCUMENTS stream. Narrow projections are
    streaming-agnostic in Spark: the exact same Column expressions plan
    incrementally over micro-batches with zero state, which is the
    whole point of declaring filters declaratively (an arriving-files
    corpus drop gets hygiene-scored as it lands, no batch recompute).

    Row-level and deterministic, so it carries the SAME full value-hash
    DuckDB oracle as the batch form; batch parity is additionally
    asserted in tests."""
    from ..operators.text import gopher_rules

    stream = _read_parquet_stream(spark, docs_path)
    return _run_to_memory(gopher_rules(stream), "append")


def streaming_contamination_filter(
    spark: SparkSession, docs_path: str, w: int = 13, bench_mod: int = 43
) -> DataFrame:
    """Streaming span-level decontamination — the batch
    ``contamination_spans`` screen applied to a DOCUMENTS stream
    (round-13 verdict item 6): every arriving train doc is window-
    hashed and membership-checked against the STATIC benchmark hash
    set, the shape a production ingest runs so contaminated documents
    are flagged as they land instead of in a nightly batch sweep.

    Dataflow: the bench side is a BATCH relation (the deterministic
    ``doc_id % bench_mod == 0`` slice, same convention as the batch
    form — production swaps in the standing index table from
    ``save_contamination_index`` unchanged); the stream side reuses the
    batch operator's own stride-1 window fan-out
    (``dedup._doc_window_hashes`` — narrow ops are streaming-agnostic)
    and joins it to the bench hashes as a STREAM-STATIC broadcast
    inner join: completely STATELESS — no watermark, no join state,
    O(1) memory per arriving doc at any ingest rate. The only stateful
    node is the per-doc rollup, where the batch form's analytic-window
    interval union (unsupported over streams) is replaced by the
    equivalent sorted-array FOLD: collect the hit starts, array_sort,
    and run the same running-max-frontier arithmetic as
    ``dedup._span_union_add`` inside one higher-order ``aggregate`` —
    order-free (sorting happens after collection), so the result is
    batch-identical however the stream is micro-batched. Complete
    output mode on a finite replay emits the final per-doc state,
    which equals ``contamination_spans`` row-for-row — the query
    carries the batch form's full value-hash DuckDB oracle, plus
    batch-parity and split-invariance tests.

    Per-doc state is O(hit windows) — bounded by the doc's own length,
    not the corpus; uncontaminated docs (the overwhelming majority at
    production contamination rates) are filtered by the inner join
    BEFORE the stateful rollup and hold no state at all."""
    from ..operators.dedup import _doc_window_hashes

    is_bench = F.col("doc_id") % bench_mod == 0
    static_docs = spark.read.parquet(docs_path)
    bench_hashes = (
        _doc_window_hashes(static_docs.where(is_bench), w).select("win_hash").distinct()
    )
    stream = _read_parquet_stream(spark, docs_path).where(~is_bench)
    hits = (
        _doc_window_hashes(stream, w)
        .join(F.broadcast(bench_hashes), "win_hash")
        .select("doc_id", "n_tokens", "start")
    )
    agg = hits.groupBy("doc_id").agg(
        F.first("n_tokens").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_hit_windows"),
        F.array_sort(F.collect_list("start")).alias("starts"),
    )
    # the _span_union_add frontier arithmetic as a fold over the sorted
    # starts: add = max(0, end - max(frontier, start-1)); span ends are
    # start + w - 1 (cast to long — `start` is the int sequence index)
    fold = F.aggregate(
        F.transform("starts", lambda s: s.cast("long")),
        F.struct(
            F.lit(0).cast("long").alias("frontier"),
            F.lit(0).cast("long").alias("covered"),
        ),
        lambda acc, s: F.struct(
            F.greatest(acc["frontier"], s + F.lit(w - 1)).alias("frontier"),
            (
                acc["covered"]
                + F.greatest(
                    F.lit(0).cast("long"),
                    (s + F.lit(w - 1)) - F.greatest(acc["frontier"], s - F.lit(1)),
                )
            ).alias("covered"),
        ),
    )
    out = agg.select(
        "doc_id",
        "n_tokens",
        "n_hit_windows",
        fold["covered"].alias("contaminated_tokens"),
        F.round(fold["covered"] / F.col("n_tokens").cast("double"), 4).alias("contam_frac"),
        F.element_at("starts", 1).cast("long").alias("first_hit_start"),
    )
    return _run_to_memory(out, "complete")


def streaming_weighted_sample(
    spark: SparkSession,
    docs_path: str,
    static_docs: DataFrame,
    rate: float = 0.2,
    seed: str = "ws|",
) -> DataFrame:
    """Streaming importance thinning: the batch
    :func:`~..operators.text.weighted_sample` decision applied to a
    DOCUMENTS firehose — keep each arriving doc with probability
    ``min(1, rate * w * N / W)``, weights from the same quality
    composite, membership from the same seeded hash.

    The (N, W) calibration totals come from the STATIC corpus snapshot
    (the production shape: a nightly profile calibrates the thinning
    rate; the stream is scored row-by-row against it, so the filter is
    completely STATELESS — no watermark, no join state, O(1) memory at
    any ingest rate, and re-calibration is a constant swap between
    micro-batches). The totals are a 1-row bounded aggregate collected
    once at plan time (the ``limit(cap)`` collect doctrine), entering
    the plan as literals in the same DECIMAL(38,0) multiply-compare as
    the batch form — no division, float, or RNG in the decision.

    Row-level and deterministic: on a finite replay of the same corpus
    the output EQUALS the batch ``weighted_sample``, so this streaming
    query carries the batch form's full value-hash DuckDB oracle
    (like ``streaming_gopher_filter``), plus batch-parity and
    micro-batch-split-invariance tests."""
    from ..operators.text import (
        quality_expr,
        weighted_keep_expr,
        weighted_total_lit,
        weighted_totals_agg,
    )

    rate_micro = int(round(rate * 1_000_000))
    w_expr = F.round(quality_expr() * 1_000_000).cast("long")
    n_total, w_total = (
        static_docs.select(w_expr.alias("w_micro")).agg(*weighted_totals_agg()).first()
    )
    stream = _read_parquet_stream(spark, docs_path)
    # the SHARED predicate (weighted_keep_expr) with the calibration
    # totals re-entering as DECIMAL(38,0) literals via the shared
    # weighted_total_lit helper — an int() round-trip here would raise
    # past int64 and lose the batch form's documented overflow safety
    keep = weighted_keep_expr(
        F.col("w_micro"),
        weighted_total_lit(n_total),
        weighted_total_lit(w_total),
        rate_micro,
        seed,
    )
    thinned = (
        stream.select("doc_id", "source", w_expr.alias("w_micro"))
        .where(keep)
        .select("doc_id", "source", F.col("w_micro").alias("weight_micro"))
    )
    return _run_to_memory(thinned, "append")


def streaming_static_enrichment(
    spark: SparkSession, events_path: str, customer: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: each streaming event joined to
    the static customer dimension (c_custkey = user_id) — the canonical
    streaming lookup pattern. The static side is a plain DataFrame;
    no watermark or join state is needed (unlike stream-stream joins),
    so state stays O(1) at any ingest rate and the dimension can be
    swapped for a slowly-changing table between batches.

    The user dimension GROWS with the corpus (customer is SF-scaling),
    so it carries NO mandatory broadcast hint — a forced broadcast of
    a ~3B-row dim at SF≈100k is an executor OOM. Per micro-batch Spark
    re-plans the join; while the dim measures under the adaptive
    threshold it broadcasts (verified by test), and past that it
    degrades to a shuffled join instead of failing.

    Row-level and deterministic (no windows, no state), so this is the
    one streaming query with a full value-hash DuckDB oracle — the
    others settle for batch-parity tests."""
    stream = _read_events_stream(spark, events_path)
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    joined = stream.join(dim, "user_id", "left").select(
        "event_id", "user_id", "event_type", "segment", "acctbal"
    )
    return _run_to_memory(joined, "append")


# transformWithState running totals — output/state schemas shared with tests
TWS_OUT_SCHEMA = "user_id long, n_events long, total_value double"


def tws_available() -> bool:
    """``transformWithStateInPandas``'s state-API client speaks protobuf
    to the JVM state server (pyspark/sql/streaming/stateful_processor_api_client.py
    imports google.protobuf at runtime), and protobuf is not baked into
    this container. Feature-gate exactly like the S3A connector: the
    operator is real, the dependency boundary is checked, and the live
    test auto-upgrades the moment the environment provides protobuf."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # parent package "google" itself missing
        return False


from pyspark.sql.streaming.stateful_processor import StatefulProcessor


class RunningTotalsProcessor(StatefulProcessor):
    """StatefulProcessor for :func:`streaming_running_totals` — declared
    at module level so Spark's python workers can unpickle it."""

    def init(self, handle) -> None:
        self._totals = handle.getValueState("totals", "n long, total double")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, total = (0, 0.0)
        if self._totals.exists():
            prev = self._totals.get()
            n, total = int(prev[0]), float(prev[1])
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._totals.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    def close(self) -> None:
        pass


def streaming_running_totals(
    spark: SparkSession, events_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful successor to ``applyInPandasWithState``
    (typed ValueState/ListState/MapState handles, timers, TTL, and the
    RocksDB state store underneath). The processor keeps ONE ValueState
    row per user (n_events, total_value) and emits the updated totals
    for every user seen in each micro-batch — the canonical incremental
    "materialized aggregate" a feature store maintains over an event
    stream.

    The returned table keeps the LATEST emission per user (n_events is
    strictly increasing, so an argmax over it is batch-split
    independent): on any finite replay — one batch or many — the result
    equals the batch group-by, which is the hash oracle.

    Scale shape: one hash shuffle on user_id into the stateful
    operator; state is O(1) per user in RocksDB (spillable, not heap);
    each batch's output is bounded by users-in-batch, not corpus size.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires google.protobuf (the "
            "state-API client) — absent in this environment; see tws_available()"
        )
    # transformWithState requires the RocksDB provider; the conf is
    # read at query START, so set it for this query only and restore
    # the previous value afterwards — leaking it would silently switch
    # the provider under an unrelated streaming query resuming an
    # HDFS-provider checkpoint in the same session
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = _read_events_stream(spark, events_path, max_files_per_trigger)
        out = stream.groupBy("user_id").transformWithStateInPandas(
            RunningTotalsProcessor(),
            TWS_OUT_SCHEMA,
            "Update",
            "None",
        )
        updates = _run_to_memory(out, "update")
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    return (
        updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("total_value", "n_events"), 2).alias("total_value"),
        )
    )


def streaming_chained_windows(
    spark: SparkSession, events_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark 3.4+
    multiple-stateful-operator support): 10-minute windowed counts per
    event_type, re-aggregated into hourly peak/total stats via
    ``window_time`` — the classic two-tier rollup (fine-grained counts
    feeding a coarser alerting tier) that previously required two
    queries and an intermediate sink.

    Append-mode semantics make this deterministic on a finite replay:
    a window (at either tier) is emitted exactly when the final
    watermark (max event ts, ms-truncated, 0s delay) passes its end —
    so the trailing partial windows are withheld BY CONTRACT, and the
    DuckDB oracle reproduces the cutoff exactly from max(ts).

    Scale shape: two partial-agg shuffles, each keyed on
    (window, event_type); tier-2's input is tier-1's output — bounded
    by windows x types, not events. State at both tiers is
    watermark-bounded."""
    stream = _read_events_stream(spark, events_path, max_files_per_trigger).withWatermark(
        "ts", "0 seconds"
    )
    minute = (
        stream.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    hourly = (
        minute.groupBy(
            F.window(F.window_time("w"), "1 hour").alias("hw"), "event_type"
        )
        .agg(
            F.sum("n").alias("total"),
            F.max("n").alias("peak_10min"),
            F.count("*").alias("n_windows"),
        )
    )
    out = hourly.select(
        F.date_format(F.col("hw.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        F.col("total").cast("long").alias("total"),
        F.col("peak_10min").cast("long").alias("peak_10min"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )
    return _run_to_memory(out, "append")


def streaming_incremental_dedup(
    spark: SparkSession,
    docs_path: str,
    work_dir: str,
    max_files_per_trigger: int | None = None,
    threshold: float = 0.5,
    wrap_batch=None,
    between_sinks=None,
) -> DataFrame:
    """Streaming ingest dedup — the two families composed into the
    actual production pipeline: documents arrive as a file stream; each
    micro-batch's MinHash signatures are band-joined against ALL prior
    signatures (the index grown batch-by-batch under ``work_dir`` plus
    lower-doc_id rows of the same batch), the keep/drop manifest is
    emitted, and the batch's signatures are appended to the index.

    The verdict rule is keep-FIRST by doc_id: a doc is a duplicate iff
    a ≥threshold match with a LOWER doc_id precedes it — so with
    id-ordered arrival the result is IDENTICAL however the stream is
    batched (single batch, one file per batch, anything between), which
    the parity test asserts.

    Replay-idempotent by construction: both sinks partition on
    batch_id with dynamic partition overwrite, so a retried batch
    replaces its own output instead of double-appending (the
    streaming_upsert_counts contract, applied to index building) —
    and a retried batch filters the index to ``batch_id <`` its own,
    so its first delivery's appended signatures never feed back into
    the replay. ``wrap_batch`` (optional) wraps the foreachBatch
    function — the unreliable-mode injection hook proven in
    tests/test_unreliable.py.

    Scale shape: per batch, one Arrow signature pass over the batch +
    one band equi-join whose shuffle is O(|batch| + touched index
    rows); in production the index directory is the bucketed table from
    save_signature_index, so the index side never re-shuffles."""

    from ..operators.dedup import (
        MINHASH_BANDS,
        MINHASH_K,
        _score_new_vs_index,
        banded_signatures,
        minhash_wide,
    )

    verdicts_dir = os.path.join(work_dir, "verdicts")
    index_dir = os.path.join(work_dir, "index")

    def ingest(batch_df, batch_id: int):
        new_b = banded_signatures(minhash_wide(batch_df, MINHASH_K), MINHASH_K, MINHASH_BANDS)
        new_b = new_b.withColumn("batch_id", F.lit(batch_id)).localCheckpoint()
        # "no index yet" is decided by the path, NOT by catching read
        # errors: a transient storage fault or corrupt parquet must
        # fail the batch (foreachBatch retries it) — swallowing it
        # would silently score against an EMPTY index and persist
        # verdicts that miss every cross-batch duplicate.
        if os.path.isdir(index_dir):
            idx = batch_df.sparkSession.read.parquet(index_dir).where(
                F.col("batch_id") < batch_id  # a retried batch must not see itself
            )
        else:  # first batch: no index yet
            idx = new_b.where(F.lit(False))
        manifest = _score_new_vs_index(
            batch_df.select("doc_id"),
            new_b,
            idx.unionByName(new_b),
            MINHASH_K,
            threshold,
            require_lower_index_id=True,
        )
        # dynamic partition-overwrite is scoped PER WRITE (writer
        # option, not a session conf) so a retried batch replaces only
        # its own batch_id partition without leaking overwrite
        # behavior into unrelated writes sharing the session
        (
            manifest.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(verdicts_dir)
        )
        # multi-sink chaos hook (tests/test_unreliable.py): a crash
        # HERE leaves the batch's verdicts durable and its index rows
        # absent — the redelivery must overwrite the former and write
        # the latter, which the dynamic-overwrite + batch_id-< filter
        # pair absorbs without any extra coordination
        if between_sinks is not None:
            between_sinks(batch_id)
        (
            new_b.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )

    stream = _read_parquet_stream(spark, docs_path, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(ingest if wrap_batch is None else wrap_batch(ingest))
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(verdicts_dir).select(
        "doc_id", "n_matches", "best_jaccard", "is_dup"
    )


TRANSITION_STEP_SCHEMA = "user_id long, event_type string, next_type string"
TRANSITION_STATE_SCHEMA = "last_us long, last_eid long, last_type string"


def streaming_transition_matrix(
    spark: SparkSession, events_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming first-order Markov transition matrix — the stateful
    complement of ``events.event_transition_matrix``: per user, the
    LAST seen event rides in typed GroupState, each micro-batch chains
    its (sorted) events onto it and emits one (event_type ->
    next_type) step row per consecutive pair, and the returned table
    aggregates the emitted steps into counts + row-normalized
    probabilities. The batch operator's lead() window needs the whole
    history; this form sees each event once and carries O(1) state per
    user — the shape an online next-action model feeds from.

    On a finite time-ordered replay (single batch, or
    ``max_files_per_trigger`` over time-ordered files) the emitted
    steps equal the batch window's pairs, so the DuckDB oracle is the
    SAME SQL as the batch operator — and the parity test pins
    stream == batch == oracle three ways. The end-of-stream open state
    (each user's final event) correctly emits nothing, exactly like
    lead()'s trailing NULL.

    Scale shape: one user_id hash shuffle into the stateful operator;
    state is 3 fields per user; step emissions are append-mode final;
    the count rollup runs over |types|² aggregated rows."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        user_id = key[0]
        pdf = pd.concat(list(pdfs))
        rows = sorted(
            zip(
                pdf["ts"].astype("datetime64[us]").astype("int64").tolist(),
                pdf["event_id"].tolist(),
                pdf["event_type"].tolist(),
            )
        )
        prev = state.get if state.exists else None  # (last_us, last_eid, last_type)
        steps: list[tuple] = []
        for t_us, eid, etype in rows:
            if prev is not None:
                steps.append((user_id, prev[2], etype))
            prev = (t_us, eid, etype)
        state.update(prev)
        yield pd.DataFrame(steps, columns=["user_id", "event_type", "next_type"])

    stream = _read_events_stream(spark, events_path, max_files_per_trigger).withWatermark(
        "ts", "0 seconds"
    )
    step_df = stream.groupBy("user_id").applyInPandasWithState(
        fn,
        TRANSITION_STEP_SCHEMA,
        TRANSITION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    steps = _run_to_memory(step_df, "append")
    from pyspark.sql import Window as W

    counts = steps.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    total = F.sum("n").over(W.partitionBy("event_type"))
    return counts.select(
        "event_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / total, 6).alias("p"),
    )
