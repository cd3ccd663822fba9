"""Table registry for the driver testdata.

Spark-first replacement for the reference's sole connector surface
(S3 list/get/chunk — reference inputer.go:33-43, s3_utils.go:39-107):
``spark.read.parquet`` enumerates files, splits them into input
partitions by ``spark.sql.files.maxPartitionBytes``, prunes columns, and
pushes filters into the scan — all of which the reference hand-rolls or
lacks. The same calls take ``s3a://`` URIs unchanged on a real cluster.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def rebalance_small_scan(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition a scan whose file count is far below the session
    parallelism — HASH-keyed when the table has a stable row key.

    The testdata tables are ONE parquet file each (single row group), so
    every scan stage would otherwise run as ONE task — 31 of 32 local
    cores idle through the whole narrow pipeline. At production scale
    this is a no-op: a 100 TB table has thousands of splits (the
    condition is false) and adding a blind repartition there would be a
    catastrophic full-input shuffle. Catalyst still pushes filters and
    prunes columns *through* the repartition into the scan (verified by
    tools/explain_audit.py).

    Keyed vs round-robin (optimization r14, guide §2.4/§2.5): a
    keyless ``repartition(n)`` pays a local sort of its input first
    (``spark.sql.execution.sortBeforeRepartition``, on so retried
    tasks reproduce their row→partition assignment) — measured 0.71 s
    vs 0.30 s for the bare rebalance+noop at sf0.1. Hashing on the
    row key skips that sort (hash of the VALUE is retry-deterministic
    for free) AND establishes the clustering every per-doc
    aggregation/window downstream needs, so Catalyst reuses the one
    exchange instead of adding its own (per-doc token rollup measured
    1.32 s → 0.31 s, 2 Exchanges → 1). Same trade at production: a
    corpus table laid out by doc key serves doc-keyed operators
    shuffle-free, which is why real deployments bucket it so.
    """
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if len(df.inputFiles()) < max(2, target // 4):
        return df.repartition(target, F.col(key)) if key else df.repartition(target)
    return df


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every event-time encoding the testdata has ever shipped
    to a plain ``timestamp`` column — the "read whatever the input is"
    contract (reference inputer.go:39-43), applied schema-adaptively:

    - ``timestamp_ntz`` (naive parquet timestamp[us], the current
      testdata encoding): cast to ``timestamp``. The session timezone is
      pinned UTC (session.py), so the cast relabels without shifting a
      single microsecond — and downstream ``unix_micros``/``window``
      calls (which reject NTZ) work uniformly.
    - ``bigint`` named ``ts`` (legacy TIMESTAMP(NANOS) surfaced via
      ``nanosAsLong``): floor-divide to micros (integer division — the
      value exceeds 2**53, a double roundtrip would lose precision,
      and DuckDB truncates nanos→micros the same way).
    """
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif t == "bigint" and c == "ts":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types (see
    :func:`normalize_timestamps` — every timestamp column arrives as a
    plain UTC ``timestamp`` regardless of the on-disk encoding)."""
    apply_runtime_confs(spark)
    df = normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    if name == "documents":
        # documents feed scan-bound narrow pipelines (tokenize/shingle/
        # hash) where the single-file scan is the whole job — rebalance,
        # hash-keyed on doc_id so per-doc rollups/windows reuse the
        # exchange (see rebalance_small_scan). Other tables' heavy work
        # happens after a keyed shuffle that already spreads across
        # cores; an extra exchange only costs.
        df = rebalance_small_scan(df, key="doc_id")
    # embeddings deliberately NOT rebalanced (re-measured r14): its
    # Arrow passes are k-round iterative with tiny per-round compute,
    # and 32 concurrent python tasks × per-task Arrow overhead cost
    # 2× the single-task form at fixture scale (kmeans_embeddings
    # 2.7 s → 5.6 s when keyed on vec_id); at production N the scan
    # arrives multi-split and parallelism is free.
    return df


def profile_table(df: DataFrame) -> DataFrame:
    """Per-column data-quality profile: row count, null count, distinct
    count, min/max (stringified; timestamps formatted to whole seconds
    for cross-engine stability). The standard pre-ingest sanity check
    for a pipeline.

    Two aggregation passes, deliberately: non-distinct aggregates
    (count/null/min/max — one narrow map-side-combined pass) and the
    multi-distinct pass (Expand + one shuffle) run as SEPARATE
    single-row aggregations cross-joined at the end. Fusing all ~4N
    aggregates into one multi-distinct aggregate makes Spark thread the
    non-distinct aggregates through every Expand group and the
    generated aggregate code degrades superlinearly — measured 2.8s
    warm fused vs 0.5s split on a 6-column table whose either half
    alone runs in <0.3s. The extra table scan is the cheap side of
    that trade at any scale (the distinct pass still dominates I/O).
    """
    dist_aggs = []
    aggs = [F.count("*").alias("__n")]
    names = []
    for c, t in df.dtypes:
        col = F.col(c)
        # min/max over the NATIVE type (stringifying first would order
        # numerics lexicographically); stringify the result afterward
        if t.startswith("timestamp"):
            mn = F.date_format(F.min(col), "yyyy-MM-dd HH:mm:ss")
            mx = F.date_format(F.max(col), "yyyy-MM-dd HH:mm:ss")
        else:
            mn = F.min(col).cast("string")
            mx = F.max(col).cast("string")
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).cast("long").alias(f"null__{c}"),
            mn.alias(f"min__{c}"),
            mx.alias(f"max__{c}"),
        ]
        dist_aggs.append(F.countDistinct(col).alias(f"dist__{c}"))
        names.append(c)
    # both sides are single rows — the cross join is a broadcast no-op
    wide = df.agg(*aggs).crossJoin(df.agg(*dist_aggs))
    # transpose wide→tall as a union of N tiny projections rather than
    # one N-way stack(): the shuffle exchanges under `wide` are shared
    # across branches (ReusedExchange — scan + partial agg run once;
    # each branch re-finalizes from #partitions partial rows, which is
    # O(#partitions) at any table size), and N small generated
    # projections compile ~2× faster than one 5N-expression stack
    branches = [
        wide.select(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"null__{c}").alias("n_null"),
            F.col(f"dist__{c}").alias("n_distinct"),
            F.col(f"min__{c}").alias("min_value"),
            F.col(f"max__{c}").alias("max_value"),
        )
        for c in names
    ]
    return reduce(DataFrame.unionAll, branches)


def read_text_dir(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """(key, value) rows from a directory of text files — one row per
    FILE (wholetext), key = file path: the DataFrame-level equivalent of
    the reference's ListKeys+GetValue contract (inputer.go:33-43),
    with Spark doing the listing and distributed reads. For line-level
    processing drop ``wholetext`` and Spark splits large files too."""
    reader = spark.read.format("text").option("wholetext", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    # input_file_name() is a percent-encoded file: URI — decode and
    # strip the scheme so the key is the plain filesystem path the
    # ListKeys contract promises (breaks on 'my doc.txt' otherwise)
    key = F.regexp_replace(F.url_decode(F.input_file_name()), "^file:", "")
    return reader.load(path).select(key.alias("key"), F.col("value").alias("value"))


FORMATS = ("parquet", "orc", "json", "csv")


def write_as(df: DataFrame, path: str, fmt: str) -> None:
    """Materialize a table in another format (orc = columnar with
    footer stats like parquet, json = JSONL, csv with header).
    Binary/array columns don't survive csv — callers pick columns;
    this is the sink half of the format-breadth surface."""
    assert fmt in FORMATS, fmt
    w = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    w.save(path)


def read_as(spark: SparkSession, path: str, fmt: str, schema=None) -> DataFrame:
    """Read any supported format. For csv/json an explicit schema keeps
    types exact and skips the inference scan (mandatory at 100 TB — a
    schema-inference pass over the whole input is a full extra read)."""
    assert fmt in FORMATS, fmt
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.load(path)


def write_training_shards(
    df: DataFrame, path: str, n_shards: int, order_col: str = "doc_id"
) -> None:
    """Materialize a corpus as ``n_shards`` range-partitioned,
    internally-sorted parquet shards — the layout a training data
    loader wants: deterministic shard membership (shard i holds a
    contiguous ``order_col`` range), sorted rows within each shard
    (sequential reads, no loader-side shuffle buffer), and tight
    min/max footer stats so readers prune whole shards.

    Scale shape: ``repartitionByRange`` builds balanced range bounds
    from a bounded reservoir sample (not a full scan) then shuffles
    once; ``sortWithinPartitions`` sorts each shard independently and
    spills — there is no global sort anywhere. At 100 TB pick
    n_shards ≈ input_bytes / 1 GB."""
    (
        df.repartitionByRange(n_shards, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def write_partitioned_corpus(df: DataFrame, path: str, *part_cols: str) -> None:
    """Hive-partitioned parquet layout (``lang=en/source=src3/…``) —
    the 100 TB scan-reduction primitive: a query filtering on the
    partition columns prunes whole directories at PLANNING time
    (PartitionFilters in the scan node), so "score the French slice"
    reads |French| bytes, not |corpus| bytes. Complements
    write_training_shards (range layout for sequential readers) and
    bucketed tables (co-located joins).

    The write itself shuffles on the partition columns first: without
    the repartition every input task would open one file per partition
    value it happens to hold (tasks × partitions small files — the
    classic layout mistake); with it, each partition value is written
    by the task that owns it."""
    cols = list(part_cols) or ["lang"]
    df.repartition(*[F.col(c) for c in cols]).write.mode("overwrite").partitionBy(
        *cols
    ).parquet(path)


def zorder_key(c1, c2, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative integer columns
    onto one sort key: bit i of each input lands at position 2i/2i+1,
    so sorting by the key clusters rows that are close in BOTH
    dimensions. Pure JVM-side bit arithmetic (shiftright/&/shiftleft
    folded by codegen) — no UDF.

    Inputs are clamped into [0, 2^bits) by masking; callers bucket
    continuous values first (e.g. ``floor(value)``)."""
    mask = (1 << bits) - 1
    a = F.col(c1).cast("long").bitwiseAND(F.lit(mask)) if isinstance(c1, str) else c1
    b = F.col(c2).cast("long").bitwiseAND(F.lit(mask)) if isinstance(c2, str) else c2
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def with_hilbert_key(df: DataFrame, c1: str, c2: str, bits: int = 8, out: str = "_h") -> DataFrame:
    """Append the Hilbert-curve index of two non-negative integer
    columns — the stronger-locality sibling of :func:`zorder_key`:
    consecutive key values are ALWAYS grid-adjacent cells (the Morton
    curve jumps at power-of-two seams), so range-partitioned files get
    tighter min/max envelopes on both dimensions at the same file
    count.

    Pure JVM-side arithmetic (the classic xy→d fold with the quadrant
    rotation expressed as F.when selects — no UDF). Each of the
    ``bits`` rounds rebuilds x/y from BOTH previous states, so folding
    it into one column expression grows the tree ~5× per round (OOMs
    the driver near bits=8, measured). Instead every round is its own
    PROJECTION whose expressions reference the previous round's output
    ATTRIBUTES — the logical plan stays linear in ``bits``, and
    CollapseProject leaves the layers alone because each intermediate
    is non-cheap and referenced more than once. Inputs are masked into
    [0, 2^bits); callers bucket continuous values first, as with
    zorder_key."""
    mask = (1 << bits) - 1
    n = 1 << bits
    xc, yc, dc = f"{out}__x", f"{out}__y", out
    clash = {xc, yc, dc} & set(df.columns)
    if clash:
        # select('*', ...alias(out)) would otherwise produce duplicate
        # column names and ambiguous downstream references (r8 advisor)
        raise ValueError(
            f"with_hilbert_key: generated column name(s) {sorted(clash)} "
            f"already exist in the input; pass a different out= prefix"
        )
    cur = df.select(
        "*",
        F.col(c1).cast("long").bitwiseAND(F.lit(mask)).alias(xc),
        F.col(c2).cast("long").bitwiseAND(F.lit(mask)).alias(yc),
        F.lit(0).cast("long").alias(dc),
    )
    others = [c for c in df.columns]
    for i in range(bits - 1, -1, -1):
        s_ = 1 << i
        x, y, d = F.col(xc), F.col(yc), F.col(dc)
        rx = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, i).bitwiseAND(F.lit(1))
        refl = (ry == 0) & (rx == 1)
        x_refl = F.when(refl, F.lit(n - 1) - x).otherwise(x)
        y_refl = F.when(refl, F.lit(n - 1) - y).otherwise(y)
        cur = cur.select(
            *others,
            F.when(ry == 0, y_refl).otherwise(x_refl).alias(xc),
            F.when(ry == 0, x_refl).otherwise(y_refl).alias(yc),
            (d + F.lit(s_ * s_).cast("long") * (rx * 3).bitwiseXOR(ry)).alias(dc),
        )
    return cur.drop(xc, yc)


def write_hilbert_clustered(
    df: DataFrame, path: str, c1: str, c2: str, n_files: int = 8, bits: int = 8
) -> None:
    """Hilbert-clustered parquet layout: :func:`write_zordered` on the
    Hilbert key instead of the Morton key — same one range shuffle +
    per-shard sort, same pinned range sampling, strictly better
    worst-case locality (no power-of-two seam jumps), which is why
    production table formats moved from ZORDER to Hilbert curves for
    their clustering implementations."""
    keyed = with_hilbert_key(df, c1, c2, bits, out="_h")
    sess = df.sparkSession
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    saved = sess.conf.get(key, None)
    try:
        sess.conf.set(key, "100000")
        (
            keyed.repartitionByRange(n_files, F.col("_h"))
            .sortWithinPartitions("_h")
            .drop("_h")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if saved is None:
            sess.conf.unset(key)
        else:
            sess.conf.set(key, saved)


def write_zordered(
    df: DataFrame, path: str, c1: str, c2: str, n_files: int = 8, bits: int = 16
) -> None:
    """Z-order-clustered parquet layout (the OPTIMIZE ZORDER / liquid-
    clustering idea in plain Spark): range-partition + sort on the
    Morton key of two columns, so per-file min/max footer stats are
    TIGHT IN BOTH dimensions and a point/range filter on EITHER column
    skips most files. A linear sort gives perfect pruning on its sort
    column and none on the second; Z-order trades a little of the
    first for usable pruning on both — the right layout when two query
    predicates matter at 100 TB.

    One range shuffle + per-shard sort, the write_training_shards
    machinery on a computed key. Range bounds come from sampling; the
    default 100 points/partition makes file boundaries (and hence each
    file's min/max envelope) drift with whatever physical partitioning
    the input happens to have — harmless for correctness but it makes
    layout properties nondeterministic run-to-run. Pin a large
    per-partition sample instead: Spark caps the TOTAL range sample at
    1e6 rows (RangePartitioner.sketch), so driver memory stays bounded
    at any input size while small-to-medium writers get exact,
    partitioning-independent bounds. Scoped save/restore — the session
    conf is never left mutated."""
    keyed = df.withColumn("_z", zorder_key(c1, c2, bits))
    sess = df.sparkSession
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    saved = sess.conf.get(key, None)
    try:
        sess.conf.set(key, "100000")
        (
            keyed.repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if saved is None:
            sess.conf.unset(key)
        else:
            sess.conf.set(key, saved)


def write_dataset_manifest(path: str, order_col: str | None = None) -> dict:
    """Emit ``_MANIFEST.json`` for a materialized parquet dataset — the
    loader contract a training job consumes instead of listing+footer-
    probing the directory itself: per-file rows/bytes (and min/max of
    ``order_col`` when given, so a loader can range-route without
    opening files), plus totals and the schema string.

    Driver-side by design: it reads FOOTERS of the shard files (bounded
    by shard count — hundreds, not corpus rows), never data pages. Runs
    after write_training_shards / write_partitioned_corpus /
    write_zordered; tests assert manifest totals equal the dataset."""
    import glob as _glob
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True))
    entries, total_rows, total_bytes = [], 0, 0
    schema_str = None
    for f in files:
        pf = _pq.ParquetFile(f)
        md = pf.metadata
        schema_str = schema_str or str(pf.schema_arrow)
        e = {
            "file": _os.path.relpath(f, path),
            "rows": md.num_rows,
            "bytes": _os.path.getsize(f),
        }
        if order_col is not None and md.num_rows > 0:
            idx = md.schema.names.index(order_col)
            e["min"] = min(
                md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups)
            )
            e["max"] = max(
                md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups)
            )
        total_rows += e["rows"]
        total_bytes += e["bytes"]
        entries.append(e)
    manifest = {
        "n_files": len(entries),
        "total_rows": total_rows,
        "total_bytes": total_bytes,
        "order_col": order_col,
        "schema": schema_str,
        "files": entries,
    }
    with open(_os.path.join(path, "_MANIFEST.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return manifest


def compact_dataset(
    spark: SparkSession, path: str, target_mb: int = 128, order_col: str | None = None
) -> dict:
    """Small-files compaction — the maintenance op every file-arrival
    ingest needs (a streaming sink or hourly batch leaves thousands of
    KB-scale files; scans then pay one task + one open per file):
    rewrite the dataset into ceil(bytes / target_mb) files, optionally
    re-sorted on ``order_col`` to restore footer-stats pruning, then
    atomically swap directories (write to a sibling temp dir, move the
    old out, move the new in — readers never see a half-written mix).

    Returns {files_before, files_after, bytes}. The rewrite is one
    job: a scan + round-robin (or range, when ordered) repartition +
    parquet write — no driver materialization.

    Crash safety: the swap is two renames (POSIX os.rename cannot
    exchange two directories atomically), so there is a window where
    the dataset lives only at ``<path>__old``. Recovery is built in:
    on entry, a leftover ``__old`` with ``path`` missing (a crash in
    that window) is renamed back before anything else runs, and stale
    ``__old``/``__compacting`` dirs from prior completed-or-failed
    runs are cleared so reruns never rename onto an existing dir or
    delete the wrong tree."""
    import glob as _glob
    import math as _math
    import os as _os
    import shutil as _shutil

    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    # recover/clean any prior run's leftovers BEFORE measuring input
    if _os.path.isdir(old) and not _os.path.exists(path):
        _os.rename(old, path)  # crashed mid-swap: restore the dataset
    if _os.path.isdir(old):
        _shutil.rmtree(old)  # crashed after the swap: old copy is stale
    if _os.path.isdir(tmp):
        _shutil.rmtree(tmp)  # half-written rewrite from a failed run

    files_before = _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    total_bytes = sum(_os.path.getsize(f) for f in files_before)
    n_out = max(1, _math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if order_col is not None:
        out = df.repartitionByRange(n_out, F.col(order_col)).sortWithinPartitions(order_col)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(tmp)
    _os.rename(path, old)
    _os.rename(tmp, path)
    _shutil.rmtree(old)
    return {
        "files_before": len(files_before),
        "files_after": len(_glob.glob(_os.path.join(path, "*.parquet"))),
        "bytes": total_bytes,
    }


def read_jsonl_corpus(spark: SparkSession, path: str, schema) -> DataFrame:
    """Web-crawl-grade JSONL ingestion: parse against an EXPLICIT
    schema (no inference scan — mandatory at 100 TB) in PERMISSIVE
    mode with a quarantine column, so one truncated upload or
    malformed line never kills the job OR silently vanishes.

    Returns the parsed rows plus two bookkeeping columns:
    ``_corrupt_record`` (the raw text of any unparseable line, NULL
    for good rows) and ``is_corrupt``. Callers split on ``is_corrupt``
    — good rows flow to the pipeline, corrupt raws to a quarantine
    sink for re-crawl/repair accounting. A dropped-on-the-floor parse
    failure in a 100 TB ingest is unfindable later; a quarantine table
    with the raw line is a five-minute fix.

    Caveat baked into the contract (Spark's documented PERMISSIVE
    behavior): corrupt-record capture requires selecting the corrupt
    column alongside the data columns from the SAME read — this helper
    owns that so callers can't get it wrong."""
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # NB: each downstream consumer re-parses from the raw files unless
    # the caller cache()/checkpoints this once — do that when splitting
    # into good/quarantine branches (the test shows the pattern)
    return df.withColumn("is_corrupt", F.col("_corrupt_record").isNotNull())
