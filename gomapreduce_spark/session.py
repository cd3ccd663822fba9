"""SparkSession factory.

Replaces the reference's whole cluster-bootstrap file
(``MakeMapReduceNode``, reference mapreduce.go:397-545): RPC transport,
peer liveness, tick loops, and the task/job managers are all Spark
internals. What remains configurable is the analytics posture:

- AQE on (runtime re-planning, skew-join splitting, shuffle coalescing),
- shuffle partitions sized to the active parallelism rather than the 200
  default (the reference's ``R`` knob, jobConfig.go:10),
- UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle,
- Arrow enabled for every pandas-UDF exchange.

At 100 TB on a real cluster the same builder applies; only
``master``/memory sizing and ``spark.sql.shuffle.partitions`` change
(set shuffle partitions ~2-3x total executor cores, and let AQE coalesce
down).

Python workers start from the engine's own daemon,
:mod:`gomapreduce_spark.worker_daemon` (``spark.python.daemon.module``).
Spark resets the import caches at the start of every Python task, and on
CPython 3.10-3.12 that re-reads the directory of ``pyspark.zip`` once per
zipimporter, 0.2-0.4 s per task on a 4-core host; the daemon re-reads an archive only
when it changed. On 3.13 and later it is plain ``pyspark.daemon``. The
daemon is started as ``python -m gomapreduce_spark.worker_daemon``, so the
engine's import root (the parent of the package directory) goes on the
workers' ``PYTHONPATH``: otherwise the daemon, and with it every Python
task, could start only when the JVM's working directory holds the package.
Both are static confs, set only on sessions this module creates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime SQL confs every entry point re-asserts even on a session it did
# not create (the driver passes us its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    # legacy testdata generations stored events.ts as TIMESTAMP(NANOS),
    # which the vectorized parquet reader rejects outright; with this set
    # it surfaces as bigint and sources.registry.normalize_timestamps
    # converts. Harmless for non-nanos data (current testdata is plain
    # timestamp[us]); kept so either encoding loads (inputer.go:39-43's
    # "read whatever the input is" contract).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # oracle comparisons are UTC-naive on the DuckDB side.
    "spark.sql.session.timeZone": "UTC",
    # Null-tolerant analytics posture (Spark 4 flipped ANSI on by
    # default): with ANSI, a zero-variance column ABORTS any job whose
    # plan evaluates corr/regr_* over it, and a degenerate histogram
    # bin width kills a whole report — a 3am page for one constant
    # column in one slice of a 100 TB corpus. Non-ANSI returns
    # NULL/NaN for the degenerate cell and the other 10^9 rows
    # survive, which is also DuckDB's behavior (NULL) on every such
    # aggregate. The adversarial sweeps in tests/test_operators.py pin
    # this: every registered query must produce a defined result on
    # empty AND on all-identical inputs.
    #
    # KNOWN EXPOSURE (deliberate trade): non-ANSI also turns invalid
    # casts into NULL and lets integer arithmetic wrap silently —
    # which can mask genuine data bugs. Mitigations in this codebase:
    # sums that could plausibly overflow accumulate in double or are
    # range-bounded by construction (60-bit hashes, counts of
    # fixture-scale cardinality); string→number casts occur only on
    # columns the loaders type-check at ingest (sources.registry
    # normalizes schemas, and entry() fails fast on encoding drift);
    # and every registered query is hash-compared against DuckDB,
    # which runs with its own strict semantics, so a wrap or
    # cast-to-NULL divergence surfaces as an oracle mismatch rather
    # than passing silently. New code that wants per-expression
    # strictness should use try_cast/try_divide/try_* explicitly —
    # those behave identically under either ANSI setting.
    "spark.sql.ansi.enabled": "false",
    # runtime re-planning: shuffle-partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python Data Source filter pushdown (Spark 4.1, default off):
    # lets sources.keyedtext prune its file listing from pushed key
    # predicates — required for any reader implementing pushFilters
    "spark.sql.python.filterPushdown.enabled": "true",
    # parquet COUNT/MIN/MAX answered from row-group footer statistics
    # (no data pages read). Inert for the default v1 FileScan path —
    # it applies only to DSv2 BatchScan relations, which this repo
    # creates solely via sources.pushdown.read_parquet_v2; keeping it
    # a session default (instead of a per-call flip) is what lets a
    # footer-stats DataFrame survive downstream re-planning (every new
    # QueryExecution re-applies the pushdown from this conf).
    "spark.sql.parquet.aggregatePushdown": "true",
}


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Assert the runtime confs on an existing session (driver-owned or ours)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path already set it
    return spark


def get_spark(app_name: str = "gomapreduce_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "gomapreduce_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _IMPORT_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
