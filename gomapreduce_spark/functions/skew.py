"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting handles joins; a *grouped aggregation* on a
pathologically hot key (one user with a billion events, one boilerplate
document hash) still funnels that key's partials into a single reduce
task. Salting splits the hot key across ``n_salts`` sub-keys, merges
per-salt partials, then combines the (now tiny, one row per salt) sub-
results — two shuffles, each bounded.

Only valid for commutative, re-aggregatable partials (count→sum,
sum→sum, min→min, max→max) — exactly the algebraic-aggregate contract
Spark's own partial aggregation relies on. Equality to the unsalted
aggregation is asserted in tests.

Where a hot key's rows are not needed at all (a boilerplate shingle, a
degenerate LSH bucket), :func:`hot_keys` caps it instead: the keys over
a row cap, observed, for an anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# partial-agg fn, merge-agg fn (applied to the partial column)
MERGEABLE = {
    "count": (F.count, F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase grouped aggregation with key salting.

    ``aggs`` maps output column name -> (agg_name, input_col) with
    agg_name in MERGEABLE. Example::

        salted_agg(events, ["user_id"],
                   {"n": ("count", "*"), "total": ("sum", "value")})

    Phase 1 groups by (key, salt) — the hot key's rows spread over
    ``n_salts`` reduce tasks; phase 2 merges the per-salt partials.
    """
    salt = (F.rand(seed=42) * n_salts).cast("int").alias("__salt")
    partials = []
    merges = []
    for out_name, (agg_name, in_col) in aggs.items():
        partial_fn, merge_fn = MERGEABLE[agg_name]
        p = f"__p_{out_name}"
        partials.append(partial_fn(in_col).alias(p))
        merges.append(merge_fn(p).alias(out_name))
    phase1 = df.withColumn("__salt", salt).groupBy(*key_cols, "__salt").agg(*partials)
    return phase1.groupBy(*key_cols).agg(*merges)


def salted_counts(df: DataFrame, key_col: str, n_salts: int = 16) -> DataFrame:
    """Convenience: skew-safe ``groupBy(key).count()``."""
    return salted_agg(df, [key_col], {"cnt": ("count", "*")}, n_salts)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Manual salted equi-join — the fallback when AQE's skew split
    cannot engage (it declines when the join output must preserve hash
    partitioning for a downstream same-key operator, and it never
    applies to aggregation-only hot keys): the BIG side gets a random
    salt per row, the SMALL side is replicated once per salt value, and
    the join runs on (key, salt) — the hot key's rows spread over
    ``n_salts`` tasks by construction.

    Cost model: small-side rows are duplicated ``n_salts`` times, so
    this is for a small-but-not-broadcastable build side (100 MB–few
    GB) against a skewed fact side. Result equality with the plain
    join is asserted in tests."""
    salted_big = big.withColumn("__salt", (F.rand(seed=7) * n_salts).cast("int"))
    salts = small.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
    salted_small = small.crossJoin(salts)
    return salted_big.join(salted_small, [key, "__salt"]).drop("__salt")


def hot_keys(df: DataFrame, keys: list[str], cap: int, name: str) -> DataFrame:
    """The hot-key cap: the ``keys`` values holding more than ``cap``
    rows of ``df``, for the caller to anti-join away. Never silent: the
    CollectMetrics observation ``name`` reports ``n_hot_keys`` (keys
    over the cap) and ``n_hot_rows`` (the rows they hold)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cap)
        .observe(
            name,
            F.count(F.lit(1)).alias("n_hot_keys"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_hot_rows"),
        )
        .select(*keys)
    )
