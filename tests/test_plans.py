"""Physical-plan regression tests: the queries must keep compiling to
scale-appropriate plans (pushdown, pruning, broadcast, partial agg,
no cartesian products, narrow ops staying narrow). A lost broadcast or
a filter that stops pushing is a perf bug even while results stay
correct — this is the 100 TB guardrail."""

from __future__ import annotations

from tools.explain_audit import audit_all


def test_physical_plans(spark, sf_med):
    # cached relations from earlier tests would change plan shapes
    # (InMemoryTableScan embeds its own Exchange) — audit clean plans
    spark.catalog.clearCache()
    results = audit_all(spark, sf_med)
    bad = {k: v for k, v in results.items() if v}
    assert not bad, f"plan regressions: {bad}"


def test_source_overlap_shingle_pass_is_one_arrow_pass(spark, sf_med):
    """source_overlap_matrix's gate sees only the plan after its
    checkpoint; the shingle pass before the cut must stay ONE narrow
    Arrow pass."""
    import re

    from gomapreduce_spark.operators.dedup import shingle_arrays
    from gomapreduce_spark.sources.registry import load_table
    from tools.explain_audit import plan_str

    plan = plan_str(shingle_arrays(load_table(spark, sf_med, "documents")))
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan


def test_aqe_splits_skewed_join(spark):
    """The 100 TB skew story is AQE's OptimizeSkewedJoin, not manual
    salting alone: with a pathologically hot key and test-scale
    thresholds, the FINAL adaptive plan must carry the skew=true marker
    on the sort-merge join — runtime proof the hot partition was split.
    (The join output must not feed a same-key aggregate here: AQE
    rightly declines to split when downstream requires the join's hash
    partitioning — splitting would force a second shuffle.)"""
    from pyspark.sql import functions as F

    from tools.explain_audit import plan_str

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        # 50k rows on ONE key vs 5k uniform — one shuffle partition dwarfs
        # the median; pad a wide column so bytes, not just rows, skew
        left = spark.range(55_000).select(
            F.when(F.col("id") < 50_000, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("x" * 200), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("rv")
        )
        joined = left.join(right, "k").select(F.length("pad").alias("lp"))
        assert len(joined.collect()) == 55_000  # every left row matches once
        plan = plan_str(joined)  # final adaptive plan of the executed query
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_forbid_logical_catches_mandatory_broadcast(spark):
    """Negative control for the forbid_logical audit check (the gate
    that keeps boilerplate_spans' frequent-span join free of a
    mandatory broadcast): a join that DOES force F.broadcast must trip
    the 'strategy=broadcast' marker, and the same join unhinted must
    not — proving the gate distinguishes a code-forced hint from AQE's
    runtime choice."""
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_one

    left = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    right = spark.range(10).select(F.col("id").alias("k"))
    exp = {"forbid_logical": ["strategy=broadcast"]}
    hinted = left.join(F.broadcast(right), "k", "left_semi")
    assert audit_one("hinted", hinted, exp), "forced broadcast not detected"
    unhinted = left.join(right, "k", "left_semi")
    assert not audit_one("unhinted", unhinted, exp), "false positive on unhinted join"
