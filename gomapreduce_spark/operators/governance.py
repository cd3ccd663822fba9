"""Corpus governance: the reproducibility artifacts a production
training-data pipeline ships alongside the corpus itself — the
per-document provenance/lineage manifest (C4, Dolma, and FineWeb all
publish exactly this: where each document came from, what was done to
it, and where it landed) and the end-to-end dedup certification row
(the nightly composed-pipeline counts that catch inter-stage contract
drift the per-stage oracles can't see).

The reference engine has no governance surface (its output is a bare
keyed write, outputer.go:29-34); this family is part of the repo's
mandated LLM-data-pipeline surface, composing stages that are each
individually oracle-verified: url_canonicalize (web.py),
canonical_docs / exact_dedup / leakage_safe_split (dedup.py), and the
synthetic next-crawl snapshot (dedup.synth_corpus_snapshot).

Scale shape: every input side arrives ALREADY REDUCED — per-doc rows
of ids + small scalars, never text — so the manifest is a multi-way
join keyed on doc_id (8-byte keys), and the e2e row is a pair of
1-row aggregates unpivoted with stack(). Nothing here adds a
corpus-sized shuffle beyond what the composed stages already pay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import h64
from .dedup import _split_assignment, canonical_docs, synth_corpus_snapshot
from .text import gopher_keep_expr, quality_expr, quality_keep_expr
from .web import (
    DEFAULT_BLOCKLIST,
    blocklist_pass_expr,
    registered_domain_expr,
    synth_url_expr,
    canonical_url_expr,
)


def _dedup_certification(docs: DataFrame, keyed: DataFrame, threshold: float) -> DataFrame:
    """The dedup half of both certification rows, as one 1-row
    aggregate over ``keyed``, a (doc_id, content_hash, quality)
    relation of the documents admitted so far: exact-dedup survivors →
    :func:`~.dedup.canonical_docs` → the cluster-atomic split. Columns
    n_exact_survivors, n_near_dup_docs, n_near_dup_clusters,
    n_canonical_kept, n_train, n_validation, n_test.

    The survivors are ``keep_ids``, arithmetically
    exact_dedup(admitted)'s keep_id (same h64(text) key, same
    min(doc_id)), taken from ``keyed``'s hash column, so no second text
    scan. ``quality`` enters canonical_docs through its
    precomputed-quality input, so the survivors are not tokenized
    again. The split reuses the cluster labels canonical_docs already
    has instead of re-running connected components."""
    keep_ids = keyed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    canon = canonical_docs(
        docs.join(keep_ids, "doc_id"),
        threshold,
        quality=keyed.join(keep_ids, "doc_id").select("doc_id", "quality"),
    )
    _, split = _split_assignment("cluster_id")
    enriched = canon.withColumn("split", split)

    def kept_in(name: str):
        return (F.col("keep") & (F.col("split") == name)).cast("long")

    return enriched.agg(
        F.count(F.lit(1)).alias("n_exact_survivors"),
        F.sum((F.col("cluster_size") >= 2).cast("long")).alias("n_near_dup_docs"),
        F.count_distinct(
            F.when(F.col("cluster_size") >= 2, F.col("cluster_id"))
        ).alias("n_near_dup_clusters"),
        F.sum(F.col("keep").cast("long")).alias("n_canonical_kept"),
        F.sum(kept_in("train")).alias("n_train"),
        F.sum(kept_in("validation")).alias("n_validation"),
        F.sum(kept_in("test")).alias("n_test"),
    )


def doc_provenance(
    docs: DataFrame, threshold: float = 0.5, blocklist: list[str] | None = None
) -> DataFrame:
    """Per-document provenance manifest: one row per input document
    with every lineage fact downstream reproducibility needs —
    (doc_id, source, canonical_url, registered_domain, blocked,
    snapshot_status, cluster_id, cluster_size, is_canonical, split,
    transforms). `transforms` is the comma-joined audit of what the
    pipeline DID to this document (url rewritten, pruned as a
    near-dup, dropped by the domain blocklist) — empty string when the
    document passed through untouched.

    Unifies four oracle-verified stages on doc_id:
      - web.url_canonicalize → canonical_url / registered_domain
        (row-level, same scan);
      - dedup.canonical_docs → near-dup cluster id/size + the
        keep-one-representative decision;
      - the leakage-safe split, derived from the SAME cluster labels
        (hash-of-cluster-id mod 100 — identical assignment to
        dedup.leakage_safe_split, which coalesces unclustered docs to
        their own id exactly as canonical_docs does);
      - snapshot status vs the deterministic next crawl
        (dedup.synth_corpus_snapshot): unchanged / changed / removed
        by 60-bit content-hash compare — the per-doc view that
        corpus_snapshot_diff aggregates away.

    Scale shape: the expensive subtree is canonical_docs' LSH cluster
    pipeline, paid once; everything else is narrow projections and
    TWO doc_id-keyed joins of already-reduced sides (ids + hashes +
    short strings, never text) — the url/domain columns ride the
    old-text-hash scan as expressions instead of costing a third join.
    At 100 TB the manifest costs the dedup pipeline + two 8-byte-key
    joins — and it is the artifact that makes the whole corpus
    auditable."""
    bl = DEFAULT_BLOCKLIST if blocklist is None else blocklist
    # Scan/shuffle layout: the old-text-hash scan carries ONLY the
    # text-dependent columns (h_old + the quality composite), and the
    # joined manifest relation is handed straight into canonical_docs
    # as its quality side (the precomputed-quality passthrough
    # contract) — so canonical_docs runs NO second tokenizing corpus
    # scan and the manifest needs no extra doc_id join to pick up the
    # cluster columns. The url / canonical_url / registered_domain
    # expressions are functions of (doc_id, source) ONLY, so they are
    # projected AFTER the joins and the keep-window: computed on the
    # scan, they would drag three derived url strings through every
    # exchange and the window sort (a measured regression); here only
    # the 8-byte doc_id and the short source ride the shuffles.
    # per-doc snapshot status: LEFT join old→new on doc_id (the fresh
    # docs the synth crawl ADDS have ids ≥ 2^60 and can't match, so
    # an old doc is removed / changed / unchanged, never 'added')
    new_h = synth_corpus_snapshot(docs).select("doc_id", h64(F.col("text")).alias("h_new"))
    snap = (
        docs.select(
            "doc_id",
            "source",
            h64(F.col("text")).alias("h_old"),
            quality_expr().alias("quality"),
        )
        .join(new_h, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("h_new").isNull(), F.lit("removed"))
            .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("snapshot_status"),
            "quality",
        )
    )
    canon = canonical_docs(docs, threshold, quality=snap)
    url = synth_url_expr()
    canon_url = canonical_url_expr(url)
    _, split = _split_assignment("cluster_id")
    out = (
        canon.withColumnRenamed("keep", "is_canonical")
        .withColumn("url", url)
        .withColumn("canonical_url", canon_url)
        .withColumn("registered_domain", registered_domain_expr(F.col("canonical_url")))
        .withColumn("blocked", F.col("registered_domain").isin(bl))
        .withColumn("split", split)
    )
    transforms = F.concat_ws(
        ",",
        F.when(F.col("canonical_url") != F.col("url"), F.lit("canonicalize_url")),
        F.when(F.col("blocked"), F.lit("blocklist_drop")),
        F.when(~F.col("is_canonical"), F.lit("near_dup_prune")),
    )
    return out.select(
        "doc_id",
        "source",
        "canonical_url",
        "registered_domain",
        "blocked",
        "snapshot_status",
        "cluster_id",
        "cluster_size",
        "is_canonical",
        "split",
        transforms.alias("transforms"),
    )


def corpus_dedup_e2e(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """End-to-end dedup certification: the composed
    exact_dedup → minhash-LSH → dedup_clusters → canonical_docs →
    leakage-safe-split pipeline run as ONE query, reduced to the
    per-stage document counts a deployment checks nightly —
    (stage, n_docs) rows:

      e2e_00_input              documents in
      e2e_01_exact_survivors    after exact (content-hash) dedup
      e2e_02_near_dup_docs      survivors inside a near-dup cluster
      e2e_03_near_dup_clusters  distinct multi-doc clusters
      e2e_04_canonical_kept     one representative kept per cluster
      e2e_05_train/06_validation/07_test   kept docs per split

    Each stage is individually hash-oracled; this row certifies the
    COMPOSITION — near-dup clustering runs on the exact-dedup
    SURVIVORS (not the raw corpus), canonical selection on those
    clusters, the split on the kept set — so any inter-stage contract
    drift (schema, null handling, coalesce semantics) breaks the
    count chain even when every stage is green in isolation.

    Scale shape: ONE narrow (doc_id, content_hash, quality) pre-pass
    over the corpus is checkpointed (~24 B/doc) and feeds both the
    exact-dedup survivors and canonical_docs' quality side
    (:func:`_dedup_certification`); without it the survivors subtree
    (corpus ⋈ keep_ids over a full corpus hash-aggregate) re-expands
    once per consumer. The LSH subtree still reads text once
    (signatures need it); the certification itself is two single-row
    aggregates cross-joined (broadcast of 1 row) and unpivoted with
    stack() — the output is 8 rows at any corpus size."""
    narrow = docs.select(
        "doc_id",
        h64(F.col("text")).alias("content_hash"),
        quality_expr().alias("quality"),
    ).localCheckpoint()
    stages = _dedup_certification(docs, narrow, threshold)
    # the input total deliberately re-scans rather than reusing the
    # exact-dedup aggregate: sum(n_copies) LOOKS free, but column
    # pruning specializes the two hash-agg subtrees differently
    # (keep_id vs n_copies), so no exchange reuse engages and the
    # corpus would be text-hashed TWICE — a count(*) scan is pruned
    # to row-count metadata and is strictly cheaper at any scale
    # (measured: identical wall at sf0.1, 2 hash-agg executions vs 1)
    totals = docs.agg(F.count(F.lit(1)).alias("n_input"))
    # 1-row × 1-row cross join (broadcast-of-1-row scalar, the repo's
    # blessed crossJoin shape) then stack() into the (stage, n) rows
    return stages.crossJoin(F.broadcast(totals)).selectExpr(
        """stack(8,
             'e2e_00_input', n_input,
             'e2e_01_exact_survivors', n_exact_survivors,
             'e2e_02_near_dup_docs', n_near_dup_docs,
             'e2e_03_near_dup_clusters', n_near_dup_clusters,
             'e2e_04_canonical_kept', n_canonical_kept,
             'e2e_05_train', n_train,
             'e2e_06_validation', n_validation,
             'e2e_07_test', n_test) AS (stage, n_docs)"""
    )


def corpus_ingest_e2e(
    docs: DataFrame, threshold: float = 0.5, blocklist: list[str] | None = None
) -> DataFrame:
    """Full-pipeline ingest certification: the nightly admission run a
    deployment composes — domain blocklist → Gopher rule filter →
    model-based quality classifier → exact dedup → near-dup
    clustering → canonical selection → leakage-safe split — reduced to
    the per-stage document counts, (stage, n_docs) rows:

      ing_00_input              documents in
      ing_01_blocklist_pass     registered domain not blocklisted
      ing_02_gopher_pass        ... AND passes gopher_rules
      ing_03_quality_pass       ... AND quality_classifier keep
      ing_04_exact_survivors    admitted docs after exact dedup
      ing_05_near_dup_docs      survivors inside a near-dup cluster
      ing_06_near_dup_clusters  distinct multi-doc clusters
      ing_07_canonical_kept     one representative kept per cluster
      ing_08_train/09_validation/10_test   kept docs per split

    Extends :func:`corpus_dedup_e2e` (the dedup-only certification) to
    the ADMISSION stages: every stage is individually hash-oracled;
    this row certifies the composition order a production ingest runs
    (C4's pipeline: domain filter, then rules, then classifier, then
    dedup on what survived). Any inter-stage contract drift breaks the
    count chain even when every stage is green in isolation.

    Stage semantics: the three admission stages are ROW-LEVEL pure
    functions of a document, so their verdicts are computed as flag
    EXPRESSIONS inlined into the scan and counted with a conjunctive
    aggregate — which is arithmetically identical to running them as
    sequential filters (a row-level stage's verdict cannot depend on
    which OTHER docs survived an earlier stage), and avoids
    materializing each intermediate corpus (test-pinned equal to the
    sequential run). The flag expressions are the REAL operators'
    single-source-of-truth Columns (web.blocklist_pass_expr /
    text.gopher_keep_expr / text.quality_keep_expr — the same objects
    blocklist_filter / gopher_rules / quality_classifier project), so
    a semantics change in any stage changes this row.

    Scale shape: the admission flags are narrow scalar expressions, so
    ALL THREE ride ONE scan into the checkpointed flag relation; one
    combined projection tokenizes ONCE (the gopher and classifier
    token exprs are identical subtrees, eliminated by codegen CSE) and
    joins NOTHING. The checkpoint stays: the flag relation is consumed
    by both the admission aggregate and the admitted-set join, and
    re-inlining interpreted higher-order token lambdas into every
    downstream reference re-prices the corpus scan 5× (measured at
    sf0.1: 11–16 s vs 6.5 s). Downstream, the exact-dedup survivors
    and the canonical_docs LSH subtree see the ADMITTED set only (the
    whole point of admission-first ordering: the expensive near-dup
    pass never sees rejected docs). The certification layer is two
    1-row aggregates, a broadcast-of-1-row crossJoin, and stack() — 11
    rows out at any corpus size."""
    bl = DEFAULT_BLOCKLIST if blocklist is None else blocklist
    # the flag relation also carries content_hash (exact_dedup's
    # h64(text) key) and the quality composite (~27 B/doc): both are
    # row-level expressions of the scan the flags already pay, and they
    # spare :func:`_dedup_certification` a re-hash of the admitted
    # corpus and a re-tokenize of its survivors. The flag filter is
    # row-level, so the admitted row set is exact_dedup's input.
    flags = docs.select(
        "doc_id",
        blocklist_pass_expr(bl).alias("bl"),
        gopher_keep_expr().alias("gop"),
        quality_keep_expr().alias("q"),
        h64(F.col("text")).alias("content_hash"),
        quality_expr().alias("quality"),
    ).localCheckpoint()
    admission = flags.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("bl").cast("long")).alias("n_blocklist_pass"),
        F.sum((F.col("bl") & F.col("gop")).cast("long")).alias("n_gopher_pass"),
        F.sum((F.col("bl") & F.col("gop") & F.col("q")).cast("long")).alias("n_quality_pass"),
    )
    admitted = flags.where(F.col("bl") & F.col("gop") & F.col("q"))
    tail = _dedup_certification(docs, admitted, threshold)
    return admission.crossJoin(F.broadcast(tail)).selectExpr(
        """stack(11,
             'ing_00_input', n_input,
             'ing_01_blocklist_pass', n_blocklist_pass,
             'ing_02_gopher_pass', n_gopher_pass,
             'ing_03_quality_pass', n_quality_pass,
             'ing_04_exact_survivors', n_exact_survivors,
             'ing_05_near_dup_docs', n_near_dup_docs,
             'ing_06_near_dup_clusters', n_near_dup_clusters,
             'ing_07_canonical_kept', n_canonical_kept,
             'ing_08_train', n_train,
             'ing_09_validation', n_validation,
             'ing_10_test', n_test) AS (stage, n_docs)"""
    )
