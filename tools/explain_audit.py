"""Physical-plan audit: assert the headline queries compile to the
plans we'd want on a 1000-executor cluster, not just plans that pass.

Checks (per query, against `.explain("formatted")` text):
- filter pushdown reached the parquet scan (PushedFilters non-empty
  where the query filters a scanned column),
- column pruning: ReadSchema contains only the referenced columns,
- small dimensions broadcast (BroadcastHashJoin), never CartesianProduct,
- aggregations are partial+final (two HashAggregate/ObjectHashAggregate
  nodes per logical agg, i.e. map-side combine happened),
- narrow operators (fingerprint, minhash signatures) have NO Exchange.

Run: python tools/explain_audit.py [sf_dir]   (prints a PASS/FAIL table)
Tests import `audit_all` and assert nothing fails, so plan regressions
(e.g. a lost broadcast, a filter that stopped pushing) break CI.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _scan_blocks(plan: str) -> list[str]:
    """The per-scan detail blocks of a formatted plan."""
    return re.findall(r"\(\d+\) Scan parquet.*?(?=\n\(\d+\)|\Z)", plan, re.S)


AUDITS: dict[str, dict] = {
    # query -> expectations
    "q6_forecast_revenue": {
        "forbid_scaling_hints": True,
        "pushed_filters": ["l_shipdate", "l_quantity"],
        "read_schema_max_cols": 4,
        "forbid": ["CartesianProduct"],
    },
    "q1_pricing_summary": {
        "forbid_scaling_hints": True,
        "pushed_filters": ["l_shipdate"],
        "read_schema_max_cols": 7,
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
    },
    "q3_top_orders": {
        "require_executed": [("BroadcastHashJoin", 2)],
        "forbid_scaling_hints": True,
        # top-k must be the distributed partial top-k, never a global
        # single-partition sort/window over the full aggregate
        "require": ["TakeOrderedAndProject"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 0,
    },
    "q10_returned_items": {
        "require_executed": [("BroadcastHashJoin", 2)],
        "forbid_scaling_hints": True,
        "require": ["TakeOrderedAndProject"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 0,
    },
    "q5_local_supplier": {
        "require_executed": [("BroadcastHashJoin", 4)],
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "wordcount": {
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
    },
    # NB: document queries carry +1 RoundRobin Exchange from the
    # small-file scan rebalance (sources.registry.rebalance_small_scan) —
    # a local-test artifact that is a no-op on a many-split production
    # scan. The keyed-shuffle budget below is the real invariant.
    "doc_fingerprint": {
        "max_exchanges": 1,  # pure projection (+ rebalance)
        "forbid": ["CartesianProduct"],
    },
    "minhash_signatures": {
        "max_exchanges": 1,  # narrow signature computation (+ rebalance)
        "forbid": ["CartesianProduct"],
    },
    "exact_dedup": {
        "partial_agg": True,
        "max_exchanges": 2,  # content-hash shuffle (+ rebalance)
        "forbid": ["CartesianProduct"],
    },
    # min(struct) has a struct aggregation buffer → Spark can only plan
    # SortAggregate; partial+final sort-agg still combines map-side,
    # which is the invariant that matters (see the operator docstring)
    "paragraph_dedup": {
        "partial_agg": True,
        "partial_agg_kind": "sort",
        "max_exchanges": 2,  # paragraph-hash shuffle (+ rebalance)
        "forbid": ["CartesianProduct"],
    },
    "simhash": {
        "partial_agg": True,
        "max_exchanges": 2,  # (doc_id, 48 votes) shuffle (+ rebalance)
        "forbid": ["CartesianProduct"],
    },
    "semi_join_big_spenders": {
        "require": ["LeftSemi"],
        "forbid": ["CartesianProduct"],
    },
    "anti_join_customers": {
        "require": ["LeftAnti"],
        "pushed_filters": ["o_orderdate"],
        "forbid": ["CartesianProduct"],
    },
    "tumbling_window_counts": {
        "partial_agg": True,
        "max_exchanges": 1,
        "forbid": ["CartesianProduct"],
    },
    # the two inequality-style joins: the whole point of their union/
    # bucket formulations is that NO nested-loop join appears
    "asof_join_orders": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "range_join_shipments": {
        "require": ["SortMergeJoin"],  # bucket equi-join, shuffled
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q17_small_quantity": {
        "require_executed": [("BroadcastHashJoin", 2)],
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q14_promo_revenue": {
        "require_executed": [("BroadcastHashJoin", 1)],
        "forbid_scaling_hints": True,
        "pushed_filters": ["l_shipdate"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q18_large_orders": {
        "require_executed": [("BroadcastHashJoin", 2)],
        "forbid_scaling_hints": True,
        "require": ["TakeOrderedAndProject"],
        "partial_agg": True,  # quantity rollup combines map-side
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 0,
    },
    # the OR'd brand/size/quantity bands must stay ONE equi-join on
    # partkey with the disjunction as a filter — never a plan split or
    # nested-loop fallback
    "q19_disjunctive_revenue": {
        "require_executed": [("BroadcastHashJoin", 1)],
        "forbid_scaling_hints": True,
        # CNF extraction (PushExtraPredicateThroughJoin) pushes the
        # per-band disjunction (1..11 OR 10..20 OR 20..30) on l_quantity
        "pushed_filters": ["l_quantity"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # the outer join must stay an equi-join on custkey with the orders
    # side PRE-AGGREGATED (count per custkey before the join), and both
    # count layers must combine map-side
    "q13_customer_distribution": {
        "forbid_scaling_hints": True,
        "pushed_filters": ["o_orderpriority"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # the double-correlated EXISTS/NOT-EXISTS is decorrelated into
    # per-order distinct-supplier counts: one orderkey equi-join chain,
    # supplier⋈nation broadcast, distributed top-k — never a correlated
    # re-scan per row, never a nested loop
    "q21_suppliers_kept_waiting": {
        "require_executed": [("BroadcastHashJoin", 4)],
        "forbid_scaling_hints": True,
        "require": ["TakeOrderedAndProject"],
        "pushed_filters": ["o_orderstatus"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 0,
    },
    # the scalar-avg subquery is a 1-row broadcast cross (the ONE place
    # BroadcastNestedLoopJoin is the correct plan — its build side is a
    # single aggregate row); the NOT EXISTS must be a LeftAnti equi-join
    # with the date filter pushed to the orders scan
    "q22_global_sales_opportunity": {
        "forbid_scaling_hints": True,
        "require": ["LeftAnti"],
        "pushed_filters": ["o_orderdate"],
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
    },
    # the decorrelated min-cost subquery: pair rollup combines map-side,
    # every dim (part, supplier⋈nation⋈region) broadcasts, and top-k is
    # distributed — the window min runs over already-aggregated pairs
    "q2_min_cost_supplier": {
        "require_executed": [("BroadcastHashJoin", 3)],
        "forbid_scaling_hints": True,
        "require": ["TakeOrderedAndProject"],
        "pushed_filters": ["p_type"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # both nation dims broadcast pre-filtered; the only shuffle join is
    # lineitem⋈orders on orderkey; shipdate window pushed to the scan
    "q7_nation_volume": {
        "require_executed": [("BroadcastHashJoin", 4)],
        "forbid_scaling_hints": True,
        "pushed_filters": ["l_shipdate"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # five-table join where every dim side broadcasts (part pre-filtered
    # by type, customer pre-joined to region); the conditional share
    # ratio is ONE aggregate pass — no second scan of the join
    "q8_market_share": {
        "require_executed": [("BroadcastHashJoin", 6)],
        "forbid_scaling_hints": True,
        "pushed_filters": ["p_type"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # name LIKE filter must reach the part scan (StringContains); dims
    # broadcast; single orderkey shuffle; nation×year rollup partial
    "q9_product_profit": {
        "require_executed": [("BroadcastHashJoin", 3)],
        "forbid_scaling_hints": True,
        "pushed_filters": ["p_name"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # the HAVING-over-global-total: per-part rollup partial-aggs, the
    # total is a 1-row broadcast cross back into the filter (the one
    # legitimate BroadcastNestedLoopJoin), never a lineitem re-scan
    "q11_important_parts": {
        "require_executed": [("BroadcastHashJoin", 2)],
        "forbid_scaling_hints": True,
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
    },
    # conditional double-count in one aggregate pass over one orderkey
    # equi-join; the ship-window reaches the lineitem scan
    "q12_late_by_returnflag": {
        "forbid_scaling_hints": True,
        "pushed_filters": ["l_shipdate"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # revenue view computed ONCE (suppkey partial agg); scalar max is a
    # 1-row broadcast cross; supplier dim equi-joins — no re-scan of
    # lineitem for the max
    "q15_top_supplier": {
        "require_executed": [("BroadcastHashJoin", 2)],
        "forbid_scaling_hints": True,
        "pushed_filters": ["l_shipdate"],
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
    },
    # nested-IN decorrelated: part keys broadcast into the year-filtered
    # scan, pair rollup and per-part total share a partkey shuffle, and
    # the supplier membership is an equi-(semi-)join — no correlated
    # re-scan, no nested loop
    "q20_excess_suppliers": {
        "require_executed": [("BroadcastHashJoin", 3)],
        "forbid_scaling_hints": True,
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # per-step min-aggs chained through user_id equi-joins — no window
    # over raw events, no nested loop
    "ordered_funnel": {
        "partial_agg": True,
        "pushed_filters": ["event_type"],
        "forbid": ["CartesianProduct", "Window"],
    },
    # the (user, day) grid distinct + N-day fan-out + end-day distinct
    # count; the bounds cross is a 1-row broadcast
    "rolling_active_users": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Window"],
    },
    "retention_cohorts": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    },
    # incremental new×index dedup: ONE signature pass split after (no
    # second tokenize), band equi-join (never self-join or cross), and
    # the per-new-doc rollup partial-aggs
    "incremental_dedup": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # score-corpus-against-model: the LM build and prefix re-aggregation
    # both partial-agg; the scoring join is a keyed equi-join — never a
    # nested loop, and the corpus is scanned for bigrams, not re-scanned
    # per model row
    "lm_perplexity": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # the frequent-span table GROWS with the corpus (common 3-grams
    # recur in >= min_docs documents almost surely at web scale), so a
    # mandatory broadcast of it is an OOM at 100 TB: the membership
    # semi-join must carry NO broadcast hint — AQE may still choose
    # broadcast at runtime when the table measures small, which is the
    # correct adaptive behavior. The DF count partial-aggs over the
    # exploded-distinct occurrences.
    "boilerplate_spans": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "forbid_logical": ["strategy=broadcast"],
    },
    # COUNT(DISTINCT) must plan as the two-phase distinct aggregate:
    # partial dedup on (group, suppkey) BEFORE the shuffle, then the
    # distinct count — never a per-group collect_set. (Expand would
    # only appear with mixed distinct/non-distinct aggregates.)
    "q16_supplier_parts": {
        "require_executed": [("BroadcastHashJoin", 1)],
        "forbid_scaling_hints": True,
        "require": ["partial_count(distinct"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "collect_set"],
    },
    # the sketch-decile scale path must never fall back to the exact
    # form's global sort: no window, no full-data sort anywhere (the
    # only single-partition exchange is the one-sketch-row-per-partition
    # percentile merge, which is O(partitions), not O(rows))
    "value_deciles_approx": {
        "partial_agg": True,
        "forbid": ["Window", ") Sort"],  # substring match: any Sort detail node
    },
    # the repartition(1) VERIFICATION twin (deterministic single-sketch
    # form for the hash oracle — not a scale path): the one deliberate
    # single-partition exchange feeds the sketch; everything else must
    # stay identical to the scale form — no window, no sort fallback
    "value_deciles_approx_seq": {
        "partial_agg": True,
        "forbid": ["Window", ") Sort"],
    },
    # the live-sketch certificate: same scale envelope as the approx
    # form it certifies — sketch agg + broadcast 1-row join + one
    # partial+final counting aggregate; never a sort or window
    "value_deciles_bounds": {
        "partial_agg": True,
        "forbid": ["Window", ") Sort", "CartesianProduct"],
    },
    # global top-k tokens: vocabulary count must combine map-side and
    # the top-k must be the distributed partial form (the Window that
    # derives rk only ever sees the k post-limit rows)
    "heavy_hitters": {
        "partial_agg": True,
        "require": ["TakeOrderedAndProject"],
        "forbid": ["CartesianProduct"],
    },
    # per-language top-k: the window partitions by lang — a global
    # single-partition exchange would mean the partitionBy was lost
    "bigram_stats": {
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
        "max_single_partition": 0,
    },
    # stratified sampling: stratum rates must broadcast back onto the
    # corpus scan; a shuffle join here would move the corpus to move a
    # |strata|-row table
    "stratified_sample": {
        "require": ["BroadcastHashJoin"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # mixture allocation: the single-row normalizers must broadcast —
    # nested-loop on a 1-row build side is the intended plan; what must
    # never appear is a shuffle join or a window over the corpus
    "corpus_mixture": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window"],
    },
    # Gopher rule filter: a pure narrow projection — built-ins only, no
    # shuffle beyond the small-file rebalance, no window, no join
    "gopher_rules": {
        "max_exchanges": 1,  # rebalance only
        "forbid": ["CartesianProduct", "Window", "Join"],
    },
    # per-doc repetition metrics: two doc-keyed partial+final aggs; a
    # window or single-partition exchange would mean the per-doc keying
    # was lost
    "repetition_stats": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Window"],
        "max_single_partition": 0,
    },
    # decontamination: the benchmark shingle side must BROADCAST onto
    # the corpus scan — a shuffle join would move the 100 TB corpus to
    # meet an MMLU-sized eval set
    "benchmark_overlap": {
        "require": ["BroadcastHashJoin"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # tf-idf: the per-doc top-k window must PARTITION by doc_id, and the
    # corpus-size side must broadcast (nested-loop on a 1-row build side
    # is the intended plan) — never a shuffle join for a single row
    "tf_idf": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        # exactly one single-partition exchange is legitimate: the
        # global n_docs aggregate merges O(partitions) partial rows
        "max_single_partition": 1,
    },
    # inverted index: distinct + posting-list aggregation, both keyed —
    # no window, no single-partition collapse
    "inverted_index": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Window"],
        "max_single_partition": 0,
    },
    # PII scrub: a pure narrow regexp projection — no join, no window,
    # no shuffle beyond the small-file rebalance
    "pii_scrub": {
        "max_exchanges": 1,  # rebalance only
        "forbid": ["CartesianProduct", "Window", "Join"],
    },
    # context-window chunking: tokenize → explode → slice is a pure
    # narrow fan-out — no shuffle beyond the rebalance, no window, no
    # join; at 100 TB this must stay a scan-bound map
    "chunk_documents": {
        "max_exchanges": 1,  # rebalance only
        "forbid": ["CartesianProduct", "Window", "Join"],
    },
    # sequence packing: ONE keyed shuffle on shard; the cumulative-sum
    # window partitions by shard and the (shard, seq_id) aggregate
    # reuses that partitioning (shard ⊆ group keys) — a second keyed
    # exchange or a global window would mean per-shard packing was lost
    "pack_training_sequences": {
        "require": ["Window"],
        "max_exchanges": 2,  # rebalance + shard hash
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # winnowing: the sliding-min window must stay PARTITIONED by doc_id
    # — a single-partition exchange would serialize the whole gram
    # stream through one task
    "winnow_fingerprints": {
        "require": ["Window"],
        "partial_agg": True,  # the distinct over (doc_id, fp)
        "forbid": ["CartesianProduct"],
        "max_single_partition": 0,
    },
    # window-hash substring dedup: the fan-out is narrow; duplicate
    # detection is a partial+final agg on the window hash; the interval
    # union is a doc_id-partitioned window — never a global sort
    "duplicate_spans": {
        "require": ["Window"],
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
        "max_single_partition": 0,
    },
    # -- round-13: span-level decontamination (13-gram collisions) --
    # the benchmark hash set must BROADCAST (the train side never
    # shuffles for the membership join); coverage union is the
    # duplicate_spans doc-keyed window; rollup reuses its partitioning
    "contamination_spans": {
        "require": ["BroadcastHashJoin", "Window"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_single_partition": 0,
    },
    # -- round-14: standing-index decontamination — same plan contract
    # as contamination_spans (index broadcasts, batch never shuffles
    # for the join), with the index side a persisted bucketed table
    "contamination_against_index": {
        "require": ["BroadcastHashJoin", "Window"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_single_partition": 0,
    },
    # -- round-14: ANN served from the persisted IVF+PQ index — the
    # lists scan must carry the cell partition filter (probed
    # directories only; at production centroid counts that is the
    # entire scan reduction), and the shortlist rerank must broadcast
    "knn_against_index": {
        "require": ["PartitionFilters: [cent#", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # DSIR: the per-bucket log-ratio table (<= 1024 rows) must come
    # back as a BROADCAST join onto the token stream — a shuffled join
    # would re-partition the whole corpus by bucket for nothing
    "dsir_weights": {
        "require": ["BroadcastHashJoin"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        # the corpus-total aggregate is a 1-row global agg (partial
        # map-side, final on one task) — bounded by construction
        "max_single_partition": 1,
    },
    # importance sampler: the (N, W) totals are a 1-row global agg
    # broadcast back onto the scored corpus (static maxRows=1 — the
    # structural hint gate validates it); the inclusion decision is a
    # decimal multiply-compare filter, never a shuffle of the corpus
    "weighted_sample": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window"],
        "max_single_partition": 1,
    },
    # budget sampler: ONE keyed shuffle into (lang, bucket) windows;
    # no join, no global sort
    "token_budget_sample": {
        "require": ["Window"],
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # GROUPING SETS must plan as ONE Expand + partial+final aggregate —
    # never a union of per-set re-scans (no Join, one keyed exchange)
    "grouping_sets_revenue": {
        "require": ["Expand"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join", "Union"],
        "max_single_partition": 0,
    },
    # full outer: both sides must pre-aggregate to user cardinality
    # BEFORE the join (partial+final agg), and the join itself is the
    # shuffled full-outer — never a nested-loop fallback
    "full_outer_user_activity": {
        "require": ["FullOuter"],
        "partial_agg": True,
        "pushed_filters": ["event_type"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # PageRank: per-iteration rank joins are hash equi-joins on the
    # checkpointed edge table; nothing nested-loop, nothing collected
    "pagerank_dedup_graph": {
        "partial_agg": True,
        "forbid": ["CartesianProduct"],
    },
    # VARIANT extraction is a narrow scan + one partial agg; a Join or
    # Window would mean the parse-once path got lost
    "variant_props_stats": {
        "partial_agg": True,
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "Join", "Window"],
    },
    # single-pass mergeable moments — same envelope as a sum
    "regression_stats": {
        "partial_agg": True,
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "Join", "Window"],
    },
    # the whole governance report is ONE scan + one keyed shuffle (the
    # distinct-agg adds its second phase); no join back to exact_dedup
    "corpus_quality_report": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join", "Window"],
    },
    # one-sided argmax aggregation over a broadcast anchor join — the
    # non-equi join IS the broadcast nested loop (build side = anchors,
    # bounded), but never a cartesian and never a shuffled join
    "hard_negative_mining": {
        # max-of-struct buffers plan as partial+final SortAggregate
        # (same map-side-combine invariant; see paragraph_dedup)
        "partial_agg": True,
        "partial_agg_kind": "sort",
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "map_funcs_showcase": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join"],
    },
    # BM25: the term filter must hit the exploded token stream before
    # any shuffle, idf/avgdl broadcast back, and the final top-k is
    # the distributed TakeOrdered — never a global sort of all scores
    "bm25_search": {
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # classifier inference is a pure narrow scan — any join or extra
    # shuffle means the featurization lost its single-pass shape
    "quality_classifier": {
        "max_exchanges": 1,  # rebalance only
        "forbid": ["CartesianProduct", "Join", "Window"],
    },
    # k-anonymity: two-phase distinct aggregate (map-side user dedup
    # before the shuffle), no join anywhere
    "k_anonymity_audit": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # SymSpell linkage: candidates must come from the variant-hash
    # EQUI-join (narrow deletion fan-out on each side) — an all-pairs
    # name comparison would appear as a nested-loop/cartesian; the
    # argmin is a (sort-)aggregate on min-of-struct buffers
    "fuzzy_customer_links": {
        "partial_agg": True,
        "partial_agg_kind": "sort",
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # Markov transitions: the lead() window partitions by user_id and
    # the probability normalizer windows over the tiny aggregate — no
    # join, no global window
    "event_transition_matrix": {
        "require": ["Window"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # BPE pair counts: narrow pair fan-out + one (lang, pair) partial
    # agg; the top-k window partitions by lang
    "bpe_pair_counts": {
        "require": ["Window"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # sparse similarity: posting self-join is an equi-join on the gram
    # hash with the hot-posting df cap applied BEFORE it; global top-k
    # must plan as distributed TakeOrdered, never a global sort
    "sparse_doc_similarity": {
        "require": ["TakeOrderedAndProject"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # HTML extraction: one narrow regexp scan — no shuffle past the
    # rebalance, no join, no window; anything else means the
    # whole-stage-codegen single-pass shape was lost
    "html_boilerplate_strip": {
        "max_exchanges": 1,  # rebalance only
        "forbid": ["CartesianProduct", "Join", "Window"],
    },
    # inter-arrival timing: one user-keyed window, mergeable-moment
    # partial agg, no join, no global window
    "interarrival_stats": {
        "require": ["Window"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # the Python Data Source roundtrip: wordcount over the keyedtext
    # reader must still partial-agg map-side (the token count combines
    # before the shuffle even though the scan is a Python source)
    "keyedtext_wordcount": {
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join"],
    },
    # exact-k sample: ONE stratum-keyed exchange; WindowGroupLimit
    # prunes each stratum to its local top-k before the final rank —
    # no stratum's membership sorts through one task
    "fixed_k_sample": {
        "require": ["WindowGroupLimit"],
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # robust outlier screen: exact medians are per-type
    # ObjectHashAggregates (partial+final — map-side combine on the
    # percentile buffers), joins key on the bounded type domain, no
    # cartesian/global stage
    "mad_outliers": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 0,
    },
    # lang-ID eval: classifier is a narrow scan; the label join is a
    # doc_id equi-join of two projections of ONE table; the matrix agg
    # partial+finals and the normalizer windows over the tiny matrix
    "lang_id_confusion": {
        "require": ["Window"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 0,
    },
    # hashing-trick featurization: a pure narrow projection + ONE
    # (doc, bucket) partial+final agg — no join, no window, no vocab
    # build pass anywhere
    "hashed_features": {
        "partial_agg": True,
        "max_exchanges": 2,  # rebalance + (doc, bucket) hash
        "forbid": ["CartesianProduct", "Join", "Window"],
        "max_single_partition": 0,
    },
    # k-means summary plan (final assignment onward): the per-cluster
    # stats are a map-side-combined partial agg over the Arrow
    # assignment pass (the MapInPandas itself sits behind the
    # localCheckpoint lineage cut, so it can't be asserted here); the
    # k-row stats/label/norm joins are equi-joins on cluster (k=8
    # fixed — never a nested loop)
    "kmeans_embeddings": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # ingest-volume anomaly screen: ONE corpus-sized (type, day)
    # partial agg; the median/MAD passes and the final join all key
    # on the bounded rollup — no hints, no cartesian
    "volume_anomalies": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # last-touch attribution: the no-join single-scan shape — one
    # user_id window carries the touch state, the share denominator is
    # a window over the aggregated channel table, never a second pass
    # over events (so: exactly one parquet scan, no join of any kind)
    "attribution_last_touch": {
        "require": ["Window"],
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["Join", "CartesianProduct"],
        "max_scans": 1,
    },
    # incremental refresh: same final-plan shape as the cold fit —
    # partial-agg cluster stats over the Arrow assignment, k-row
    # shift join (fixed-size side, no hint needed)
    "kmeans_incremental": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # SemDeDup pruning: per-cluster Arrow pass (FlatMapGroupsInPandas)
    # over the checkpointed assignment; the hot-cluster screen is an
    # unhinted anti/semi join against a k-row aggregate; never a
    # nested loop, no mandatory hints
    "semdedup_prune": {
        "require": ["FlatMapGroupsInPandas"],
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # synchronous LPA: per round ONE label-lookup join + two
    # partial-aggregable agg levels (the argmax is a max over
    # (n, -label) structs, NOT a per-node row_number sort window —
    # that exact variant stays banned by token); lineage cut per
    # round, so the final plan is the ROUND-FREE tail: since r14 the
    # member count is a count window over the final checkpointed
    # labels (one label-keyed exchange) instead of a groupBy +
    # self-join (two exchanges + a join) — so the visible plan has
    # exactly one (count) Window, one Exchange, and NO join
    "lpa_communities": {
        "max_exchanges": 1,
        "require": ["Window"],
        "forbid_scaling_hints": True,
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "SortMergeJoin",
            "BroadcastHashJoin",
            # ban the argmax-by-window family wholesale, not just the
            # literal row_number token: a rank()/dense_rank()/
            # percent_rank() variant is the same per-token sorted
            # window the gate exists to forbid ("rank(" matches all
            # three). The one PERMITTED window is the unordered
            # count-over-cluster frame (count(1) windowspecdefinition,
            # no sort key), which contains none of these tokens.
            "row_number()",
            "rank(",
        ],
    },
    # per-source quality calibration: narrow score projection, one
    # doc_id equi-join, one source-keyed window — no hints, no
    # cartesian (the exact window form is the verification twin of
    # the percentile_approx-cutpoint production form; see docstring)
    "calibrated_quality": {
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 0,
    },
    # session journey mining: one user_id exchange feeds tagging, the
    # step window AND the per-session path aggregate (hash(user_id)
    # satisfies the (user, session) clustering — no second exchange
    # before the path count); top-k is a bounded sort
    "session_paths": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Join"],
        "max_exchanges": 3,  # user_id + path count + 20-row top-k
    },
    # cross-lingual near-dups: the capped embedding pair graph (cell
    # Arrow pass behind FlatMapGroupsInPandas) + two narrow unhinted
    # lang joins — the pair side is tiny, AQE broadcasts at runtime
    "translated_near_dups": {
        "require": ["FlatMapGroupsInPandas"],
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # asymmetric containment: the jaccard-pairs join contract — ONE
    # shingle-hash equi-join behind the checkpoint cut, hot-shingle
    # anti-join on the same key, partial-agg pair counts, no hints
    "containment_pairs": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # snapshot governance diff: each side reduces to (doc_id, source,
    # h64) in its scan — ONE full-outer join on doc_id (8-byte keys,
    # never text), one partial-agg rollup, no hints
    "corpus_snapshot_diff": {
        "require": ["FullOuter"],
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    },
    # correlated LATERAL surface: the per-customer ORDER BY/LIMIT must
    # DECORRELATE — WindowGroupLimit + one equi-join, never the
    # nested-loop per-row re-scan a naive engine would run
    "lateral_topk_orders": {
        "require": ["WindowGroupLimit"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "forbid_scaling_hints": True,
    },
    # prefix-filtered exact set-similarity join: every join is an
    # equi-join (prefix candidates on tok_h, verification on
    # doc/tok keys), pair counts partial-agg, no hints anywhere —
    # the lossless-twin contract of the jaccard family
    "ppjoin_pairs": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # hybrid retrieval: the corpus-sized work is the BM25 stage (term
    # filter pushed to the scan, partial-agg tf, bounded top-k); the
    # checkpoint cut hides it here, so this gate pins the rerank tail:
    # candidate-set windows and the fused top-k only — no cartesian,
    # no nested loop, no mandatory hints (the 64-element query-vector
    # literal is a fixed-size closure constant, not a broadcast)
    "hybrid_search": {
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # per-label centroid drift: ONE (label, pos) partial+final agg
    # over the posexplode; the global side re-aggregates the rollup
    # (no second scan) and joins UNHINTED (d rows — AQE broadcasts);
    # the top-dim window partitions by label
    "embedding_drift": {
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # dedup QA: ground truth and candidates are the two existing pair
    # operators; the audit adds ONE pair-keyed full-outer join and a
    # 1-row aggregate (its single-partition merge + the exact side's
    # bounded final agg are the two legitimate SP stages)
    "dedup_recall_audit": {
        "require": ["FullOuter"],
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_single_partition": 2,
    },
    # source-overlap matrix: the (source, shingle hash) set is
    # localCheckpointed, so the plan after the cut reads it back as
    # Scan ExistingRDD and holds no Python stage (the one shingle
    # Arrow pass sits before the cut; tests/test_plans.py pins it on
    # shingle_arrays' own plan). The overlap self-join keys on the
    # shingle hash (fan-out bounded by the catalog-sized source domain
    # squared — no hot-key cap needed); no hints, no cartesian, no
    # single-partition stage
    "source_overlap_matrix": {
        "require": ["Scan ExistingRDD"],
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "InPandas"],
        "max_single_partition": 0,
    },
    # Monroe log-odds: one tokenize scan feeds every count layer
    # (aggregate-of-aggregate, no second scan); vocabulary joins are
    # UNHINTED; the 1-row corpus total is the only single-partition
    # stage; the top-k window partitions by group (WindowGroupLimit
    # prunes per-partition before the final rank)
    "distinctive_terms": {
        "require": ["WindowGroupLimit"],
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct", "SortMergeJoin"],
        "max_single_partition": 1,
    },
    # BPE corpus encode: ONE Arrow pass (MapInPandas) + per-lang
    # partial+final agg — no join, no window, no single-partition stage
    # (the learn twin returns a driver-built local relation; its
    # distributed half, the word count, is the wordcount gate's shape)
    "bpe_encode_stats": {
        "require": ["MapInPandas"],
        "partial_agg": True,
        "max_exchanges": 2,  # rebalance + lang hash
        "forbid": ["CartesianProduct", "Join", "Window"],
        "max_single_partition": 0,
    },
    # native session windows: the dedicated MergingSessions operator
    # (sort + in-partition window merge) behind ONE user-keyed
    # exchange — no join, no global window, no single-partition stage
    "session_window_stats": {
        "require": ["MergingSessions"],
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "Join", "Window"],
        "max_single_partition": 0,
    },
    # incremental maintenance: two pruned scans -> partial states ->
    # Union -> merge re-aggregation; every layer partial-aggs and the
    # merge is user-keyed (no join, no window, no global stage)
    "incremental_user_rollup": {
        "require": ["Union"],
        "partial_agg": True,
        "forbid": ["CartesianProduct", "Join", "Window"],
        "max_single_partition": 0,
    },
    # PMI: unigram/bigram rollups partial-agg; the vocabulary joins are
    # UNHINTED equi-joins (AQE broadcasts at test scale — the no-forced-
    # broadcast doctrine); the two corpus totals are the only legitimate
    # single-partition stages (1-row aggregates); global top-k is the
    # distributed TakeOrdered
    "pmi_collocations": {
        "require": ["TakeOrderedAndProject"],
        "partial_agg": True,
        "forbid_scaling_hints": True,
        "forbid": ["CartesianProduct"],
        "max_single_partition": 2,
    },
    # MERGE apply: ONE full-outer equi-join on the merge key + a
    # narrow conditional projection — never a per-clause re-join or a
    # nested loop
    "merge_upsert_customers": {
        "require": ["FullOuter"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    },
    # SCD2 history: both windows share the (user_id | ts, event_id)
    # ordering so ONE user-keyed exchange serves them (+ rebalance);
    # no join, no single-partition window
    "scd2_user_state": {
        "require": ["Window"],
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "Join"],
        "max_single_partition": 0,
    },
    # -- round-10: URL/domain governance --
    # canonicalization is pure row-level JVM regexp rewriting: one
    # scan, rebalance only, no join/window/agg, no Python exchange
    "url_canonicalize": {
        "max_scans": 1,
        "max_exchanges": 1,  # rebalance only
        "forbid": ["CartesianProduct", "Join", "Window", "HashAggregate", "InPandas", "EvalPython"],
        "max_single_partition": 0,
    },
    # registered-domain rollup: one scan feeding the standard two-phase
    # distinct aggregate (partial dedup on (domain, source) BEFORE the
    # shuffle, then the domain rollup) — the blocked flag is a literal
    # IN, never a join
    "domain_rollup": {
        "max_scans": 1,
        "max_exchanges": 3,  # rebalance + (domain, source) + domain
        "partial_agg": True,
        "require": ["partial_count(distinct"],
        "forbid": ["CartesianProduct", "Join", "Window", "collect_set"],
        "max_single_partition": 0,
    },
    # blocklist admission filter: the blocklist dim is catalog-bounded
    # (LocalRelation, statically sized), so the LEFT ANTI join must
    # broadcast it — the corpus side never shuffles beyond rebalance
    "blocklist_filter": {
        "max_scans": 1,
        "max_exchanges": 1,  # rebalance only; blocklist ships broadcast
        "require_executed": [("BroadcastHashJoin", 1)],
        "require": ["LeftAnti"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin", "Window"],
        "max_single_partition": 0,
    },
    # -- round-11: provenance manifest + e2e certification + PSL --
    # PSL registered-domain rollup: corpus scan → bounded ≤12× explode
    # → broadcast LEFT join against the rules dim → ONE doc_id-keyed
    # resolve aggregate → domain rollup. NO join back to the corpus
    # (the resolve agg carries the payload), so exchanges are exactly
    # rebalance + doc_id + the two distinct-agg phases.
    "domain_rollup_psl": {
        "max_scans": 1,
        "max_exchanges": 4,
        "require_executed": [("BroadcastHashJoin", 1)],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
                   "Window", "InPandas", "EvalPython"],
        "max_single_partition": 0,
    },
    # provenance manifest: the LSH cluster subtree is canonical_docs'
    # (audited there); the manifest itself must add only doc_id-keyed
    # equi-joins of already-reduced sides — never a nested loop, a
    # cartesian expansion, or a Python exchange
    # scan budget = the 5 honest passes over documents (synth URLs,
    # old-side hash, synth next-crawl hash, quality, shingles); the
    # single Window is canonical selection's per-cluster row_number
    "doc_provenance": {
        "max_scans": 5,
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "InPandas", "EvalPython"],
    },
    # e2e certification: composed dedup pipeline reduced to two 1-row
    # aggregates; the ONLY nested loop allowed is the blessed 1-row
    # broadcast stack source (verified by the static-bound check the
    # scaling-hint audit applies), so forbid cartesian + Python paths
    # and require the final stack Generate.
    # The (doc_id, content_hash, quality) pre-pass is localCheckpointed
    # and the cluster labels arrive as a built relation, so both read
    # back as Scan ExistingRDD; exact dedup groups the checkpointed
    # hash. The one parquet scan left is the input-total count(*),
    # pruned to doc_id
    "corpus_dedup_e2e": {
        "max_scans": 1,
        "require": ["Generate"],
        "forbid": ["CartesianProduct", "InPandas", "EvalPython"],
        "forbid_scaling_hints": True,
    },
    # -- full-pipeline ingest certification --
    # one localCheckpointed flag relation (doc_id, the three row-level
    # admission flags, content_hash, quality) feeds the admission
    # counts, the exact-dedup groupBy and canonical_docs' quality; the
    # cluster labels arrive as a built relation. Every input therefore
    # reads back as Scan ExistingRDD and the visible plan scans no
    # parquet at all; certification layer is two 1-row aggregates +
    # the blessed 1-row broadcast stack source
    "corpus_ingest_e2e": {
        "max_scans": 0,
        "require": ["Generate"],
        "forbid": ["CartesianProduct", "InPandas", "EvalPython"],
        "forbid_scaling_hints": True,
    },
    # -- round-12: video scene-cut detection --
    # a video's frames are adjacent bytes in one payload, so synth,
    # decode, dHash, and the consecutive-distance scan are all
    # row-local: ONE scan, rebalance only, two chained Arrow passes,
    # no join/window/aggregate, no single-partition stage
    "video_scene_cuts": {
        "max_scans": 1,
        "max_exchanges": 1,  # rebalance only
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct", "Join", "Window", "HashAggregate"],
        "max_single_partition": 0,
    },
    # -- round-13: per-shot keyframe sampling — same row-local shape as
    # video_scene_cuts (decode/hash/cut/segment all inside one payload
    # row): ONE scan, rebalance only, no join/window/aggregate
    "video_shot_frames": {
        "max_scans": 1,
        "max_exchanges": 1,  # rebalance only
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct", "Join", "Window", "HashAggregate"],
        "max_single_partition": 0,
    },
    # -- round-12: parquet aggregate pushdown --
    # COUNT/MIN/MAX answered from row-group footers: the scan must be
    # a DSv2 BatchScan carrying PushedAggregation (all-or-nothing — if
    # ANY aggregate failed to push, the marker disappears), and the
    # only post-scan work is merging one pre-aggregated row per split
    # (the single legitimate SinglePartition stage). No join, no
    # window, no Python, no shuffle beyond that 1-row merge.
    "lineitem_footer_stats": {
        "require": ["PushedAggregation", "BatchScan"],
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "Join", "Window", "InPandas", "EvalPython"],
        "max_single_partition": 1,
    },
    # -- round-13: the grouped pushdown leg --
    # per-partition-value stats from a Hive layout's footers: the scan
    # must carry BOTH PushedAggregation and PushedGroupBy (grouping by
    # a DATA column would drop both and full-scan); post-scan work is
    # one hash exchange merging per-split pre-aggregated rows by group
    # key — #groups × #splits rows, never data rows
    "events_partition_stats": {
        "require": ["PushedAggregation", "PushedGroupBy", "BatchScan"],
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "Join", "Window", "InPandas", "EvalPython"],
        "max_single_partition": 0,
    },
}


#: every column of the two fixed-cardinality TPC-H dimensions (nation =
#: 25 rows, region = 5 — constant at every SF). A broadcast-hinted side
#: whose OWN output attributes all come from this set cannot grow.
_FIXED_DIM_COLS = frozenset(
    ["n_nationkey", "n_name", "n_regionkey", "n_comment", "r_regionkey", "r_name", "r_comment"]
)

#: a hinted side whose static maxRows bound is at most this is
#: corpus-independent by construction (scalar aggregates, VALUES
#: literals, range(k) domain tables, top-k Limits).
_MAX_STATIC_HINT_ROWS = 4096


def _node_is_fixed(node) -> bool:
    """A single plan node is corpus-independent by itself: Catalyst
    proves a static row bound (global aggregates → 1, LocalRelation /
    Range / Limit → their literal size) ≤ 4096, or its output columns
    are all base nation/region attributes."""
    mr = node.maxRows()
    if mr.isDefined() and int(mr.get()) <= _MAX_STATIC_HINT_ROWS:
        return True
    out = node.output()
    names = [out.apply(i).name() for i in range(out.size())]
    return bool(names) and all(n in _FIXED_DIM_COLS for n in names)


def _hinted_side_ok(side) -> bool:
    """True iff broadcasting this optimized-logical subtree is safe at
    any SF: (a) the subtree as a whole has a static row bound ≤ 4096,
    or (b) EVERY LEAF relation under it is itself fixed — a nation/
    region base scan (original n_*/r_* columns) or a statically
    bounded relation. Checking the LEAVES, not the subtree's output
    schema, is what defeats column-name smuggling: a corpus-sized
    customer⋈nation projected down to n_name (or customer with
    c_name aliased to n_name) still has a customer LEAF whose own
    output is c_* — flagged (round-8 reviewer finding). Only the
    STATIC ROW BOUND may be checked on the subtree as a whole; the
    column-name rule is meaningful solely at leaves, where names are
    the base relation's own."""
    mr = side.maxRows()
    if mr.isDefined() and int(mr.get()) <= _MAX_STATIC_HINT_ROWS:
        return True
    stack, seen = [side], 0
    while stack:
        seen += 1
        if seen > 10_000:
            return False
        node = stack.pop()
        kids = node.children()
        if kids.size() == 0:
            if not _node_is_fixed(node):
                return False
        else:
            for i in range(kids.size()):
                stack.append(kids.apply(i))
    return True


def scaling_hint_lines(df: DataFrame) -> list[str]:
    """Mandatory broadcast hints in the optimized logical plan whose
    hinted side could grow with the corpus — a 100 TB executor OOM.

    Round-7 advisor fix: instead of substring-matching whole plan lines
    (which let a forced broadcast of e.g. a customer⋈nation output pass
    because the join CONDITION mentioned n_nationkey), this walks the
    JVM logical tree, finds each Join's leftHint/rightHint with
    strategy=broadcast, and validates the HINTED SIDE ITSELF via
    :func:`_hinted_side_ok` — its own static maxRows bound or its own
    output schema, never the join condition."""
    root = df._jdf.queryExecution().optimizedPlan()
    bad: list[str] = []
    stack = [root]
    seen = 0
    while stack and seen < 100_000:
        node = stack.pop()
        seen += 1
        if node.getClass().getSimpleName() == "Join":
            hint = node.hint()
            for opt, side, tag in (
                (hint.leftHint(), node.left(), "left"),
                (hint.rightHint(), node.right(), "right"),
            ):
                if not opt.isDefined():
                    continue
                strat = opt.get().strategy()
                if not strat.isDefined() or "broadcast" not in strat.get().toString().lower():
                    continue
                if not _hinted_side_ok(side):
                    out = side.output()
                    names = [out.apply(i).name() for i in range(min(6, out.size()))]
                    bad.append(
                        f"broadcast hint on unbounded {tag} side "
                        f"[{side.getClass().getSimpleName()} -> {', '.join(names)}]"
                    )
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
        try:  # hints inside scalar/IN subquery plans count too
            subs = node.subqueries()
            for i in range(subs.size()):
                stack.append(subs.apply(i))
        except Exception:
            pass
    if stack:
        # fail LOUDLY: hints beyond the node budget were never checked,
        # so the partial walk must not read as clean (r8 advisor)
        bad.append(
            f"plan walk truncated at {seen} nodes with {len(stack)} subtrees "
            f"unvisited — broadcast hints beyond the cutoff are UNCHECKED"
        )
    return bad


def audit_one(name: str, df: DataFrame, exp: dict) -> list[str]:
    """Return a list of failure strings (empty = pass)."""
    plan = plan_str(df)
    fails: list[str] = []
    for s in exp.get("require", []):
        if s not in plan:
            fails.append(f"missing required node {s!r}")
    if exp.get("forbid_scaling_hints"):
        for line in scaling_hint_lines(df):
            fails.append(f"mandatory broadcast hint on a non-fixed side: {line[:120]}")
    if "require_executed" in exp:
        # Execute the query (bounded result at audit scale), then read
        # the AQE-final plan: this distinguishes "AQE chose broadcast at
        # runtime from measured sizes" (the behavior we pin) from a
        # compile-time plan that merely estimated one. collect() runs
        # THIS dataset's own QueryExecution, so executedPlan() below is
        # the adaptively re-planned physical plan of this exact query.
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        if "isFinalPlan=true" not in executed:
            fails.append("executed plan is not an AQE final plan")
        # an executed AdaptiveSparkPlan prints "== Final Plan ==" then
        # "== Initial Plan ==" — check the final section only, else the
        # (pre-adaptive) initial plan double-counts nodes
        final = executed.split("== Initial Plan ==")[0]
        for s in exp["require_executed"]:
            if isinstance(s, tuple):
                node, n_min = s
                n = final.count(node)
                if n < n_min:
                    fails.append(f"{n} {node!r} in EXECUTED plan < required {n_min}")
            elif s not in final:
                fails.append(f"missing {s!r} in EXECUTED (AQE-final) plan")
    for s in exp.get("forbid", []):
        if s in plan:
            fails.append(f"forbidden node {s!r} present")
    if "forbid_logical" in exp:
        # mandatory-strategy hints survive into the OPTIMIZED logical
        # plan as Join ...Hint=(strategy=broadcast) — the physical plan
        # can't distinguish "AQE chose broadcast at runtime" (fine)
        # from "the code forces broadcast at any scale" (a 100 TB OOM)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        for s in exp["forbid_logical"]:
            if s in logical:
                fails.append(f"forbidden logical-plan marker {s!r} present (mandatory hint)")
    if "max_scans" in exp:
        n = len(_scan_blocks(plan))
        if n > exp["max_scans"]:
            fails.append(f"{n} source scans > allowed {exp['max_scans']} (self-union re-scan?)")
    if "pushed_filters" in exp:
        blocks = _scan_blocks(plan)
        pushed = " ".join(
            m for b in blocks for m in re.findall(r"PushedFilters: \[(.*?)\]", b)
        )
        for col in exp["pushed_filters"]:
            if col not in pushed:
                fails.append(f"filter on {col!r} not pushed to scan (PushedFilters: [{pushed}])")
    if "read_schema_max_cols" in exp:
        blocks = _scan_blocks(plan)
        for b in blocks:
            m = re.search(r"ReadSchema: struct<(.*?)>", b, re.S)
            if m:
                ncols = len([c for c in m.group(1).split(",") if ":" in c])
                if ncols > exp["read_schema_max_cols"]:
                    fails.append(
                        f"scan reads {ncols} cols > {exp['read_schema_max_cols']} (pruning lost)"
                    )
    if exp.get("partial_agg"):
        # count numbered DETAIL nodes only — formatted explain renders
        # every node twice (tree + detail), so a bare substring count
        # can never distinguish final-only from partial+final.
        # partial_agg_kind "sort" opts in to SortAggregate pairs for the
        # rare aggregates whose buffer HashAggregate cannot hold (e.g.
        # min-of-struct); the default rejects them so an accidental
        # sort-agg fallback on a primitive aggregate still fails loudly.
        kind = exp.get("partial_agg_kind", "hash")
        pat = r"\(\d+\) SortAggregate" if kind == "sort" else r"\(\d+\) \w*HashAggregate"
        n_agg = len(re.findall(pat, plan))
        if n_agg < 2:
            fails.append(f"expected partial+final {kind} aggregate, found {n_agg} aggregate nodes")
    if "max_exchanges" in exp:
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        # AQE wraps plans; count physical Exchange nodes only
        if n_ex > exp["max_exchanges"]:
            fails.append(f"{n_ex} Exchange nodes > allowed {exp['max_exchanges']}")
    if "max_single_partition" in exp:
        # formatted explain prints the Exchange node name and its
        # "Arguments: SinglePartition, ..." on separate lines, so a
        # "Exchange SinglePartition" substring can never match — count
        # the partitioning argument itself instead
        n_sp = plan.count("SinglePartition")
        if n_sp > exp["max_single_partition"]:
            fails.append(
                f"{n_sp} SinglePartition exchanges > allowed {exp['max_single_partition']}"
            )
    return fails


def audit_all(spark, sf_dir: str) -> dict[str, list[str]]:
    from gomapreduce_spark.queries import QUERIES

    results: dict[str, list[str]] = {}
    for name, exp in AUDITS.items():
        df = QUERIES[name](spark, sf_dir)
        results[name] = audit_one(name, df, exp)
    return results


def main() -> int:
    from gomapreduce_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    results = audit_all(spark, sf_dir)
    n_fail = 0
    for name, fails in results.items():
        if fails:
            n_fail += 1
            print(f"FAIL {name}")
            for f in fails:
                print(f"     - {f}")
        else:
            print(f"PASS {name}")
    print(f"== {len(results) - n_fail} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
