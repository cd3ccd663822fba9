"""Deduplication family over the ``documents`` table: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Driver-mandated extensions (the reference has no dedup of any kind).
All variants use the cross-engine md5 hash (functions.hashing) so every
stage is verifiable against a DuckDB oracle.

Scale design:
- exact dedup: hash-groupBy on a 60-bit content hash — one shuffle whose
  key space is |distinct docs|; never ships full text twice.
- n-gram Jaccard: shingle equi-join. Quadratic in docs *per shared
  shingle*, so it is the verification stage, not the candidate stage, at
  100 TB.
- MinHash+LSH: the scale path. Signature is k minima over shingle hashes
  (linear scan), banding turns near-dup search into an equi-join on
  (band, band_hash) — the classic shingle→minhash→band→bucket-join
  pipeline. Candidate pairs then get exact signature-agreement scoring.
- SimHash: 48-bit weighted bit-vote fingerprint; Hamming-adjacent
  fingerprints are near-dups. Linear scan + tiny output.
- embedding near-dup: sign-LSH cells + per-cell numpy scoring — fully
  distributed (no driver collect); exact on the fixtures (verified
  against the all-pairs oracle at every SF).

No operator here caches or persists anything durable: every
intermediate is consumed exactly once (sizes and signatures ride
through the joins instead of being re-joined); the one exception is the
distributed connected-components loop, whose per-round chase stages are
persisted for the duration of one round and unpersisted before the
next — repeated invocations in a long-lived session leave no storage
behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import h64
from ..functions.skew import hot_keys
from .wordcount import tokenize

MINHASH_K = 8          # hash functions in the signature
MINHASH_BANDS = 4      # bands of k/bands rows each
SHINGLE_N = 3          # word shingle width
SIMHASH_BITS = 48
LSH_MAX_BUCKET = 1024  # hot-bucket/df cap: drop keys fanning out wider than this


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: keep the smallest doc_id per distinct
    text, count the copies."""
    return (
        docs.groupBy(h64(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


PARA_SEP = r"\n\s*\n"


def paragraph_dedup(docs: DataFrame, sep: str = PARA_SEP) -> DataFrame:
    """Paragraph-level exact dedup — the within-corpus hygiene step
    between doc-level exact dedup and fuzzy dedup (boilerplate headers,
    license blocks, and navigation chrome repeat verbatim across
    documents long before whole docs do).

    Split on blank lines, trim, drop empties, hash each paragraph, and
    emit a keep-first manifest per distinct paragraph: the
    lexicographically smallest (doc_id, para_idx) occurrence plus the
    copy count. Downstream, a join of the manifest against the exploded
    paragraphs reconstructs documents minus repeated boilerplate.

    Scale shape: the explode is a narrow per-row fan-out (no shuffle);
    the only shuffle is the groupBy on the 60-bit paragraph hash, and
    map-side partial aggregation means each executor ships one
    (hash, min-struct, count) triple per distinct local paragraph —
    never the paragraph text itself."""
    paras = (
        docs.select("doc_id", F.posexplode(F.split("text", sep)).alias("para_idx", "para"))
        .select("doc_id", "para_idx", F.trim(F.col("para")).alias("para"))
        .where(F.length("para") > 0)
    )
    # min(struct) carries a struct aggregation buffer, which
    # HashAggregate cannot hold — Spark plans partial+final
    # SortAggregate instead. That still combines map-side (each
    # executor ships one triple per distinct local paragraph); the
    # sort keys are 60-bit hashes, not text. Packing (doc_id,
    # para_idx) into one primitive long would restore hash
    # aggregation but silently caps doc_id at 2^31 — not worth the
    # constant factor.
    return (
        paras.groupBy(h64(F.col("para")).alias("para_hash"))
        .agg(
            F.min(F.struct("doc_id", "para_idx")).alias("keep"),
            F.count("*").alias("n_copies"),
        )
        .select(
            "para_hash",
            F.col("keep.doc_id").alias("keep_doc"),
            F.col("keep.para_idx").cast("long").alias("keep_para"),
            "n_copies",
        )
    )


def _window_hashes(toks: DataFrame, w: int, stride: int) -> DataFrame:
    """(doc_id, n_tokens, start, win_hash): W-token windows at the
    given stride over a (doc_id, t: array<string>, n_tokens) relation —
    the shared fan-out of :func:`duplicate_spans` and
    :func:`contamination_spans`. Docs with 1 <= n_tokens < w emit one
    NULL-hash sentinel row (duplicate_spans' rollup needs every doc;
    contamination_spans filters them). Narrow: sequence + explode +
    slice/concat/md5, zero shuffle, all JVM-side."""
    return (
        toks.where(F.col("n_tokens") >= 1)
        .select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.col("n_tokens") - F.lit(w - 1), F.lit(1)),
                    F.lit(stride),
                )
            ).alias("start"),
            "t",
        )
        .select(
            "doc_id",
            "n_tokens",
            "start",
            F.when(
                F.col("n_tokens") >= w,
                h64(F.concat_ws(" ", F.slice("t", F.col("start"), w))),
            ).alias("win_hash"),
        )
    )


def _span_union_add(spans: DataFrame) -> DataFrame:
    """Exact interval-union increments: for (doc_id, start, end) spans,
    add a column ``add`` = how many token positions this span covers
    beyond the running-max frontier of all preceding spans (ordered by
    start, end within the doc) — summing ``add`` per doc gives the
    exact union length. One doc-keyed window, never a global sort;
    shared by duplicate_spans and contamination_spans so the subtle
    off-by-one frontier arithmetic lives in exactly one place."""
    prev_end = F.max("end").over(
        W.partitionBy("doc_id").orderBy("start", "end").rowsBetween(W.unboundedPreceding, -1)
    )
    return spans.withColumn("prev_end", F.coalesce(prev_end, F.lit(0))).withColumn(
        "add",
        F.greatest(F.lit(0), F.col("end") - F.greatest(F.col("prev_end"), F.col("start") - 1)),
    )


def duplicate_spans(docs: DataFrame, w: int = 10, stride: int = 5) -> DataFrame:
    """Repeated-substring detection at window granularity — the
    distributed form of exact substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499). The paper's suffix array is inherently a single
    sorted view of the whole corpus; the shape that survives 100 TB is
    to slide a W-token window with stride S over every document, hash
    each window, and mark windows whose hash recurs anywhere else in
    the corpus (same doc or not). Per doc this emits the window counts
    AND the exact fraction of token positions covered by at least one
    duplicated window — the signal a pipeline uses to clip repeated
    spans or drop the document (the paper removes substrings repeated
    verbatim; window granularity over-/under-shoots by < W tokens at
    each span boundary).

    Scale shape: tokenize + window-hashing — the expensive text pass —
    runs exactly ONCE: the window fan-out is narrow (sequence +
    explode, no shuffle, W·n/S tokens shipped per doc), docs shorter
    than W emit one NULL-hash sentinel row so the per-doc rollup needs
    no second tokenize, and the resulting slim (doc_id, n_tokens,
    start, win_hash) relation is localCheckpointed before its three
    consumers (duplicated-hash detection, window marking, per-doc
    counts) — the minhash_lsh_pairs doctrine; without it each consumer
    re-runs the full corpus tokenize. Duplicate detection is one
    partial-agg shuffle keyed on the 60-bit window hash (map-side
    combine ships one (hash, count) pair per distinct local window);
    marking is an equi-join of windows against the duplicated-hash set
    on that same key. The coverage union is a per-doc interval merge —
    one running-max window over (doc_id, start), never a
    whole-partition sort. Nothing is collected.
    """
    toks = docs.select(
        "doc_id", tokenize("text").alias("t"), F.size(tokenize("text")).alias("n_tokens")
    )
    # One row per W-token window; docs with 1 <= n_tokens < w get a
    # single sentinel row (win_hash NULL) so every visible doc reaches
    # the final rollup from this ONE checkpointed relation.
    wins = _window_hashes(toks, w, stride).localCheckpoint()
    real_wins = wins.where(F.col("win_hash").isNotNull())
    dup_hashes = (
        real_wins.groupBy("win_hash").agg(F.count("*").alias("n_occ")).where(F.col("n_occ") > 1)
    )
    dup_wins = real_wins.join(dup_hashes, "win_hash").select(
        "doc_id", "start", (F.col("start") + F.lit(w - 1)).alias("end")
    )
    covered = (
        _span_union_add(dup_wins)
        .groupBy("doc_id")
        .agg(F.sum("add").alias("dup_tokens"), F.count("*").alias("n_dup_windows"))
    )
    # count(win_hash) counts only non-NULL windows, so sentinel rows
    # yield n_windows=0 while still delivering the doc's n_tokens —
    # this rollup replaces the former second tokenize of `toks`.
    n_wins = wins.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"), F.count("win_hash").alias("n_windows")
    )
    return (
        n_wins
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens").cast("double"), 4
            ).alias("dup_frac"),
        )
    )


def _doc_window_hashes(docs: DataFrame, w: int) -> DataFrame:
    """Stride-1 ``w``-token window hashes of a (doc_id, text) relation
    — the tokenize + fan-out pass both sides of the decontamination
    family share. Sentinel (NULL-hash) rows of sub-``w`` docs are
    dropped: a doc shorter than ``w`` has no window to collide."""
    toks = docs.select(
        "doc_id", tokenize("text").alias("t"), F.size(tokenize("text")).alias("n_tokens")
    )
    return _window_hashes(toks, w, 1).where(F.col("win_hash").isNotNull())


def _contamination_screen(
    train_docs: DataFrame, bench_hashes: DataFrame, w: int, broadcast_index: bool = True
) -> DataFrame:
    """Screen a train-document relation against a benchmark
    window-hash relation (one ``win_hash`` column): the shared core of
    :func:`contamination_spans`, :func:`contamination_against_index`
    and the streaming filter. ``bench_hashes`` is broadcast by default
    — eval sets are tiny vs a 100 TB corpus, so the train side NEVER
    shuffles for the join; the only exchange is the per-doc
    interval-union window + rollup, keyed on doc_id.
    ``broadcast_index=False`` leaves the join strategy to the planner
    — the sort-merge fallback for an index union too big to ship,
    where a bucketed index scan (save_contamination_index) avoids its
    own Exchange."""
    idx = F.broadcast(bench_hashes) if broadcast_index else bench_hashes
    hits = (
        _doc_window_hashes(train_docs, w)
        .join(idx, "win_hash")
        .select("doc_id", "n_tokens", "start", (F.col("start") + F.lit(w - 1)).alias("end"))
    )
    return (
        _span_union_add(hits)
        .groupBy("doc_id")
        .agg(
            F.first("n_tokens").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_hit_windows"),
            F.sum("add").cast("long").alias("contaminated_tokens"),
            F.min("start").cast("long").alias("first_hit_start"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_hit_windows",
            "contaminated_tokens",
            F.round(F.col("contaminated_tokens") / F.col("n_tokens").cast("double"), 4).alias(
                "contam_frac"
            ),
            "first_hit_start",
        )
    )


def contamination_spans(
    docs: DataFrame, w: int = 13, bench_mod: int = 43
) -> DataFrame:
    """SPAN-level decontamination — the GPT-3/PaLM 13-gram collision
    report: :func:`benchmark_overlap` answers WHETHER a training doc
    overlaps the eval set (shingle-set membership); this answers WHERE
    and HOW MUCH, the report a pipeline needs to decide between
    clipping the contaminated span and dropping the document (GPT-3
    appendix C removes 13-gram collisions with dedup applied around
    them; no analog in the reference, which has no notion of eval
    data). A ``w``-token window slides at STRIDE 1 over every train
    doc (stride 1 is the faithful collision definition — a 5-token
    stride would miss up to 4-token-offset copies); a window is
    contaminated iff its hash appears among the benchmark side's
    window hashes. Output per contaminated train doc: hit-window
    count, exact interval-union token coverage, fraction, and the
    first hit position. The benchmark side is the deterministic
    ``doc_id % bench_mod == 0`` slice standing in for an external eval
    table (benchmark_overlap's convention); production swaps in any
    (doc_id, text) eval DataFrame unchanged.

    Scale shape: the bench and train sides split BEFORE the tokenize
    (the ``doc_id`` predicate pushes to the parquet scan on each
    branch — disjoint slices, so every doc is still tokenized exactly
    once across the two branches) and NOTHING corpus-sized is
    checkpointed: the round-13 form localCheckpointed the whole
    stride-1 window relation to share one tokenize pass, which pins
    O(corpus tokens) rows in executor storage for the query's lifetime
    — the round-14 advisor flagged it, and the split-first form is
    strictly better (same total tokenize work, zero pinned storage;
    the train side streams straight through the broadcast join). The
    benchmark hash set is DISTINCT'd and BROADCAST — the train side
    never shuffles for the join; the only exchange is the per-doc
    interval-union window + rollup, keyed on doc_id. Stride-1 fan-out
    ships ~n_tokens slim rows per doc — linear, and entirely JVM-side
    (regexp tokenize, slice, concat_ws, md5)."""
    is_bench = F.col("doc_id") % bench_mod == 0
    bench_hashes = (
        _doc_window_hashes(docs.where(is_bench), w).select("win_hash").distinct()
    )
    return _contamination_screen(docs.where(~is_bench), bench_hashes, w)


def _drop_table_with_orphan_location(spark, table: str) -> None:
    """DROP TABLE IF EXISTS, then remove any ORPHAN warehouse
    directory left behind by a PREVIOUS session: the default catalog
    is in-memory, so a managed table written by one driver process is
    unknown to the next — whose ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS on the leftover directory. Production
    metastores don't have this failure mode (the catalog persists);
    this is the local-session stand-in, scoped to simple table names
    in the default database."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    orphan = os.path.join(wh, table.lower())
    if os.path.isdir(orphan):
        shutil.rmtree(orphan, ignore_errors=True)


def save_contamination_index(
    bench_docs: DataFrame, table: str, w: int = 13, buckets: int = 16
) -> None:
    """Persist the benchmark/eval set's stride-1 window-hash set as the
    STANDING contamination index — the production shape of
    :func:`contamination_spans` (round-13 verdict item 4): eval sets
    change rarely, arriving corpus batches constantly, so the bench
    tokenize+window pass is paid ONCE here and every
    :func:`contamination_against_index` screen reads the result.

    The table is DISTINCT'd (hash-set semantics at rest — a window
    repeated across eval docs stores one row) and BUCKETED on
    ``win_hash``: the index never re-shuffles for a join — the
    broadcast fast path reads it as-is, and the sort-merge fallback
    (an eval-set union too big to broadcast) reads the bucketed scan
    co-located, shuffling only the arriving batch (the
    save_signature_index doctrine, asserted by the same plan-shape
    test)."""
    _drop_table_with_orphan_location(bench_docs.sparkSession, table)
    (
        _doc_window_hashes(bench_docs, w)
        .select("win_hash")
        .distinct()
        .write.bucketBy(buckets, "win_hash")
        .sortBy("win_hash")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def contamination_against_index(
    train_docs: DataFrame,
    index_table: str,
    w: int = 13,
    broadcast_index: bool = True,
) -> DataFrame:
    """The arriving-batch half of standing-index decontamination:
    window-hash ONLY the new batch and screen it against the persisted
    index (:func:`save_contamination_index`). Output schema and values
    are identical to :func:`contamination_spans` on the equivalent
    split — parity-asserted in tests, and the registered query shares
    its DuckDB oracle.

    ``broadcast_index=True`` (default — eval sets are small) ships the
    index to every executor; the batch side never shuffles for the
    join. ``False`` exercises the sort-merge fallback for oversized
    index unions, where the BUCKETED index scan still avoids its
    Exchange (only the batch side moves) — the plan-shape test pins
    both."""
    spark = train_docs.sparkSession
    return _contamination_screen(
        train_docs, spark.table(index_table), w, broadcast_index=broadcast_index
    )


def shingle_arrays(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingles: array<string>) — the distinct word n-gram
    shingles of each document, one narrow Arrow pass (zero shuffle).

    Implemented in a pandas stage rather than Catalyst higher-order
    functions deliberately: lambda expressions are interpreted, and
    CollapseProject inlines the tokenize pipeline into EVERY
    element_at reference, re-running the split per array element —
    O(tokens²) per document (measured ~15s for 5k docs; this pass is
    ~0.1s). Tokenization is wordcount.py_tokenize, bit-identical to
    the engine tokenizer and the DuckDB oracle."""
    import pandas as pd

    from .wordcount import py_tokenize

    def shingle(batches):
        for pdf in batches:
            out = []
            for text in pdf["text"]:
                toks = py_tokenize(text)
                # dict.fromkeys: distinct, first-occurrence order
                out.append(list(dict.fromkeys(
                    " ".join(toks[i:i + n]) for i in range(len(toks) - (n - 1))
                )))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "shingles": out})

    return docs.select("doc_id", "text").mapInPandas(shingle, "doc_id long, shingles array<string>")


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int | None = LSH_MAX_BUCKET
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    The shingle equi-join only materializes pairs with nonzero
    intersection, and it joins on a 60-bit hash of the shingle, not the
    string — the shuffle ships 8 bytes per shingle instead of the text.
    |shingles(doc)| rides along each exploded shingle row (8 more
    bytes) and is recovered per pair with a min() aggregate, so the
    shingle table is consumed exactly ONCE — no cache, no size-lookup
    re-join.

    Hot-shingle backstop (the :func:`containment_pairs` mechanism):
    shingles present in more than ``max_df`` docs are dropped BEFORE
    the pair join via an anti-join on the existing shuffle key —
    without it the per-shingle pair fan-out is O(df²) and one
    boilerplate shingle in a 1M-doc corpus explodes the join. The cap
    is observed (``jaccard_hot_shingles``), never silent, and
    one-sided by construction: denominators use the TRUE set sizes
    (``n_sh`` is computed before the cap) and jaccard
    n/(A+B−n) is increasing in n, so a capped intersection can only
    UNDER-report similarity, never inflate it. At 100 TB this still
    runs best *after* LSH candidate generation; the cap is the
    standalone backstop that bounds fan-out by max_df·|shingles|.
    ``max_df=None`` disables the cap — TRUE exact Jaccard for
    verification on bounded inputs (what :func:`dedup_recall_audit`
    uses for its ground truth, so the audit can never inherit the very
    approximation it certifies).
    """
    # materialized ONCE (24 B/row compact form): a self-join computes
    # each side's subtree independently — without this the Arrow
    # shingle pass runs twice. localCheckpoint, not cache: anonymous
    # blocks the ContextCleaner reclaims when the plan is GC'd, so
    # repeated calls in a long session don't accumulate pinned memory.
    # Pre-partitioned on sh_h BEFORE the checkpoint. Honest plan note
    # (r9 executed-plan audit): alias re-analysis re-keys the
    # checkpointed attributes, so the hot-df aggregate + anti-join
    # subtree still runs once PER pair-join side — duplicated work
    # over the compact relation, measured CHEAPER than eliminating it
    # with a second checkpoint barrier (1.7 s vs 2.2 s at sf0.1), and
    # the pre-partition is still worth ~0.2 s. Total cap cost vs the
    # uncapped form: +15 % interleaved matched-calib (SCALE.md r9).
    sh = (
        shingle_arrays(docs)
        .where(F.size("shingles") > 0)
        .select("doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle"))
        .select("doc_id", "n_sh", h64(F.col("shingle")).alias("sh_h"))
        .repartition(F.col("sh_h"))
    ).localCheckpoint()
    if max_df is None:
        shc = sh
    else:
        shc = sh.join(hot_keys(sh, ["sh_h"], max_df, "jaccard_hot_shingles"), "sh_h", "left_anti")
    a, b = shc.alias("a"), shc.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_h") == F.col("b.sh_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_inter"),
            F.min("a.n_sh").alias("size_a"),  # true size: n_sh predates the cap
            F.min("b.n_sh").alias("size_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


MH_MASK = (1 << 60) - 1
MH_BMASK = (1 << 59) - 1  # b truncated to 59 bits so a + 7b can't overflow int64


def minhash_wide(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): the k-element MinHash signature as wide
    columns, via the Kirsch-Mitzenmacher construction — ONE md5 per
    shingle split into two 60-bit halves (a, b), then
    h_i = (a + i*b) mod 2^60. Same independence guarantees as k true
    hash functions for MinHash purposes, at 1/k the hashing cost.

    One narrow Arrow pass (tokenize → shingle → md5 → running minima),
    zero shuffle, linear in total shingle bytes at 100 TB. A pandas
    stage, not Catalyst lambdas: interpreted higher-order expressions
    re-evaluate the inlined shingle pipeline per mh_i reference (k×)
    and per element_at (tokens×) — O(k·tokens²) per doc vs this
    single-pass O(shingles) (measured ~300× cheaper at sf0.1).
    hashlib.md5 == Spark md5() == DuckDB md5() bit-for-bit, so oracle
    parity is unchanged. Docs with <n tokens (empty shingle set) have
    no signature and are dropped, matching the oracle.
    """
    # MH_BMASK sizes b so a + i*b stays inside int64 only for i <= 13;
    # larger k needs a narrower b mask (DuckDB hard-errors on overflow)
    assert k <= 14, f"k={k} would overflow int64 in (a + i*b); max supported is 14"
    import hashlib

    import pandas as pd

    from .wordcount import py_tokenize

    n = SHINGLE_N

    def signatures(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = py_tokenize(text)
                shingles = set(" ".join(toks[i:i + n]) for i in range(len(toks) - (n - 1)))
                if not shingles:
                    continue
                mins = [MH_MASK] * k
                for s in shingles:
                    h = hashlib.md5(s.encode("utf-8")).hexdigest()
                    a = int(h[:15], 16)            # == conv(substring(md5, 1, 15), 16, 10)
                    b = int(h[16:31], 16) & MH_BMASK  # == substring(md5, 17, 15) & mask
                    for i in range(k):
                        v = (a + i * b) & MH_MASK
                        if v < mins[i]:
                            mins[i] = v
                rows.append((doc_id, *mins))
            yield pd.DataFrame(rows, columns=["doc_id"] + [f"mh_{i}" for i in range(k)])

    schema = ", ".join(["doc_id long"] + [f"mh_{i} long" for i in range(k)])
    return docs.select("doc_id", "text").mapInPandas(signatures, schema)


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, hash_idx, minhash): k min-hashes per doc via the
    Kirsch-Mitzenmacher family h_i(s) = (a(s) + i*b(s)) mod 2^60 with
    (a, b) the two 60-bit halves of one md5 (see :func:`minhash_wide`).
    Long-format view of the wide signature (stack is a narrow
    generator — still zero shuffles)."""
    stack = "stack({}, {}) as (hash_idx, minhash)".format(
        k, ", ".join(f"{i}, mh_{i}" for i in range(k))
    )
    return minhash_wide(docs, k).select("doc_id", F.expr(stack))


def banded_signatures(wide: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, sig: array<long>, band, band_hash) — each doc's full
    k-element MinHash signature exploded into its ``bands`` LSH band
    rows. Shared by the self-join pair finder and the incremental
    new-vs-index dedup; the band_hash is order-canonicalized so it is
    reproducible in the DuckDB oracle."""
    r = k // bands

    def band_hash(b: int):
        entries = F.array(*[F.concat_ws(":", F.lit(b * r + j), F.col(f"mh_{b * r + j}")) for j in range(r)])
        return h64(F.array_join(F.array_sort(entries), ","))

    return wide.select(
        "doc_id",
        F.array(*[F.col(f"mh_{i}") for i in range(k)]).alias("sig"),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), band_hash(b).alias("band_hash")) for b in range(bands)])
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.band_hash")


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs + signature-agreement similarity estimate.

    Bands of r=k/bands signature rows are hashed to buckets; docs
    colliding in any band become candidates. Pair generation is
    BUCKET-LOCAL: ONE exchange on (band, band_hash) feeds a window
    bucket-size count, the hot-bucket filter, and a collect_list
    aggregate that REUSES the window's partitioning (no second
    exchange — Catalyst proves the distribution is already satisfied),
    then in-bucket i<j pairs are generated by a narrow higher-order
    transform over the sorted member array. The full k-element
    signature rides along each member (k×8 bytes), so est_jaccard =
    matching positions / k is one zip_with per pair — no scoring
    re-join. Cross-band duplicates (identical rows by construction)
    collapse in the final pair-keyed dropDuplicates, the only other
    exchange. Versus the former banded self-join form, the banded
    relation is computed and shuffled ONCE instead of three times
    (bucket-size aggregate + both self-join sides), which at corpus
    scale is the dominant shuffle-volume term.

    Hot-bucket cap (the standard production mitigation for
    boilerplate-driven skew): a giant template cluster puts N
    near-identical docs in ONE band bucket, whose pair cell is N² —
    AQE can split a shuffle but not the quadratic pair volume.
    Buckets with more than ``max_bucket`` docs are dropped by the
    window-count filter BEFORE the collect_list aggregate ever
    materializes a member array, so per-task memory stays bounded by
    ``max_bucket`` even under a pathological mega-cluster (the
    pre-filter window itself is spill-safe — WindowExec buffers to an
    external row buffer). Pairs inside a dropped mega-cluster are
    near-identical by construction and already caught by
    exact/paragraph dedup. NOT silent: the plan carries a named
    CollectMetrics observation ``minhash_lsh_hot_buckets``
    (n_hot_buckets, n_rows_dropped) emitted to every
    QueryExecutionListener when the query runs.
    """
    # one row of k longs per doc — materialized once so downstream
    # consumers don't run the signature Arrow pass per reference (see
    # ngram_jaccard_pairs for the localCheckpoint-vs-cache rationale)
    wide = minhash_wide(docs, k).localCheckpoint()
    banded = banded_signatures(wide, k, bands)
    # bucket size + a first-row marker over the SAME (band, band_hash)
    # partitioning the collect_list aggregate needs — one exchange
    # serves the count, the hot filter, the observation, and the
    # grouping; row_number's doc_id order is only a deterministic way
    # to mark one row per bucket for the n_hot_buckets metric
    bucket = W.partitionBy("band", "band_hash")
    sized = banded.select(
        "doc_id",
        "sig",
        "band",
        "band_hash",
        F.count(F.lit(1)).over(bucket).alias("__n"),
        F.row_number().over(bucket.orderBy("doc_id")).alias("__rn"),
    ).observe(
        "minhash_lsh_hot_buckets",
        F.coalesce(
            F.sum(((F.col("__n") > max_bucket) & (F.col("__rn") == 1)).cast("long")),
            F.lit(0),
        ).alias("n_hot_buckets"),
        F.coalesce(F.sum((F.col("__n") > max_bucket).cast("long")), F.lit(0)).alias(
            "n_rows_dropped"
        ),
    )
    grouped = (
        sized.where(F.col("__n") <= max_bucket)
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sig"))).alias("members"))
        .where(F.size("members") >= 2)
    )
    # in-bucket i<j pairs + signature-agreement score, all narrow:
    # members is sorted by doc_id (struct ordering), so positional
    # i<j gives doc_a < doc_b; the member array is bounded by
    # max_bucket and the TRANSIENT pair array by max_bucket²/2
    # (~15 MB/bucket at the 1024 default — the capped worst case;
    # disabling the cap shifts mega-bucket pair explosion from the
    # old streaming self-join into these arrays, which is exactly the
    # configuration the cap forbids; SCALE.md "Hot-cap wall proof"
    # measures both sides)
    pair_expr = f"""
      flatten(transform(members, (x, i) ->
        transform(slice(members, i + 2, size(members) - i - 1), y ->
          struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
                 round(size(filter(zip_with(x.sig, y.sig, (p, q) -> p = q), e -> e))
                       / CAST({int(k)} AS DOUBLE), 6) AS est_jaccard))))
    """
    return (
        grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _driver_union_find(rows: list) -> dict:
    """Exact union-find (path compression + union by min label) over a
    BOUNDED edge list already on the driver. O(E α(V)); microseconds at
    the cap size."""
    parent: dict = {}

    def find(v):
        root = v
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(v, v) != root:  # path compression
            parent[v], v = root, parent[v]
        return root

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
        parent.setdefault(a, find(a))
        parent.setdefault(b, find(b))
    return {v: find(v) for v in parent}


def connected_components(
    edges: DataFrame,
    graph_partitions: int = 4,
    chase: int = 1,
    driver_cap: int = 100_000,
) -> tuple[DataFrame, int]:
    """Connected components over an (a, b) edge list → ((vertex,
    cluster_id = min vertex id in component), rounds).

    Two regimes, picked by a cheap edge count:

    - ``|edges| <= driver_cap`` (the NORMAL near-dup regime — the
      thresholded pair graph is a sliver of the corpus): collect the
      (long, long) edges — ≤ 1.6 MB at the default cap — and run exact
      union-find on the driver. This is a BOUNDED collect by
      construction, the same doctrine as the IVF training sample: the
      cap, not the data, limits driver memory. One job + one collect
      replaces ~10 iterative jobs; returns rounds=0.
    - above the cap: distributed min-label propagation with pointer
      doubling — each round takes the min over neighbor labels (one
      graph hop) then rewrites labels through themselves ``chase``
      times (label ← label∘label; jump distance doubles per chase,
      lazily persisted so self-joins reference an InMemoryRelation
      instead of re-expanding the subtree). ``localCheckpoint``
      truncates lineage each round — the standard guard against
      exponential plan growth in iterative DataFrame algorithms.
      ``graph_partitions`` sizes the iteration stages; at 100 TB pick
      ~ |edges|/1e6 — each round shuffles only (vertex, label) pairs.
      chase=1 minimizes per-round jobs (each extra chase is another
      join; worth it only when rounds are shuffle-dominated, i.e. at
      real scale with long-diameter graphs — raise it there).

    At 100 TB a billion-pair graph takes the distributed path
    automatically; both paths produce identical labels
    (tests/test_operators.py parity-checks them on the same graph).
    """
    # ONE job decides the regime AND fetches the data: limit(cap+1)
    # short-circuits the scan, and a (cap+1)-th row proves we must go
    # distributed without having collected more than the cap + 1 rows.
    # (A separate count() would execute the whole upstream pair
    # pipeline twice.)
    probe = edges.limit(driver_cap + 1).collect()
    if len(probe) <= driver_cap:
        labels = _driver_union_find([(r[0], r[1]) for r in probe])
        spark = edges.sparkSession
        out = spark.createDataFrame(
            list(labels.items()), "doc_id long, cluster_id long"
        ).repartition(graph_partitions)
        return out, 0
    und = (
        edges.toDF("doc_a", "doc_b")
        .union(edges.toDF("doc_b", "doc_a").select("doc_a", "doc_b"))
        .toDF("src", "dst")
        .coalesce(graph_partitions)
        .localCheckpoint()
    )
    labels = (
        und.select(F.col("src").alias("doc_id")).distinct().withColumn("cluster_id", F.col("doc_id"))
    ).coalesce(graph_partitions).localCheckpoint()
    rounds = 0
    while True:
        rounds += 1
        nbr = (
            und.join(labels, und.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        cur = labels.join(nbr, labels.doc_id == nbr.src, "left").select(
            "doc_id",
            F.least(F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))).alias("l1"),
            "cluster_id",
        )
        # pointer doubling: rewrite labels through themselves `chase`
        # times (labels always point at real vertices, so each
        # self-join resolves); jump distance doubles per chase. Each
        # stage is persisted LAZILY so the next chase's self-join
        # references one InMemoryRelation instead of duplicating the
        # whole subtree (2^chase plan blowup otherwise) — no extra
        # jobs: the round's single checkpoint action materializes all
        # stages at once, and they are dropped right after.
        stages = []
        for _ in range(chase):
            cur = cur.persist()
            stages.append(cur)
            m = cur.select(F.col("doc_id").alias("m_id"), F.col("l1").alias("m_l1"))
            cur = cur.join(m, F.col("l1") == F.col("m_id"), "left").select(
                "doc_id",
                F.least(F.col("l1"), F.coalesce("m_l1", F.col("l1"))).alias("l1"),
                "cluster_id",
            )
        new = (
            cur.select("doc_id", F.col("l1").alias("new_cluster"), "cluster_id")
        ).coalesce(graph_partitions).localCheckpoint()
        for s in stages:
            s.unpersist(blocking=False)
        changed = new.where(F.col("new_cluster") != F.col("cluster_id")).count()
        labels = new.select("doc_id", F.col("new_cluster").alias("cluster_id"))
        if changed == 0:
            break
    return labels, rounds


def dedup_clusters(docs: DataFrame, threshold: float = 0.5, graph_partitions: int = 4) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    pair graph → (doc_id, cluster_id = min doc_id in component,
    cluster_size). The last stage of a production dedup pipeline:
    cluster near-duplicates, keep one representative per cluster.
    Component search is :func:`connected_components` (min-label
    propagation + pointer doubling, O(log diameter) rounds)."""
    pairs = minhash_lsh_pairs(docs).where(F.col("est_jaccard") >= threshold)
    # the pair graph is tiny relative to the corpus (near-dups are the
    # exception) — coalesced inside connected_components so each
    # round's jobs don't pay 32 near-empty tasks
    labels, _ = connected_components(pairs.select("doc_a", "doc_b"), graph_partitions)
    # cluster_size as a count window over cluster_id instead of a
    # groupBy + self-join: one exchange serves both the count and the
    # output rows (optimization r14, guide §2.4 — the aggregate+rejoin
    # paid the cluster_id shuffle twice plus a join).
    # SKEW HAZARD at production scale (guide §2.5): the window puts
    # every row of a cluster in ONE task, and connected-component
    # graphs can grow a giant component (boilerplate megacluster). AQE
    # skew-split does NOT apply to windows. The aggregate+broadcast-
    # rejoin shape (sizes relation is tiny, AQE broadcasts it) or a
    # salted two-level count is the deployment fallback when any
    # single cluster approaches a task's memory — same doctrine as the
    # LSH hot-bucket cap above; here the labels relation is the
    # already-reduced pair graph, orders of magnitude under the corpus.
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(W.partitionBy("cluster_id")).alias("cluster_size"),
    )


def canonical_docs(
    docs: DataFrame, threshold: float = 0.5, quality: DataFrame | None = None
) -> DataFrame:
    """Canonical-document selection — the decision stage a production
    dedup pipeline ends with: per near-dup cluster keep exactly ONE
    representative (highest :func:`~..text.quality_score` quality,
    doc_id as the deterministic tie-break); unclustered docs are their
    own singleton cluster and always kept.

    Output: one row per document (doc_id, cluster_id, cluster_size,
    quality, keep) — the full audit trail, not just the survivors, so
    downstream can materialize either the kept corpus or a removal
    report.

    ``quality`` (optional, optimization r15): a precomputed
    (doc_id, quality[, extra passthrough columns...]) relation covering
    EXACTLY the docs to emit. Composed pipelines (corpus_dedup_e2e /
    corpus_ingest_e2e / doc_provenance) already pay a narrow corpus
    scan for their own bookkeeping; letting them hand the quality
    column in on that relation removes a second full tokenizing scan
    of the corpus (guide §2.3 — the quality expr re-expanded the whole
    survivors subtree once per consumer). When given, it must carry
    the same ``quality`` values :func:`~..text.quality_expr` computes
    (parity test-pinned by the callers); extra columns ride through to
    the output between doc_id and cluster_id. A ``quality`` without a
    ``doc_id`` or ``quality`` column raises ``ValueError``. Coverage
    drift is NOT detected: a doc missing from ``quality`` is silently
    absent from the output, and a doc only in ``quality`` is emitted as
    a singleton.

    Scale shape: clusters come from the banded-LSH pipeline
    (:func:`dedup_clusters`), quality is a narrow scan, and the argmax
    is one row_number window partitioned by cluster_id — cluster sizes
    are bounded by near-dup group sizes (AQE-split if a boilerplate
    cluster explodes), never corpus-sized.
    """
    from .text import quality_score

    if quality is not None:
        missing = [c for c in ("doc_id", "quality") if c not in quality.columns]
        if missing:
            raise ValueError(f"canonical_docs: precomputed quality lacks column(s) {missing}")
    clusters = dedup_clusters(docs, threshold)
    q = quality if quality is not None else quality_score(docs).select("doc_id", "quality")
    passthrough = [c for c in q.columns if c not in ("doc_id", "quality")]
    joined = q.join(clusters, "doc_id", "left").select(
        "doc_id",
        *passthrough,
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        "quality",
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    return joined.withColumn("keep", F.row_number().over(w) == 1)


def leakage_safe_split(
    docs: DataFrame, test_pct: int = 10, val_pct: int = 10, threshold: float = 0.5
) -> DataFrame:
    """Contamination-safe train/validation/test split: the unit of
    assignment is the near-dup CLUSTER, not the document — a document
    and all its near-duplicates always land in the SAME split, so a
    test example can never have a near-copy in training (the classic
    eval-leakage failure a naive per-doc hash split ships).

    Assignment is a deterministic 60-bit md5 hash of the cluster id
    bucketed mod 100 (cross-engine reproducible — the same contract as
    every fingerprint here), so the split is stable run-to-run and
    engine-to-engine. Unclustered docs are their own singleton cluster.

    Scale shape: clusters come from the banded-LSH pipeline, the join
    back to docs is one keyed shuffle, the hash is a narrow projection.
    """
    # connected components directly — dedup_clusters would also compute
    # per-cluster sizes this query never reads
    pairs = minhash_lsh_pairs(docs).where(F.col("est_jaccard") >= threshold)
    labels, _ = connected_components(pairs.select("doc_a", "doc_b"))
    base = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("cluster_id", "cid"), "doc_id", "left")
        .select("doc_id", F.coalesce("cid", F.col("doc_id")).alias("cluster_id"))
    )
    bucket = F.pmod(h64(F.col("cluster_id"), seed="split:"), F.lit(100))
    split = (
        F.when(bucket < test_pct, "test")
        .when(bucket < test_pct + val_pct, "validation")
        .otherwise("train")
    )
    return base.select(
        "doc_id", "cluster_id", bucket.cast("long").alias("bucket"), split.alias("split")
    )


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Weighted SimHash fingerprint: token-count-weighted bit votes over
    the md5 hash of each distinct token; bit b set iff the weighted vote
    is positive. 48 bits so the fingerprint stays in signed-int64 range
    in both engines."""
    # The bit-b vote is linear in the token weight: summing ±w over
    # distinct (doc, token) equals summing ±1 over token *occurrences*,
    # and that equals 2·(count of set bits) − N — so the aggregation is
    # a branch-free sum of extracted bits plus one row count. ONE
    # shuffle of (doc_id, 48 longs + count) with map-side partial
    # aggregation; rows never multiply by `bits`.
    # the 48 bit-sum aggregates and the 48-term fingerprint are built as
    # SQL strings (one py4j parse each) — constructing them as Column
    # trees costs ~0.9s of driver time per call in py4j round-trips
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    hashed = toks.select("doc_id", h64(F.col("tok")).alias("h"))
    bit_sums = [F.expr(f"sum(shiftright(h, {b}) & 1) as s_{b}") for b in range(bits)]
    fingerprint = " + ".join(f"if(2*s_{b} > n, {1 << b}L, 0L)" for b in range(bits))
    return (
        hashed.groupBy("doc_id")
        .agg(F.expr("count(*) as n"), *bit_sums)
        .selectExpr("doc_id", f"{fingerprint} as simhash")
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS, n_bands: int = 4
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``
    — Manku/Jain/Sarma's web-dedup formulation, candidate-generated by
    pigeonhole banding, never all-pairs.

    Pigeonhole: a pair differing in ≤3 of 48 bits agrees EXACTLY on at
    least one of 4 12-bit bands (3 flips can't touch 4 bands), so the
    band equi-join is a lossless candidate filter — this operator is
    exact, not probabilistic, unlike the MinHash/sign-LSH family. Plan:
    fingerprints (one shuffle) → explode 4 band rows/doc → equi-join on
    (band, band_value) → distinct → one bit_count(xor) per candidate.
    Shuffle volume is 4·|docs| rows; scored pairs are Σ_buckets |b|²
    over 12-bit band buckets, not |docs|²."""
    # 16 B/doc fingerprint table, materialized once: the band self-join
    # would otherwise run the corpus-wide tokenize+vote pipeline twice
    # (AQE's exchange reuse does not dedup these sibling subtrees)
    sh = simhash(docs, bits).localCheckpoint()
    return hamming_band_pairs(sh, "simhash", bits, n_bands, max_hamming)


def hamming_band_pairs(
    fingerprints: DataFrame,
    hash_col: str,
    bits: int,
    n_bands: int,
    max_hamming: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Hamming-≤k pairs over any 64-bit-or-less fingerprint
    column via lossless pigeonhole banding (shared by text SimHash and
    image dHash): a pair within ``max_hamming`` flips agrees exactly on
    ≥1 of ``n_bands`` bands, so the band equi-join is a complete
    candidate filter. Shuffle is ``n_bands`` rows per input row;
    scored candidates are Σ_buckets |b|², never N². Arithmetic
    shiftright's sign extension is masked off per band, so a set top
    bit (negative int64) cannot corrupt band values."""
    assert bits % n_bands == 0 and max_hamming < n_bands
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = fingerprints.select(
        id_col,
        hash_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(hash_col, i * band_bits).bitwiseAND(F.lit(mask)).alias("bv"),
                )
                for i in range(n_bands)
            ])
        ).alias("b"),
    ).select(id_col, hash_col, F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col(f"a.{hash_col}").alias("sa"),
            F.col(f"b.{hash_col}").alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


NEAR_DUP_PLANES = 6   # sign-LSH planes per table (bucket space 2^6)
NEAR_DUP_TABLES = 24  # independent tables; recall compounds across them
# calibration point for the scale-derived sizing: the sf0.1 fixture's
# ~2k vectors are where the pinned 6×24 setting was verified to
# recover every >=0.4 pair — at or below this N the derived params ARE
# the pinned params, so every oracle stays pinned by construction
LSH_SIZING_BASE_N = 2_000


def derived_lsh_params(
    n_vectors: int,
    base_planes: int = NEAR_DUP_PLANES,
    base_tables: int = NEAR_DUP_TABLES,
    base_n: int = LSH_SIZING_BASE_N,
) -> tuple[int, int]:
    """The measured LSH sizing rule as a function (round-13 verdict
    item 3): the embedding candidate probe (SCALE.md round-13) proved
    candidate volume at FIXED planes grows quadratically with corpus
    size (×100 per decade — occupancy N/2^planes is the law), and measured the
    mitigation live at the 10× point: +⌊log2(N/N₀)⌋ planes holds
    expected cell occupancy (and per-vector candidate work) roughly
    constant (candidates ×0.196, wall ×0.6 of the fixed-plane run),
    and DOUBLING the tables at the new occupancy buys recall back
    (93.8 % → 99.6 % of the fixed-plane output). This function encodes
    exactly that: planes grow with ⌊log2(N/base_n)⌋; tables double
    once the plane count grows at all (the doubling was measured at
    one decade — re-verify recall per decade when raising further,
    probe-style, rather than extrapolating the table count).

    At or below ``base_n`` the result is the pinned fixture setting,
    so oracle-pinned queries are unchanged at every committed SF; the
    10× point returns the probe's measured mitigation setting (9, 48)
    — both pinned by tests."""
    import math

    if n_vectors <= base_n:
        return base_planes, base_tables
    extra = int(math.floor(math.log2(n_vectors / base_n)))
    if extra == 0:
        return base_planes, base_tables
    return base_planes + extra, base_tables * 2


def _embedding_cells(
    emb: DataFrame, n_planes: int, n_tables: int, max_cell: int
) -> DataFrame:
    """The candidate CELL relation :func:`embedding_near_dup` scores,
    whose candidate volume is Σ_cells m·(m−1)/2 + m·p. One row per
    (table, bucket) occupant: the cell's exact members (is_probe = 0)
    plus its Hamming-1 directional probe visitors (is_probe = 1), with
    hot cells (> max_cell MEMBERS) dropped and observed."""
    # signatures feed TWO consumers (exact members + probe visitors);
    # materialize once instead of running the matmul pass per branch.
    # lsh_signatures is the shared sign-bit signer (one narrow Arrow
    # matmul pass, zero shuffle). Re-measured r15: rebalancing the
    # embeddings before THIS one-pass matmul (vec_id-keyed, operator-
    # local) also loses — the 0.72 s single-task pass became 32 python
    # tasks whose per-task Arrow overhead cost MORE than it
    # parallelized (embedding_dedup_clusters 2.9-3.0 → 3.3-3.5 s,
    # translated_near_dups 2.6 → 2.9-3.1 s, matched A/B) — the r14
    # global-rebalance negative result holds per-operator too at 2k
    # vectors; at production N the scan arrives multi-split for free.
    from .similarity import lsh_signatures

    sigs = lsh_signatures(emb, n_planes, n_tables).localCheckpoint()
    exact = sigs.withColumn("is_probe", F.lit(0))
    # DIRECTIONAL probing: a pair whose signatures differ in bit i has
    # exactly ONE side with that bit 0 — probing only 0→1 flips still
    # discovers every Hamming-1 pair exactly once (the 0-bit side
    # visits the 1-bit side's cell) while shipping HALF the visitor
    # rows of symmetric probing (avg n_planes/2 instead of n_planes
    # duplicated embedding rows per vector per table). Each (cell,
    # visitor) combination stays unique — no within-cell double count.
    visitors = sigs.select(
        "vec_id",
        "embedding",
        "table",
        F.explode(
            F.filter(
                F.array(*[
                    F.when(
                        F.col("bucket").bitwiseAND(F.lit(1 << i)) == 0,
                        F.col("bucket").bitwiseXOR(F.lit(1 << i)),
                    )
                    for i in range(n_planes)
                ]),
                lambda b: b.isNotNull(),
            )
        ).alias("bucket"),
        F.lit(1).alias("is_probe"),
    )
    hot = hot_keys(sigs, ["table", "bucket"], max_cell, "embedding_near_dup_hot_cells")
    return exact.unionByName(visitors).join(hot, ["table", "bucket"], "left_anti")


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int | None = None,
    max_cell: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine ≥
    threshold): LSH-bucketed candidate generation + exact per-pair
    scoring — fully distributed, no driver collect anywhere.

    Dataflow: sign-LSH signatures (narrow Arrow matmul) → per-CELL
    scoring with ``applyInPandas`` grouped on (table, bucket): each
    cell holds its exact members plus Hamming-1 probe visitors (a pair
    is a candidate iff the signatures differ in ≤1 bit in ANY table),
    and one numpy pass scores member×member and member×visitor pairs →
    threshold filter → tiny distinct. The Arrow transfer is per BUCKET
    MEMBER (N·tables·(1+planes) rows), not per candidate pair — ~60×
    less data movement than joining pairs then scoring (measured at
    sf0.1: 0.3M member rows vs 11M pair rows). Shuffles: the one
    (table, bucket) hash shuffle + the post-filter dedup; scored-pair
    volume is Σ_cells |cell|², never |corpus|².

    Recall: multi-table sign-LSH is probabilistic in general; the
    (6 planes × 24 tables, Hamming-1) setting was verified to recover
    EVERY pair ≥ 0.4 of the exact all-pairs result on all fixture SFs
    (planes are deterministic md5-derived constants — see
    similarity._plane_vals — so this holds run-to-run). Tests assert
    exact agreement with an independent all-pairs numpy computation;
    the DuckDB oracle is exact all-pairs SQL.

    Scoring is vectorized float64 with an explicit LEFT-TO-RIGHT loop
    over dimensions, IEEE-identical to the Catalyst fold
    (functions.vectors.dot) and DuckDB's list_dot_product, so the SQL
    oracle hash-matches exactly.

    Hot-cell cap: the work bound is Σ_cells |members|² — one
    mega-cluster of mutually-identical embeddings (a template family)
    makes its home cell quadratic in every table. Cells with more than
    ``max_cell`` MEMBERS are dropped (members and visitors) before the
    scoring shuffle; member-count is the right cap key because only
    member×member pairs are quadratic (visitor×visitor pairs are never
    scored). NOT silent: the plan carries the named CollectMetrics
    observation ``embedding_near_dup_hot_cells`` (n_hot_keys,
    n_hot_rows — ``functions.skew.hot_keys``).

    100 TB plane scaling — now the DEFAULT, not just a docstring rule
    (round-13 verdict item 3): wall is LINEAR IN CANDIDATES (measured
    — SCALE.md "candidate-growth law"), and candidate volume is
    governed by expected cell occupancy N / 2^n_planes per table. When ``n_planes``/``n_tables`` are left
    None, they derive from the OBSERVED table size via
    :func:`derived_lsh_params` — a single cheap ``count()`` job (a
    1-long result, never a data collect; at production the count comes
    from the footer-stats path for free) feeding the probe-measured
    rule: +⌊log2(N/2000)⌋ planes to hold occupancy constant, tables
    doubled to buy recall back. At or below the 2k calibration point
    (every committed fixture SF) the derived params equal the pinned
    6×24 setting — verified to recover 100 % of ≥threshold pairs there
    — so all oracles stay pinned while production corpora
    automatically get the mitigation. Explicit arguments override.
    The ``max_cell`` cap stays as the skew backstop either way.
    """
    import numpy as np
    import pandas as pd

    if n_planes is None or n_tables is None:
        dp, dt = derived_lsh_params(emb.count())
        n_planes = dp if n_planes is None else n_planes
        n_tables = dt if n_tables is None else n_tables
    cells = _embedding_cells(emb, n_planes, n_tables, max_cell)

    def _lr_sims(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
        """All-pairs cosine between row sets, accumulated LEFT-TO-RIGHT
        over dims (fold order), rounded half-up at 6 decimals."""
        acc = np.zeros((ma.shape[0], mb.shape[0]))
        na = np.zeros(ma.shape[0])
        nb = np.zeros(mb.shape[0])
        for k in range(ma.shape[1]):
            acc += ma[:, k, None] * mb[None, :, k]
            na += ma[:, k] * ma[:, k]
            nb += mb[:, k] * mb[:, k]
        sim = acc / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
        # round-half-up at 6 decimals == Spark/DuckDB round() on
        # non-tie doubles (ties have measure zero for quotients)
        return np.floor(sim * 1e6 + 0.5) / 1e6

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf[pdf["is_probe"] == 0]
        mm = np.array([np.asarray(v, dtype=np.float64) for v in m["embedding"]])
        ids_m = m["vec_id"].to_numpy()
        frames = []
        if len(m) > 1:
            sim = _lr_sims(mm, mm)
            ai, bi = np.nonzero((ids_m[:, None] < ids_m[None, :]) & (sim >= threshold))
            frames.append(pd.DataFrame({"vec_a": ids_m[ai], "vec_b": ids_m[bi], "sim": sim[ai, bi]}))
        p = pdf[pdf["is_probe"] == 1]
        if len(m) and len(p):
            mp = np.array([np.asarray(v, dtype=np.float64) for v in p["embedding"]])
            ids_p = p["vec_id"].to_numpy()
            sim = _lr_sims(mm, mp)  # symmetric products → order-independent
            ai, bi = np.nonzero((ids_m[:, None] != ids_p[None, :]) & (sim >= threshold))
            frames.append(
                pd.DataFrame(
                    {
                        "vec_a": np.minimum(ids_m[ai], ids_p[bi]),
                        "vec_b": np.maximum(ids_m[ai], ids_p[bi]),
                        "sim": sim[ai, bi],
                    }
                )
            )
        if not frames:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
        return pd.concat(frames)

    scored = cells.groupBy("table", "bucket").applyInPandas(
        score_cell, "vec_a long, vec_b long, sim double"
    )
    # a pair colliding in several (table, cell) combinations scores
    # identically each time — dedup the tiny thresholded output
    return scored.dropDuplicates(["vec_a", "vec_b"])


def incremental_dedup(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    batch_mod: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental (new-batch vs historical-index) near-dup check — the
    PRODUCTION shape of dedup at 100 TB: a continuously-ingesting
    pipeline never re-self-joins the whole corpus; each arriving batch
    is checked against the standing MinHash index and only then merged.
    Here the fixture splits on doc_id % ``batch_mod`` (== 0 → the "new
    batch", ~20%; else the index) to make the dataflow testable; in
    production the index side is the persisted signature table.

    Output manifest, one row per NEW doc: how many index docs it
    band-collides with at est_jaccard ≥ ``threshold``, the best
    estimate, and the drop/keep flag.

    Scale shape: signatures are computed in ONE Arrow pass over the
    whole input and split AFTER (no second tokenize); the band
    equi-join is new × index — shuffle is O(|new| + touched index
    rows), never a corpus self-join, and at scale the index side is
    pre-bucketed on (band, band_hash) so only the new batch moves.
    est_jaccard is matching-positions/k of exact 60-bit integers —
    cross-engine stable (multiples of 1/k)."""
    wide = minhash_wide(docs, k).localCheckpoint()
    banded = banded_signatures(wide, k, bands)
    is_new = F.col("doc_id") % batch_mod == 0
    return _score_new_vs_index(
        docs.where(is_new).select("doc_id"),
        banded.where(is_new),
        banded.where(~is_new),
        k,
        threshold,
    )


def _score_new_vs_index(
    new_ids: DataFrame,
    new_b: DataFrame,
    idx_b: DataFrame,
    k: int,
    threshold: float,
    require_lower_index_id: bool = False,
) -> DataFrame:
    """Shared scoring join for the incremental dedup family: band
    equi-join new × index, signature-agreement estimate, per-new-doc
    rollup, left-joined back onto the full new-batch manifest.

    ``require_lower_index_id`` additionally constrains matches to index
    docs with a LOWER doc_id — the keep-first rule that makes streaming
    ingest verdicts independent of how the stream is split into
    batches (a doc's duplicate status depends only on what precedes it
    in doc_id order, wherever the batch boundary falls)."""
    new_b, idx_b = new_b.alias("n"), idx_b.alias("i")
    matches = F.size(
        F.filter(F.zip_with("n.sig", "i.sig", lambda x, y: x == y), lambda eq: eq)
    )
    cond = (F.col("n.band") == F.col("i.band")) & (
        F.col("n.band_hash") == F.col("i.band_hash")
    )
    if require_lower_index_id:
        cond = cond & (F.col("i.doc_id") < F.col("n.doc_id"))
    scored = (
        new_b.join(idx_b, cond)
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("i.doc_id").alias("index_id"),
            (matches.cast("double") / F.lit(float(k))).alias("est"),
        )
        .dropDuplicates(["new_id", "index_id"])
        .where(F.col("est") >= threshold)
    )
    hits = scored.groupBy("new_id").agg(
        F.count("*").alias("n_matches"),
        F.round(F.max("est"), 6).alias("best_jaccard"),
    )
    return new_ids.join(hits, F.col("doc_id") == hits.new_id, "left_outer").select(
        "doc_id",
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        F.col("n_matches").isNotNull().alias("is_dup"),
    )


def save_signature_index(
    docs: DataFrame,
    table: str,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    buckets: int = 16,
) -> None:
    """Persist the corpus's banded MinHash signatures as a BUCKETED
    table on the join key (band, band_hash) — the standing dedup index
    incremental ingest checks against. Bucketing pays the index-side
    shuffle ONCE at layout time: every later batch join reads the
    index co-located (no Exchange on the index scan — asserted by
    tests/test_bucketing.py), so per-batch cost is O(|batch|) shuffle
    regardless of index size. At 100 TB, raise ``buckets`` to ~2-3× the
    executor count."""
    _drop_table_with_orphan_location(docs.sparkSession, table)
    (
        banded_signatures(minhash_wide(docs, k), k, bands)
        .write.bucketBy(buckets, "band", "band_hash")
        .sortBy("band", "band_hash")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def incremental_dedup_against_index(
    new_docs: DataFrame,
    index_table: str,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """The arriving-batch half of the production flow: signatures for
    ONLY the new batch, band-joined against the persisted bucketed
    index (:func:`save_signature_index`). Same manifest schema and
    identical output to :func:`incremental_dedup` on the equivalent
    split — parity-asserted in tests."""
    spark = new_docs.sparkSession
    new_b = banded_signatures(minhash_wide(new_docs, k), k, bands)
    return _score_new_vs_index(
        new_docs.select("doc_id"), new_b, spark.table(index_table), k, threshold
    )


def benchmark_overlap(docs: DataFrame, bench_mod: int = 43, min_hits: int = 2) -> DataFrame:
    """Decontamination: flag training documents whose word-shingle sets
    overlap a benchmark/eval set — the pre-training hygiene step that
    keeps held-out test data out of the corpus (no analog in the
    reference, which has no notion of eval data).

    The benchmark side here is the deterministic ``doc_id % bench_mod
    == 0`` slice of the corpus standing in for an external eval table;
    production swaps in any (bench_id, shingle) DataFrame unchanged.

    Scale design: eval sets are tiny relative to a 100 TB corpus
    (MMLU-scale ≈ 1e6 shingles), so the benchmark shingle hashes
    BROADCAST and the corpus side stays a narrow shingle scan +
    broadcast hash join; the only shuffle is the final per-doc
    aggregate (partial+final, keyed by doc_id). Output is the
    contamination manifest: per flagged doc, how many distinct shingles
    hit and how many benchmark docs they touch.
    """
    sh = (
        shingle_arrays(docs)
        .where(F.size("shingles") > 0)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .select("doc_id", h64(F.col("shingle")).alias("sh_h"))
        # consumed by both branches below; localCheckpoint (anonymous,
        # ContextCleaner-reclaimed) so the Arrow shingle pass runs once
        .localCheckpoint()
    )
    bench = sh.where(F.col("doc_id") % bench_mod == 0).select(
        F.col("doc_id").alias("bench_id"), "sh_h"
    )
    train = sh.where(F.col("doc_id") % bench_mod != 0)
    return (
        train.join(F.broadcast(bench), "sh_h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh_h").alias("n_hit_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .where(F.col("n_hit_shingles") >= min_hits)
    )


def embedding_dedup_clusters(
    emb: DataFrame, threshold: float = 0.4, graph_partitions: int = 4
) -> DataFrame:
    """Semantic dedup (SemDeDup-style): connected components over the
    embedding-cosine near-dup graph → (vec_id, cluster_id = min vec_id
    in component, cluster_size). The embedding-space analog of
    :func:`dedup_clusters`: candidate pairs come from the fully
    distributed sign-LSH scorer (:func:`embedding_near_dup`, exact on
    the ≥threshold graph), component search is the same pointer-doubling
    :func:`connected_components` — the pair graph is tiny relative to
    the corpus, so the iterative stage never touches embeddings."""
    pairs = embedding_near_dup(emb, threshold).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels, _ = connected_components(pairs, graph_partitions)
    # count window over cluster_id instead of groupBy + self-join —
    # one exchange instead of two plus a join (guide §2.4). Same skew
    # hazard + fallback as dedup_clusters: a giant semantic cluster
    # lands in one window task (AQE can't split windows) — revert to
    # aggregate + broadcast rejoin or a salted two-level count if one
    # component approaches task memory.
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        F.count(F.lit(1)).over(W.partitionBy("cluster_id")).alias("cluster_size"),
    )


PR_ITERS = 3


def pagerank_dedup_graph(
    docs: DataFrame, threshold: float = 0.5, iters: int = PR_ITERS
) -> DataFrame:
    """PageRank over the near-duplicate graph — the canonical iterative
    fixed-point computation, run where a data pipeline actually wants
    it: centrality on the dedup candidate graph identifies template/
    boilerplate HUBS (documents near-duplicating many others rank far
    above members of isolated pairs), a better cluster-representative
    prior than raw degree.

    Deterministic and hash-oracled: a FIXED ``iters`` power iterations
    (uniform init over graph nodes, damping 0.85, contributions
    p/deg over undirected edges) — the oracle unrolls the same
    iterations as chained SQL CTEs, with identical literals so every
    float op matches.

    Scale shape: edges+degrees are computed ONCE and localCheckpointed
    (each iteration would otherwise re-run the whole LSH pipeline per
    lineage branch); an iteration is one broadcast of the (tiny) rank
    table? No — ranks are |nodes| rows: the join is a hash join keyed
    on src and the aggregation is one partial-agg shuffle keyed on dst,
    the same per-round cost envelope as connected_components. Iteration
    count is fixed, lineage stays O(iters)."""
    pairs = minhash_lsh_pairs(docs).where(F.col("est_jaccard") >= threshold)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = edges.join(deg, "src").localCheckpoint()
    n_df = deg.agg(F.count("*").cast("double").alias("n_nodes"))
    ranks = deg.crossJoin(F.broadcast(n_df)).select(
        F.col("src").alias("id"), (F.lit(1.0) / F.col("n_nodes")).alias("p")
    )
    for _ in range(iters):
        contrib = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["id"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") / F.col("deg")).alias("c"))
        )
        ranks = contrib.crossJoin(F.broadcast(n_df)).select(
            F.col("dst").alias("id"),
            (F.lit(0.15) / F.col("n_nodes") + F.lit(0.85) * F.col("c")).alias("p"),
        )
    return (
        ranks.join(deg, ranks["id"] == deg["src"])
        .select(
            F.col("id").alias("doc_id"),
            F.col("deg").cast("long").alias("deg"),
            F.round("p", 6).alias("pagerank"),
        )
    )


def ngram_novelty(docs: DataFrame, n: int = SHINGLE_N, batch_mod: int = 5) -> DataFrame:
    """Cross-batch novelty rate — the ingest-value metric next to
    :func:`incremental_dedup`'s duplicate verdicts: per arriving doc,
    what fraction of its distinct word n-grams has the standing corpus
    NEVER seen? Duplicates score ~0, templated text scores low, genuinely
    new content scores high — the signal that decides whether a crawl
    batch is worth its storage. Fixture split: doc_id % ``batch_mod``
    == 0 is the new batch, the rest is the corpus (same convention as
    incremental_dedup).

    Scale shape: the corpus side reduces to DISTINCT 60-bit shingle
    hashes (partial-agg, one shuffle keyed on the hash — at 100 TB this
    is the standing index, persisted once, not recomputed); the batch
    side LEFT JOINs it on the same key and aggregates per doc. The
    batch is small by definition, so its side of the join broadcasts
    under AQE."""
    # localCheckpoint (optimization r15, guide §2.4/§4): the corpus and
    # batch sides both filter sh on doc_id, but a mapInPandas is opaque
    # to Catalyst, so the filters cannot push below the shingle pass —
    # without the checkpoint BOTH subtrees ran the full-corpus Arrow
    # shingle pass (2 Python stages over all docs, observed in the r15
    # census). One pass, both consumers read the checkpoint.
    sh = (
        shingle_arrays(docs, n)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .select("doc_id", h64(F.col("shingle")).alias("sh_h"))
    ).localCheckpoint()
    is_new = F.col("doc_id") % batch_mod == 0
    corpus = sh.where(~is_new).select("sh_h").distinct()
    new = sh.where(is_new)
    seen = corpus.withColumn("seen", F.lit(1))
    return (
        new.join(seen, "sh_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.count(F.when(F.col("seen").isNull(), 1)).cast("long").alias("n_novel"),
            F.round(
                F.count(F.when(F.col("seen").isNull(), 1)) / F.count("*").cast("double"), 6
            ).alias("novelty_rate"),
        )
    )


def triangle_stats(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    near-dup graph — the third graph operator beside components and
    PageRank, and the signal that separates template FAMILIES (dense,
    high-coefficient cliques of mutual near-dups) from chains of
    incidental pairwise similarity (coefficient ~0). Triangles are
    enumerated once as ordered triples a<b<c (each edge list is the
    same ordered pair table three times — never a direction explosion),
    then unpivoted to per-node counts; coefficient = 2T / d(d−1).

    Scale shape: the pair graph is tiny relative to the corpus (LSH
    candidates only), the triple join is equi-keyed on node ids, and
    the worst case is bounded by the hot-bucket cap documented for the
    LSH stage — the classic node-iterator triangle join."""
    e = (
        minhash_lsh_pairs(docs)
        .where(F.col("est_jaccard") >= threshold)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("doc_id"))
        .unionAll(e.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("deg"))
    )
    return deg.join(per_node, "doc_id", "left").select(
        "doc_id",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.round(
            F.when(
                F.col("deg") >= 2,
                2.0 * F.coalesce("n_triangles", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coef"),
    )


BLOOM_M = 4096   # filter bits
BLOOM_K = 3      # hash functions


def bloom_decontamination(
    docs: DataFrame, bench_mod: int = 43, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Bloom-filter membership screen — the last sketch in the family
    (HLL, KLL quantiles, SpaceSaving, MinHash, SimHash, sign-LSH, PQ
    are covered elsewhere): the benchmark slice's content hashes build
    a k-hash/m-bit filter, and every candidate document probes it.
    ``maybe_contaminated`` has NO false negatives (an exact benchmark
    copy always hits all k positions) and a false-positive rate of
    ≈ (1 − e^{−k·n/m})^k — the cheap first pass that lets the exact
    shingle join (:func:`benchmark_overlap`) run on 1% of the corpus
    instead of all of it.

    Built from first principles with DataFrame ops (Spark's internal
    bloom_filter_agg is not in the public registry): the filter is the
    DISTINCT set of set-bit positions (≤ m rows — broadcast side by
    construction), probing is a broadcast equi-join on position, and
    both sides use the deterministic cross-engine hash, so the whole
    sketch — bit for bit — is verified against the DuckDB oracle."""
    bench = docs.where(F.col("doc_id") % bench_mod == 0)
    cand = docs.where(F.col("doc_id") % bench_mod != 0)
    seeds = list(range(k))
    bits = None
    for s in seeds:
        b = bench.select((h64(F.col("text"), seed=f"bloom{s}|") % m).alias("pos"))
        bits = b if bits is None else bits.unionAll(b)
    bits = bits.distinct()
    probes = None
    for s in seeds:
        p = cand.select(
            "doc_id", F.lit(s).alias("seed"), (h64(F.col("text"), seed=f"bloom{s}|") % m).alias("pos")
        )
        probes = p if probes is None else probes.unionAll(p)
    return (
        probes.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .join(cand.select("doc_id"), "doc_id", "right")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) == k).alias("maybe_contaminated"),
        )
    )


def source_overlap_matrix(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Pairwise shingle-set overlap BETWEEN sources — the
    source-vs-source half of the contamination family
    (bloom_decontamination / benchmark_overlap audit corpus-vs-
    benchmark; this audits what each ingested source duplicates of the
    others, the first question when deciding whether a new crawl adds
    anything): for every source pair, the count of shared distinct
    word n-gram shingles and the Jaccard similarity of the two
    sources' shingle sets. Zero-overlap pairs are omitted (sparse
    matrix semantics — the join that discovers overlap cannot emit
    what it never sees, and an absent row IS the answer).

    Scale shape: one shingle Arrow pass (reused shingle_arrays) → a
    doc-keyed join to attach source → distinct (source, 60-bit
    shingle-hash) — the per-source shingle SET, with the two-phase
    distinct combining map-side. The overlap self-join is keyed on the
    shingle hash and its fan-out per shingle is bounded by
    |sources|²/2 (the source domain is catalog-sized — no hot-key cap
    needed, unlike doc-pair joins where multiplicity is corpus-sized);
    the per-pair rollup partial-aggs, and the size joins move
    |sources| rows. Exact integer counts; one rounded ratio."""
    # localCheckpoint (optimization r15, guide §2.4): sh feeds THREE
    # consumers (sizes + both sides of the overlap self-join) — without
    # it the static plan re-expands the shingle Arrow pass and the
    # source join once per consumer (4 Python stages observed in the
    # r15 census). Anonymous eager checkpoint, the ngram_jaccard_pairs
    # doctrine.
    sh = (
        shingle_arrays(docs, n)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", F.explode("shingles").alias("s"))
        .select("source", h64(F.col("s")).alias("h"))
        .distinct()
    ).localCheckpoint()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# "non-trivial corpus" probe threshold for the sample_mod=1 warning:
# every committed fixture is ≤5k docs (sample scale, where the
# docstring endorses the uncapped audit); past 20k the O(df²) exact
# side is no longer a fixture-scale cost and the caller should shard
_AUDIT_WARN_DOCS = 20_000


def dedup_recall_audit(
    docs: DataFrame, threshold: float = 0.5, sample_mod: int = 1
) -> DataFrame:
    """Dedup-pipeline QA: precision/recall of the LSH candidate
    generator against exact n-gram Jaccard ground truth — the
    evaluation every near-dedup deployment runs before trusting its
    banding parameters (and re-runs when the corpus shifts). One row:
    true pairs (exact jaccard >= threshold), LSH candidates, their
    intersection, precision and recall.

    ``sample_mod`` is what makes the audit production-runnable: with
    sample_mod=N only docs whose seeded 60-bit hash ≡ 0 (mod N)
    participate — a deterministic, engine-reproducible 1/N slice that
    bounds the quadratic-worst-case exact side. The bound exists ONLY
    when the caller passes sample_mod > 1: the default (1) audits the
    whole input with the df cap deliberately DISABLED, which is
    appropriate at fixture/sample scale and nowhere else, so
    sample_mod==1 emits a RuntimeWarning once the input measures past
    a bounded-probe threshold (``limit(N+1).count()``, the cap-probe
    doctrine — fixture-scale runs stay silent) rather than silently
    running O(df²). Probe caveat: the ``limit(N+1).count()`` fires an
    eager Spark job at CALL time, and the limit bounds only the rows
    COLLECTED — if the caller hands a derived DataFrame behind a wide
    shuffle, that upstream exchange still computes in full, so the
    "bounded probe" guarantee holds for scan-shaped inputs (a parquet
    read ± row filters, the intended audit entry point); pre-derived
    inputs should be materialized first or passed with sample_mod>1,
    which skips the probe entirely. Both inputs are existing
    oracle-verified operators; the
    audit adds one full-outer pair join (pair-keyed, both sides
    already deduplicated) and a 1-row aggregate. Degenerate corpora
    (zero candidates / zero true pairs) report NULL ratios — guarded
    divides, mirrored by NULLIF in the oracle, so neither engine
    manufactures ±inf/nan."""
    if sample_mod > 1:
        docs = docs.where(
            F.pmod(h64(F.col("doc_id"), seed="audit"), F.lit(sample_mod)) == 0
        )
    elif docs.limit(_AUDIT_WARN_DOCS + 1).count() > _AUDIT_WARN_DOCS:
        # bounded probe (limit caps the scan) so fixture-scale runs —
        # where the docstring says sample_mod=1 is appropriate — stay
        # warning-free and the driver/bench logs stay clean
        import warnings

        warnings.warn(
            "dedup_recall_audit(sample_mod=1) runs UNCAPPED exact n-gram "
            "Jaccard over the full input (the O(df^2) fan-out the production "
            "cap prevents). Pass sample_mod>1 for anything beyond "
            "fixture/sample scale.",
            RuntimeWarning,
            stacklevel=2,
        )
    # ground truth is UNCAPPED exact jaccard (max_df=None): the audit
    # must never inherit the hot-shingle approximation it exists to
    # certify — on a boilerplate-heavy corpus a capped "truth" would
    # silently inflate recall (round-8 reviewer finding); sample_mod
    # is what keeps the uncapped side affordable at scale
    exact = ngram_jaccard_pairs(docs, threshold, max_df=None).select("doc_a", "doc_b")
    cand = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    joined = exact.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    return joined.agg(
        F.sum(F.coalesce(F.col("t"), F.lit(0))).cast("long").alias("n_true"),
        F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hit"),
    ).select(
        "n_true",
        "n_candidates",
        "n_hit",
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("n_hit").cast("double") / F.col("n_candidates"), 6),
        ).alias("precision"),
        F.when(
            F.col("n_true") > 0, F.round(F.col("n_hit").cast("double") / F.col("n_true"), 6)
        ).alias("recall"),
    )


def containment_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int = LSH_MAX_BUCKET
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (|A∩B|/|A| and |A∩B|/|B|) for
    pairs sharing ≥1 shingle — the excerpt/quotation detector Jaccard
    structurally misses: a 50-shingle doc fully embedded in a
    5000-shingle doc scores Jaccard ≈ 0.01 but containment 1.0. Pairs
    where EITHER direction ≥ ``threshold`` survive, with both values
    reported (which side is the subset is the point).

    Same dataflow contract as :func:`ngram_jaccard_pairs` (one Arrow
    shingle pass, 60-bit-hash equi-join, |shingle set| rides each row
    so one min() recovers it), plus the hot-shingle df cap the jaccard
    form documents as its trade-off: shingles present in more than
    ``max_df`` docs are dropped BEFORE the pair join (anti-join on the
    existing shuffle key), bounding pair fan-out by max_df·|shingles| —
    never silently, via the ``containment_hot_shingles`` observation.
    Denominators stay the TRUE set sizes (computed before the cap), so
    a capped intersection can only under-report containment, never
    inflate it. At 100 TB this runs after LSH candidate generation
    like its jaccard sibling; the cap is the standalone backstop."""
    sh = (
        shingle_arrays(docs)
        .where(F.size("shingles") > 0)
        .select("doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle"))
        .select("doc_id", "n_sh", h64(F.col("shingle")).alias("sh_h"))
    ).localCheckpoint()
    shc = sh.join(hot_keys(sh, ["sh_h"], max_df, "containment_hot_shingles"), "sh_h", "left_anti")
    a, b = shc.alias("a"), shc.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_h") == F.col("b.sh_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.min("a.n_sh").alias("size_a"),  # true size: n_sh predates the cap
            F.min("b.n_sh").alias("size_b"),
        )
    )
    out = inter.select(
        "doc_a",
        "doc_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.round(F.col("n_inter") / F.col("size_a"), 6).alias("containment_a"),
        F.round(F.col("n_inter") / F.col("size_b"), 6).alias("containment_b"),
    )
    return out.where(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
    )


def translated_near_dups(docs: DataFrame, emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Cross-lingual near-duplicates: embedding-similar pairs whose
    documents carry DIFFERENT language tags — the translated-content
    detector. Lexical dedup (shingles, MinHash) is structurally blind
    to translations (zero token overlap), but a multilingual embedding
    space puts a document and its translation nearby, so the
    embedding-cosine pair graph restricted to lang_a ≠ lang_b is
    exactly the translated-duplicate candidate set (the multilingual
    corpus-curation step next to per-language dedup).

    Dataflow: :func:`embedding_near_dup` generates the capped,
    LSH-bucketed pair graph (Σ|cell|² bounded — never all-pairs); two
    narrow (doc_id, lang) projections of ``documents`` attach the
    language tags via unhinted equi-joins (the pair side is the tiny
    thresholded graph; AQE broadcasts it). Inner joins: pairs whose
    vectors have no document row drop out, keeping the contract
    well-defined when embeddings outnumber documents or vice versa."""
    pairs = embedding_near_dup(emb, threshold)
    lang = docs.select(F.col("doc_id"), F.col("lang"))
    return (
        pairs.join(lang.select(F.col("doc_id").alias("vec_a"), F.col("lang").alias("lang_a")), "vec_a")
        .join(lang.select(F.col("doc_id").alias("vec_b"), F.col("lang").alias("lang_b")), "vec_b")
        .where(F.col("lang_a") != F.col("lang_b"))
        .select(
            F.col("vec_a").alias("doc_a"),
            F.col("vec_b").alias("doc_b"),
            "lang_a",
            "lang_b",
            "sim",
        )
    )


def lpa_communities(docs: DataFrame, threshold: float = 0.5, iters: int = 3) -> DataFrame:
    """Community detection on the near-dup graph by SYNCHRONOUS label
    propagation (Raghavan et al. 2007, the deterministic variant):
    every node starts as its own label; each round all nodes
    simultaneously adopt the most frequent label among their
    neighbors PLUS their own current label (the self-vote damps the
    bipartite label oscillation synchronous LPA is known for), ties
    to the smallest label; ``iters`` fixed rounds (the pagerank
    doctrine — determinism over a convergence test; classic ASYNC
    LPA is order-dependent and unverifiable). Where
    connected components (:func:`dedup_clusters`) answers "what is
    reachable", LPA separates dense template families that a thin
    accidental bridge would otherwise merge into one component — the
    complementary graph view next to pagerank's hub scores and
    triangle_stats' local density.

    Output: (doc_id, community, n_members) over the pair-graph nodes.

    Scale: the graph is the thresholded LSH pair sliver, not the
    corpus; each round is ONE label-lookup equi-join + one
    (node, label) partial agg + a per-node top-1 window, with
    localCheckpoint truncating lineage per round (iterative-join
    doctrine shared with pagerank_dedup_graph)."""
    edges = (
        minhash_lsh_pairs(docs)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    und = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    labels = (
        und.select(F.col("src").alias("doc_id")).distinct().withColumn("label", F.col("doc_id"))
    )
    for _ in range(iters):
        nb = und.join(labels.select(F.col("doc_id").alias("dst"), "label"), "dst").select(
            F.col("src").alias("doc_id"), "label"
        ).unionByName(labels)  # self-vote
        c = nb.groupBy("doc_id", "label").agg(F.count(F.lit(1)).alias("n"))
        # argmax by (n desc, label asc) as a PARTIAL-AGGREGABLE max over
        # (n, -label) structs — no per-node sort window, both agg
        # levels combine map-side (labels are non-negative ids)
        labels = (
            c.groupBy("doc_id")
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("m"))
            .select("doc_id", (-F.col("m.neg")).alias("label"))
            .localCheckpoint()
        )
    # member count as a window over the final labels instead of a
    # groupBy + self-join — one exchange instead of two plus a join
    # (guide §2.4; the dedup_clusters idiom, including its documented
    # giant-community skew hazard and aggregate+broadcast fallback)
    return labels.select(
        "doc_id",
        F.col("label").alias("community"),
        F.count(F.lit(1)).over(W.partitionBy("label")).cast("long").alias("n_members"),
    )


# prefix filtering pays for itself only while prefixes are a small
# slice of each document; below this threshold the candidate join
# trends quadratic (measured: SCALE.md threshold-domain table)
PPJOIN_MIN_RECOMMENDED_T = 0.3


def ppjoin_pairs(docs: DataFrame, threshold: float = 0.5, observation=None) -> DataFrame:
    """EXACT shingle-set Jaccard self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo, Ma & Srikant, WWW 2007, "Scaling
    Up All Pairs Similarity Search"; Xiao, Wang, Lin & Yu, WWW 2008,
    "Efficient Similarity Joins for Near Duplicate Detection").

    The lossless exact twin of :func:`ngram_jaccard_pairs`: same
    semantics (word-3-gram shingle Jaccard ≥ threshold), but where the
    df cap is a one-sided approximation (capped pairs can only
    UNDER-report), prefix filtering bounds the pair join with ZERO
    recall loss: order every document's distinct shingles by one
    global total order (document frequency ascending, hash ascending —
    rarest first); any pair with ``J(x, y) >= t`` must share a shingle
    inside BOTH documents' first ``|x| - ceil(t*|x|) + 1`` shingles.
    Proof: ``J >= t`` forces overlap ``O >= t*(|x|+|y|)/(1+t) >=
    t*|x|`` for both sides (the size filter ``|y| >= t*|x|`` makes the
    worst case ``|y| = t*|x|``, where the bound is tight); if no
    common shingle sat in x's prefix, all common shingles would fit in
    the ``ceil(t*|x|) - 1 < O`` suffix positions — contradiction. Hot
    boilerplate shingles have maximal df, sort LAST, and fall out of
    every large document's prefix — the O(df²) blow-up the cap guards
    against never enters the join.

    Scale shape: the shingle Arrow pass runs ONCE into a compact
    (doc_id, n_sh, tok_h) relation, pre-partitioned on tok_h and
    localCheckpointed; df comes from a count-over-window on that
    same tok_h clustering (no second exchange, no join). Prefix
    extraction is one doc_id window (row_number over (df, tok_h));
    the checkpointed prefix relation feeds both sides of the
    candidate equi-join, whose fan-out is bounded by rare-shingle
    collisions instead of corpus df — observed, never silent, via the
    ``ppjoin_candidates`` CollectMetrics. Verification joins the
    candidate pairs back to the SAME checkpointed shingle relation
    (semi-join-bounded: only candidate docs' shingles ship) and counts
    the exact intersection; sizes/thresholds stay in int64 units so no
    float enters a pruning decision — and every pruning filter runs at
    the half-ulp-RELAXED threshold ``t_eff = t - 0.5e-6`` (half-micro
    units), strictly looser than the emission predicate
    ``round(J, 6) >= t`` shared with the oracle, so a pair whose
    6-decimal rounding lands exactly on the threshold can never be
    pruned away. At 100 TB this is the exact-tier companion to
    MinHash/LSH: run LSH for recall-tunable candidates, PPJoin when
    the contract is exact pairs.

    Supported threshold domain: the prefix length ``|x| - ceil(t*|x|)
    + 1`` grows toward the WHOLE document as t falls — at t=0 every
    shingle is in every prefix and the "filtered" join IS the
    brute-force all-pairs join (measured at sf0.1: 12.8k candidates at
    t=0.8, 125k at t=0.5, 325k at t=0.3, 499k at t=0.2 — the SCALE.md
    threshold-domain table).
    Thresholds below :data:`PPJOIN_MIN_RECOMMENDED_T` therefore emit a
    RuntimeWarning (results stay exact — the cost, not the answer,
    degrades); out-of-range thresholds (t <= 0 or t > 1) raise.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"ppjoin_pairs threshold must be in (0, 1], got {threshold!r}: "
            "at t<=0 prefix filtering degenerates to the unfiltered "
            "all-pairs join (prefix = whole document)"
        )
    if threshold < PPJOIN_MIN_RECOMMENDED_T:
        import warnings

        warnings.warn(
            f"ppjoin_pairs(threshold={threshold}) is below the recommended "
            f"domain (t >= {PPJOIN_MIN_RECOMMENDED_T}): the prefix length "
            "|x| - ceil(t*|x|) + 1 approaches |x| as t falls, silently "
            "degrading toward the brute-force join (SCALE.md "
            "threshold-domain table). Results remain exact; expect "
            "quadratic candidate growth.",
            RuntimeWarning,
            stacklevel=2,
        )
    t_micro = int(round(threshold * 1_000_000))
    # Emission keeps round(jaccard, 6) >= threshold (mirroring the
    # oracle), so a pair with TRUE J in [t - 0.5e-6, t) still belongs
    # in the result. Every pruning filter therefore runs at the
    # half-ulp-RELAXED threshold t_eff = t - 0.5e-6, carried exactly
    # in half-micro units (hm/2e6) — pruning is strictly looser than
    # emission, so the rounding boundary can never cost a pair.
    hm = max(0, 2 * t_micro - 1)  # t_eff numerator over HM_D
    HM_D = 2_000_000
    tok = (
        shingle_arrays(docs)
        .where(F.size("shingles") > 0)
        .select("doc_id", F.size("shingles").alias("n_tok"), F.explode("shingles").alias("token"))
        .select("doc_id", "n_tok", h64(F.col("token")).alias("tok_h"))
        .repartition(F.col("tok_h"))
    ).localCheckpoint()
    # df via count-over-window on the tok_h clustering the checkpoint
    # already carries — measured ~25 % faster than the equivalent
    # groupBy(df)+join-back at sf0.1 (one exchange instead of two, no
    # join); the window partition is one shingle's posting list, so
    # its size is bounded by corpus df exactly like the aggregate's
    # prefix length L = n_tok - ceil(t_eff*n_tok) + 1, all-integer
    prefix = (
        tok.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("tok_h")))
        .withColumn(
            "pos",
            F.row_number().over(W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok_h"))),
        )
        .where(
            F.col("pos")
            <= F.col("n_tok")
            - F.expr(f"(n_tok * {hm}L + {HM_D - 1}L) div {HM_D}L")
            + F.lit(1)
        )
        .select("doc_id", "n_tok", "pos", "tok_h")
        .repartition(F.col("tok_h"))
    ).localCheckpoint()
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: required overlap α = ceil(t_eff(|x|+|y|)/(1+t_eff));
    # a matching prefix token at (pos_a, pos_b) bounds the achievable
    # overlap by 1 + min(|x|-pos_a, |y|-pos_b). Pruning per matching row
    # is lossless: a qualifying pair's FIRST common token (global order)
    # has no common token before it on either side, so its bound is
    # valid and ≥ α — that row always survives. Integers throughout
    # (α = (hm(na+nb) + (HM_D+hm) - 1) div (HM_D+hm) in half-micro
    # units; products ≤ 4e12 « 2^53, so the double division is exact).
    alpha = F.floor(
        (F.lit(hm) * (F.col("a.n_tok") + F.col("b.n_tok")) + F.lit(HM_D + hm - 1))
        / F.lit(HM_D + hm)
    ).cast("long")
    cand = (
        a.join(
            b,
            (F.col("a.tok_h") == F.col("b.tok_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: t_eff*|x| <= |y| and t_eff*|y| <= |x| (half-micro)
            & (F.col("b.n_tok") * F.lit(HM_D) >= F.col("a.n_tok") * F.lit(hm))
            & (F.col("a.n_tok") * F.lit(HM_D) >= F.col("b.n_tok") * F.lit(hm))
            & (
                F.lit(1)
                + F.least(
                    F.col("a.n_tok") - F.col("a.pos"), F.col("b.n_tok") - F.col("b.pos")
                )
                >= alpha
            ),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.min("a.n_tok").alias("n_a"), F.min("b.n_tok").alias("n_b"))
        # candidate volume rides the plan as a named CollectMetrics by
        # default (no-silent rule); tests pass a pyspark Observation to
        # read the count directly and prove the prefix filter engages
        .observe(
            observation if observation is not None else "ppjoin_candidates",
            F.count(F.lit(1)).alias("n_candidates"),
        )
    )
    ta = tok.select(F.col("doc_id").alias("doc_a"), "tok_h")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "tok_h")
    # Verify-stage width investigated and left to AQE (r15 negative
    # result, guide §2.5/§3.1): the stage reads the byte-tiny candidate
    # manifest coalesced to ~2 tasks, which LOOKS starved — but the
    # stage cost is dominated by building the two broadcast token
    # relations per task, so forcing it wide with an explicit
    # repartition made it slower (1.42 s over 32 tasks vs 1.04 s over
    # 2 — measured with both a pair-hash key and doc_a), because every
    # extra task re-deserializes both broadcasts. AQE's byte-based
    # choice is the right one here; at production scale the manifest
    # carries real bytes and AQE sizes the stage accordingly.
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok_h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"), F.min("n_a").alias("n_a"), F.min("n_b").alias("n_b"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def synth_corpus_snapshot(docs: DataFrame) -> DataFrame:
    """Deterministic "next crawl" snapshot derived from the documents
    table (the fixture ships no second snapshot; same synthetic-feed
    pattern as relational.synth_customer_changes): DROP every
    doc_id % 17 == 3, REVISE the text (append ``' rev2'``) of every
    remaining doc_id % 13 == 5, and ADD one fresh doc per source
    (doc_id = 2^60 + h64(source) — h64 is < 2^60 so a fresh id can
    never collide with a real doc_id, and deriving from the hash
    rather than a numeric-suffix regex means a digit-free source name
    cannot NULL out and two sources sharing a suffix cannot collide
    into one id, which would fan out the downstream full-outer join).
    Reproducible in ANSI SQL, so the diff oracle regenerates it."""
    kept = docs.where(F.col("doc_id") % 17 != 3)
    revised = kept.withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 5, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
            F.col("text")
        ),
    ).withColumn("n_chars", F.length("text").cast("long"))
    fresh = (
        docs.select("source")
        .distinct()
        .select(
            (F.lit(1 << 60) + h64(F.col("source"))).alias("doc_id"),
            F.concat(F.lit("fresh crawl content for "), F.col("source")).alias("text"),
            F.lit("en").alias("lang"),
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    return revised.select("doc_id", "text", "lang", "source", "n_chars").unionByName(fresh)


def corpus_snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Dataset-versioning governance: classify every doc_id across two
    corpus snapshots as added / removed / changed / unchanged by
    60-bit content hash, rolled up per (source, status) — the audit a
    training pipeline runs between crawl snapshots before re-running
    dedup/training downstream ("what actually changed, and where?").

    Scale shape: each side is reduced to (doc_id, source, h64(text))
    in its scan — the full-outer join ships 8-byte keys and hashes,
    never text — followed by one partial+final count aggregate over
    the (|sources| × 4)-row status rollup. Nothing else shuffles; at
    100 TB this is two scans + one join keyed on doc_id. A doc present
    in both snapshots reports the NEW side's source (a moved doc
    counts as changed under its new home)."""
    a = old.select("doc_id", F.col("source").alias("src_old"), h64(F.col("text")).alias("h_old"))
    b = new.select("doc_id", F.col("source").alias("src_new"), h64(F.col("text")).alias("h_new"))
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(F.coalesce("src_new", "src_old").alias("source"), status.alias("status"))
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
