"""Text-analysis operators over the ``documents`` table: token stats,
quality scoring, language ID, document fingerprinting.

Driver-mandated extensions (the reference's only scalar text computation
is ``strings.Fields`` tokenization, mapper.go:42). Everything here is
built-in-function only — no Python UDF anywhere — so the whole pipeline
stays in whole-stage codegen; at 100 TB these are embarrassingly
parallel single scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h64
from .wordcount import tokenize

# Marker stopwords per language for the n-gram/marker language-ID
# heuristic. Deterministic scoring: count marker hits per language,
# argmax with lexicographic tie-break, 'und' when no marker hits.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "los", "las", "es", "y"),
    "fr": ("le", "la", "et", "les", "est"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")

# BPE-ish pre-tokenizer: word pieces, digit runs, or single non-space symbols.
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token accounting: whitespace tokens, BPE-ish regex
    tokens, distinct tokens, mean token length."""
    toks = tokenize("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("mean_token_len"),
    )


def quality_expr():
    """The [0,1] quality composite as a plain Column expression —
    usable in batch AND streaming projections (narrow, stateless)."""
    toks = tokenize("text")
    n = F.greatest(F.size(toks), F.lit(1))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    alpha_ratio = (
        F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    len_score = F.least(F.size(toks).cast("double") / F.lit(100.0), F.lit(1.0))
    stop_ratio = stop_hits.cast("double") / n
    return F.round(
        0.3 * len_score + 0.3 * F.least(stop_ratio * 5, F.lit(1.0)) + 0.2 * ttr + 0.2 * alpha_ratio, 6
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length, stopword ratio, type-token
    ratio, alpha ratio → a [0,1] composite. Mirrors the usual LLM-corpus
    hygiene filters (C4/Gopher-style) in spirit."""
    toks = tokenize("text")
    n = F.greatest(F.size(toks), F.lit(1))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    alpha_ratio = (
        F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    stop_ratio = stop_hits.cast("double") / n
    score = quality_expr()
    return docs.select(
        "doc_id",
        F.col("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        score.alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-token language ID: per (doc, lang) marker-hit counts,
    argmax with deterministic tie-break (count desc, lang asc), 'und'
    when nothing matches. One scan + array ops, no shuffle."""
    toks = tokenize("text")
    scores = [
        F.struct(
            (-F.size(F.filter(toks, lambda t: t.isin(*markers)))).alias("neg_hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # ascending sort on (negated hits, lang): max hits first, and on
    # tied hit counts the lexicographically SMALLEST language wins —
    # the documented tie-break.
    best = F.sort_array(F.array(*scores))[0]
    hits = -best["neg_hits"]
    return docs.select(
        "doc_id",
        F.when(hits > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        hits.cast("long").alias("marker_hits"),
    )


def string_funcs_showcase(docs: DataFrame, sample_every: int = 50) -> DataFrame:
    """The scalar string-function surface (absent in the reference,
    SURVEY §2.2) in one narrow pass: case mapping, substring, replace,
    padding, trim, reverse, concat, length, instr — sampled by doc_id so
    the oracle result stays small."""
    return docs.where(F.col("doc_id") % sample_every == 0).select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("upper_prefix"),
        F.lower(F.substring("text", 1, 12)).alias("lower_prefix"),
        F.regexp_replace(F.substring("text", 1, 30), "[aeiou]", "_").alias("devoweled"),
        F.lpad(F.substring("text", 1, 5), 8, ".").alias("padded"),
        F.reverse(F.substring("text", 1, 10)).alias("reversed_prefix"),
        F.concat_ws("|", F.substring("text", 1, 3), F.substring("text", 4, 3)).alias("pieces"),
        F.length("text").cast("long").alias("len"),
        F.instr("text", "the").cast("long").alias("first_the"),
        F.trim(F.substring(F.concat(F.lit("  "), "text"), 1, 8)).alias("trimmed"),
    )


def training_corpus(docs: DataFrame, emb: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """The composed LLM-corpus pipeline as ONE declarative plan:
    quality-score filter → exact-dedup (keep the smallest doc_id per
    content hash) → join embeddings → emit the curated corpus manifest.

    Composability is the point: each stage is the already-tested
    operator, fused by Catalyst into a single job (the dedup groupBy is
    the only wide stage; the embedding join broadcasts at test scale and
    shuffle-joins on doc_id at 100 TB)."""
    from .dedup import exact_dedup

    q = quality_score(docs).where(F.col("quality") >= min_quality).select("doc_id", "quality")
    # the dedup stage IS dedup.exact_dedup (single definition of the
    # content-hash scheme), applied to the quality-passing subset
    kept = exact_dedup(docs.join(q, "doc_id")).select(
        "content_hash", F.col("keep_id").alias("doc_id"), F.col("n_copies").alias("n_dups")
    )
    return (
        kept.join(q, "doc_id")
        .join(emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id")
        .select(
            "doc_id",
            "content_hash",
            "n_dups",
            "quality",
            F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x.cast("double")), 4).alias(
                "embedding_sum"
            ),
        )
    )


def heavy_hitters(docs: DataFrame, k: int = 25) -> DataFrame:
    """Global top-k most frequent tokens — the corpus vocabulary head
    every tokenizer-training / stopword-mining pipeline starts from.

    Plan shape at 100 TB: tokenize+explode is narrow; the count is
    partial+final HashAggregate (shuffle = |vocabulary|, not |tokens|);
    the global top-k is ``orderBy().limit(k)`` which Spark plans as
    TakeOrderedAndProject — per-partition partial top-k, never a
    single-partition global sort. Rank is derived AFTER the limit, so
    the window only ever sees k rows. Ties break on token asc."""
    from pyspark.sql import Window as W

    counts = (
        docs.select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    w = W.orderBy(F.desc("cnt"), F.asc("token"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


def heavy_hitters_approx(
    docs: DataFrame, k: int = 25, local_m: int = 512, n_parts: int | None = 32
) -> DataFrame:
    """Bounded-memory approximate top-k tokens: each partition keeps
    only its ``local_m`` most frequent tokens (one Python Counter per
    partition, accumulated across Arrow batches), the survivors are
    re-aggregated globally, and the top-k is TakeOrdered — the
    SpaceSaving-flavored scale path for vocabularies too large for a
    hash aggregate (URLs, n-grams, user agents).

    Exactness: a token can only be missed if it falls outside the local
    top-m in EVERY partition it appears in, so with local_m >> k the
    head is exact in practice; counts of reported tokens are exact only
    when the token survived in every partition. With the default
    ``n_parts`` the input is first repartitioned on a 60-bit CONTENT
    hash, making partition membership a pure function of the data —
    not of the host's core count or parquet split planning — so the
    result is bit-reproducible anywhere and the exact-top-k SQL oracle
    is a sound hash check (round-7 advisor: the head-exactness
    precondition must not depend on host parallelism). The 100 TB
    scale path passes ``n_parts=None`` to inherit the input splits and
    skip the text shuffle, accepting run-to-run head variance in
    exchange. Post-repartition shuffle volume is ≤ partitions ×
    local_m rows, independent of vocabulary size."""
    from collections import Counter

    import pandas as pd

    from pyspark.sql import Window as W

    from .wordcount import PY_WS_RE

    def local_counts(batches):
        c: Counter = Counter()
        for pdf in batches:
            # one C-level regex split over the whole batch ('\n' is
            # itself a separator, so joining cannot merge tokens), then
            # one Counter.update — no per-row Python loop
            c.update(PY_WS_RE.split("\n".join(pdf["text"].fillna(""))))
        c.pop("", None)
        if c:
            # NOT Counter.most_common: it breaks count ties by dict
            # insertion order, which follows shuffle-fetch interleave —
            # run-nondeterministic. (count desc, token asc) is total,
            # so local survival is a pure function of the data.
            import heapq

            top = heapq.nsmallest(local_m, c.items(), key=lambda kv: (-kv[1], kv[0]))
            yield pd.DataFrame({"token": [t for t, _ in top], "cnt": [n for _, n in top]})

    texts = docs.select("text")
    if n_parts:
        texts = texts.repartition(n_parts, F.pmod(h64(F.col("text")), F.lit(n_parts)))
    locals_ = texts.mapInPandas(local_counts, "token string, cnt long")
    counts = locals_.groupBy("token").agg(F.sum("cnt").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    w = W.orderBy(F.desc("cnt"), F.asc("token"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


def _word_ngrams(tokens: str, n: int) -> Column:
    """The space-joined word n-grams of the array column ``tokens``, in
    order: n shifted slices of one token array zipped together. Linear
    in the token count — no per-element lambda indexing, the
    O(tokens²) CollapseProject trap shingle_arrays documents."""
    m = F.size(tokens) - (n - 1)
    grams = F.slice(tokens, 1, m)
    for i in range(2, n + 1):
        grams = F.zip_with(grams, F.slice(tokens, i, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


def bigram_stats(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k adjacent-token bigrams per language — distributed n-gram
    LM statistics (the count table behind KenLM-style estimation).

    Bigrams come from zipping the token array against itself shifted by
    one (two slices of one tokenize, no per-element lambda indexing —
    the O(tokens²) CollapseProject trap shingle_arrays documents);
    explode→count is partial+final agg keyed by (lang, bigram), and the
    per-language top-k window partitions by ``lang`` — bounded fan-in,
    no global sort anywhere. Ties break on bigram asc."""
    from pyspark.sql import Window as W

    t = docs.select("lang", tokenize("text").alias("t")).where(F.size("t") >= 2)
    bigrams = _word_ngrams("t", 2)
    counts = (
        t.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("lang", "bigram", "cnt", "rk")
    )


def lm_perplexity(docs: DataFrame) -> DataFrame:
    """Bigram-LM perplexity scoring — the CCNet-style quality signal:
    estimate a per-language bigram language model from the corpus
    itself, then score every document by its mean bigram log-probability
    (and the equivalent perplexity). Low-probability documents are the
    out-of-distribution / noisy candidates a training pipeline down-
    weights or drops.

    p(w2|w1) is the MLE ratio of exact counts (bigram count over
    prefix count, both from one aggregation — prefix counts are a
    re-aggregation of the bigram table, not a second scan), so every
    probability is the same double in any engine.

    Scale shape: bigram occurrences are two slices of one tokenize
    zipped (linear, the bigram_stats pattern — not the O(tokens²)
    higher-order-lambda trap); the LM build is one partial-agg shuffle
    keyed (lang, bigram); scoring joins occurrences back to the LM on
    the same key — at 100 TB that is the canonical score-corpus-
    against-model shuffle join (broadcast it instead when the LM fits),
    and the per-doc mean is a second partial agg. Nothing is ever
    collected."""
    t = docs.select("doc_id", "lang", tokenize("text").alias("t")).where(F.size("t") >= 2)
    bigrams = _word_ngrams("t", 2)
    occ = t.select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
    lm = occ.groupBy("lang", "bigram").agg(F.count("*").alias("c2"))
    prefix = (
        lm.withColumn("w1", F.substring_index("bigram", " ", 1))
        .groupBy("lang", "w1")
        .agg(F.sum("c2").alias("c1"))
    )
    logp = (
        lm.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(prefix, ["lang", "w1"])
        .select("lang", "bigram", F.log(F.col("c2") / F.col("c1")).alias("logp"))
    )
    return (
        occ.join(logp, ["lang", "bigram"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg("logp")), 3).alias("ppl"),
        )
    )


def boilerplate_spans(docs: DataFrame, n: int = 3, min_docs: int = 4) -> DataFrame:
    """Frequent-span boilerplate audit — the RefinedWeb/C4 hygiene step
    that flags token spans recurring across many documents (nav bars,
    cookie banners, license footers) so they can be stripped before
    training. A span is an ``n``-token shingle appearing in ≥
    ``min_docs`` DISTINCT documents; the output manifest gives each
    document its span count, how many are boilerplate, and the
    boilerplate fraction — the drop/clean decision input.

    Scale shape: shingle occurrences are zipped slices of one tokenize
    (linear, no higher-order-lambda quadratic trap), immediately
    reduced to (doc_id, 60-bit span hash) and localCheckpointed so the
    tokenize+shingle pass runs ONCE for all three consumers (frequency
    table, membership join, per-doc span count) and every downstream
    shuffle carries 8-byte keys instead of span text. The frequency
    side is NOT broadcast-hinted: on a web-scale corpus |spans with
    DF ≥ m| grows with the corpus (common 3-grams recur in ≥ m docs
    almost surely), so a forced broadcast is an OOM at 100 TB — the
    membership check is a plain hash semi-join on span_h and AQE picks
    broadcast only when the table measures small at runtime
    (tests/test_plans.py pins "no mandatory broadcast" on this edge).
    Exact integer counts throughout — hash-stable across engines."""
    t = docs.select("doc_id", tokenize("text").alias("t")).where(F.size("t") >= n)
    spans = _word_ngrams("t", n)
    occ = (
        t.select("doc_id", F.explode(spans).alias("span"))
        .select("doc_id", h64("span").alias("span_h"))
        .localCheckpoint()
    )
    freq = (
        occ.distinct()
        .groupBy("span_h")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("span_h")
    )
    flagged = occ.join(freq, "span_h", "left_semi")
    per_doc_boiler = flagged.groupBy("doc_id").agg(F.count("*").alias("n_boiler"))
    return (
        occ.groupBy("doc_id")
        .agg(F.count("*").alias("n_spans"))
        .join(per_doc_boiler, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            F.round(F.coalesce("n_boiler", F.lit(0)) / F.col("n_spans"), 4).alias("boiler_frac"),
        )
    )


def stratified_sample(docs: DataFrame, target_per_stratum: int = 50) -> DataFrame:
    """Deterministic stratified sampling: every (lang, source) stratum
    is downsampled toward ``target_per_stratum`` docs by a per-stratum
    rate, membership decided by a content-independent 60-bit hash of
    doc_id — reproducible across engines and runs, no RNG state.

    The canonical corpus-balancing step. Dataflow: one tiny stratum-size
    aggregate (|strata| rows, broadcast back), then a narrow filter over
    the corpus — the full pass never shuffles. Output is the per-stratum
    sample accounting (the sampled doc set itself is the filtered
    DataFrame; aggregating keeps the oracle result small)."""
    sizes = docs.groupBy("lang", "source").agg(F.count("*").alias("n_total"))
    rates = sizes.withColumn(
        "rate", F.round(F.least(F.lit(1.0), F.lit(target_per_stratum) / F.col("n_total")), 6)
    )
    # h64 % 10000 is uniform over [0, 10000); keep iff below rate*10000.
    # Seeded so sampling is independent of any other doc_id hash use.
    keep = (h64(F.col("doc_id").cast("string"), seed="strat|") % 10000) < F.col("rate") * 10000
    sampled = (
        docs.join(F.broadcast(rates), ["lang", "source"])
        .where(keep)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        rates.join(sampled, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "n_total",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            "rate",
        )
    )


_DEC38 = "decimal(38,0)"


def weighted_keep_expr(w_micro, n_total, w_total, rate_micro: int, seed: str = "ws|"):
    """The weighted-sampling inclusion predicate, shared VERBATIM by
    :func:`weighted_sample` and the streaming twin (their results are
    checked against ONE oracle, so the predicate must not be able to
    drift): ``pmod(h64(doc_id), 1e6) * W < rate_micro * w * N``, every
    term in DECIMAL(38,0). All arguments are Columns except the two
    Python ints."""
    return (
        F.pmod(h64(F.col("doc_id").cast("string"), seed=seed), F.lit(1_000_000)).cast(_DEC38)
        * w_total.cast(_DEC38)
    ) < F.lit(rate_micro).cast(_DEC38) * w_micro.cast(_DEC38) * n_total.cast(_DEC38)


def weighted_totals_agg():
    """The (N, W) calibration aggregate, decimal from the SUM inward:
    an int64 sum of caller-injected weights can silently WRAP past
    2^63 (inverting the keep comparison for every row), while the
    DuckDB oracle's sum is HUGEINT and would not — decimal(38,0)
    matches the oracle and degrades to NULL→empty-sample on the
    (astronomical) 38-digit overflow instead of wrapping.

    W is deliberately NOT coalesced: a NULL sum means either an empty
    corpus or a 38-digit overflow, and in both cases the NULL must
    PROPAGATE into the keep comparison (NULL predicate → every row
    dropped → the documented empty sample). The earlier
    ``coalesce(sum, 0)`` turned an overflowed W into 0, which made
    ``h·W < rate·w·N`` TRUE for every row — overflow would have
    admitted 100 % of the corpus instead of 0 % (round-10 review
    finding)."""
    return [
        F.count(F.lit(1)).cast(_DEC38).alias("n_total"),
        F.sum(F.col("w_micro").cast(_DEC38)).alias("w_total"),
    ]


def weighted_total_lit(v) -> Column:
    """Re-enter a COLLECTED calibration total (a ``decimal.Decimal``
    from :func:`weighted_totals_agg`, or ``None`` on the 38-digit
    overflow) into a plan as a DECIMAL(38,0) literal. The streaming
    twin collects (N, W) at plan time; routing the value through
    ``int()`` + ``F.lit`` would re-type it as a LongType literal and
    RAISE past int64 — exactly the overflow the decimal aggregate was
    built to absorb. String→decimal cast keeps the full 38 digits and
    lets a NULL total degrade to the documented empty sample. The
    string goes through ``int()`` first (Python ints are unbounded —
    only ``F.lit(int)`` was the trap) because ``str(Decimal)`` can
    render scientific notation ('1E+20'), which a non-ANSI cast may
    NULL out silently; plain digits are canonical in every engine."""
    if v is None:
        return F.lit(None).cast(_DEC38)
    return F.lit(str(int(v))).cast(_DEC38)


def weighted_sample(
    docs: DataFrame, rate: float = 0.2, seed: str = "ws|", weight_col: str | None = None
) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sampling — the
    importance-sampling member of the sampling family (the step that
    APPLIES a quality/DSIR-style weight to thin a corpus, where
    :func:`stratified_sample` balances strata and
    :func:`token_budget_sample` enforces a budget).

    Each doc is kept with probability ``min(1, rate * w_i * N / W)``
    (``W = Σw``), so the expected sample size is ``rate * N`` with
    inclusion odds proportional to weight. Membership is decided by a
    seeded content-independent hash, and the probability comparison is
    a MULTIPLY-compare — ``pmod(h64(doc_id), 1e6) * W <
    rate_micro * w_i * N`` — carried in DECIMAL(38,0) so no division
    and no float ever enters the decision (``h*W ≤ 1e6 · 1e16`` at
    N=1e10 docs overflows int64; decimal keeps it exact at any corpus
    size, and a zero total weight degenerates to an empty sample with
    no guarded divide needed).

    Weights default to :func:`quality_score`'s [0,1] composite in
    micro-units (requires ``text``); pass ``weight_col`` (int64
    micro-units) to supply DSIR or any other importance weight.
    ``docs`` must carry ``doc_id`` and ``source`` (the documents
    schema) — the sample keeps per-source accounting downstream. Dataflow: one narrow scoring
    pass, one 1-row (N, W) aggregate joined back (AQE broadcasts a
    1-row relation), one filter — the corpus is never shuffled.
    """
    rate_micro = int(round(rate * 1_000_000))
    if weight_col is None:
        # quality as an inline expression: ONE corpus scan (a
        # quality_score join-back would scan documents twice)
        w_expr = F.round(quality_expr() * 1_000_000).cast("long")
    else:
        w_expr = F.col(weight_col).cast("long")
    w = docs.select("doc_id", "source", w_expr.alias("w_micro"))
    tot = w.agg(*weighted_totals_agg())
    keep = weighted_keep_expr(
        F.col("w_micro"), F.col("n_total"), F.col("w_total"), rate_micro, seed
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .where(keep)
        .select("doc_id", "source", F.col("w_micro").alias("weight_micro"))
    )


def corpus_mixture(docs: DataFrame, budget_tokens: int = 1_000_000, alpha: float = 0.5) -> DataFrame:
    """Temperature-smoothed training-mixture allocation: per-language
    token counts → share of corpus → sampling weight ∝ share^alpha
    (alpha<1 upweights low-resource languages, the standard multilingual
    LM recipe) → token allocation under a budget.

    Token counting is the only corpus-sized stage (narrow scan +
    partial/final agg to |langs| rows); the normalizations are two
    single-row aggregates broadcast-joined back — no global window, no
    driver round-trip."""
    toks = (
        docs.select("lang", F.size(tokenize("text")).cast("long").alias("n"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("n_tokens"))
    )
    total = toks.agg(F.sum("n_tokens").alias("tot"))
    shared = toks.crossJoin(F.broadcast(total)).withColumn(
        "share", F.col("n_tokens") / F.col("tot")
    )
    denom = shared.agg(F.sum(F.pow("share", F.lit(alpha))).alias("z"))
    return (
        shared.crossJoin(F.broadcast(denom))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round("share", 6).alias("share"),
            F.round(F.pow("share", F.lit(alpha)) / F.col("z"), 6).alias("weight"),
            F.round(F.pow("share", F.lit(alpha)) / F.col("z") * budget_tokens, 0)
            .cast("long")
            .alias("alloc_tokens"),
        )
    )


def doc_fingerprint(docs: DataFrame, k: int = 8) -> DataFrame:
    """Rolling-hash document fingerprint: min 60-bit hash over all
    character k-grams (winnowing's global-min special case). Identical
    fingerprints ⇒ likely shared content; used as a cheap pre-filter for
    near-dedup at scale."""
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))),
        lambda i: h64(F.col("text").substr(i, F.lit(k))),
    )
    # array_min over the per-row gram hashes: a pure projection — no
    # explode, no shuffle; at 100 TB this is a single codegen'd scan.
    return docs.select("doc_id", F.array_min(gram_hashes).alias("fingerprint"))


# Gopher rule thresholds (Rae et al. 2021, appendix A1.1 — public paper)
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def _gopher_metrics() -> dict[str, Column]:
    """The five Gopher rule metrics plus the ``keep`` conjunction as
    plain Column expressions over a ``text`` column — the single
    source of truth :func:`gopher_rules` projects and composed
    pipelines (corpus_ingest_e2e) inline into their own scan, so the
    flag is the REAL operator's expression either way (the
    quality_expr precedent)."""
    toks = tokenize("text")
    n = F.size(toks)
    nn = F.greatest(n, F.lit(1))
    mean_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / nn
    alpha_ratio = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("double") / nn
    n_hash = F.length("text") - F.length(F.expr("replace(text, '#', '')"))
    n_ellipsis = (F.length("text") - F.length(F.expr("replace(text, '...', '')"))) / 3
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / nn
    stop_distinct = sum(
        F.when(F.array_contains(toks, s), 1).otherwise(0) for s in STOPWORDS
    )
    keep = (
        n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_LEN)
        & (symbol_ratio < GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_ratio > GOPHER_MIN_ALPHA_RATIO)
        & (stop_distinct >= GOPHER_MIN_STOPWORDS)
    )
    return {
        "n": n,
        "mean_len": mean_len,
        "symbol_ratio": symbol_ratio,
        "alpha_ratio": alpha_ratio,
        "stop_distinct": stop_distinct,
        "keep": keep,
    }


def gopher_keep_expr() -> Column:
    """The Gopher ``keep`` verdict as a boolean Column (the exact
    conjunction :func:`gopher_rules` emits as its int flag)."""
    return _gopher_metrics()["keep"]


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality filter: hard bounds on word
    count, mean word length, symbol-to-word ratio ('#' and '...'),
    alphabetic-word ratio, and distinct-stopword presence; ``keep`` is
    the conjunction. The standard first-pass corpus filter (C4/Gopher
    lineage), distinct from :func:`quality_score`'s soft composite.

    All built-in functions over one narrow scan — no shuffle, no UDF;
    at 100 TB this is an embarrassingly parallel filter whose selectivity
    reaches the parquet scan via the usual pushdown when composed."""
    m = _gopher_metrics()
    n, mean_len, symbol_ratio, alpha_ratio, stop_distinct, keep = (
        m["n"], m["mean_len"], m["symbol_ratio"], m["alpha_ratio"],
        m["stop_distinct"], m["keep"],
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        stop_distinct.cast("long").alias("n_stop_distinct"),
        keep.cast("int").alias("keep"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics (the Gopher repetition rules):
    fraction of bigram occurrences consumed by the single most frequent
    bigram, and the duplicate-bigram fraction — the signals that catch
    boilerplate/spam pages whose token distributions look fine.

    Bigrams are two slices of one tokenize zipped together (no
    per-element lambda indexing — the O(tokens²) CollapseProject trap
    shingle_arrays documents); explode → (doc, bigram) partial+final
    count → per-doc aggregate. Both shuffles are keyed by doc_id, so at
    100 TB the plan is two bounded-fan-in hash aggregations; no window,
    no global sort."""
    t = docs.select("doc_id", tokenize("text").alias("t")).where(F.size("t") >= 2)
    bigrams = _word_ngrams("t", 2)
    per_bigram = (
        t.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    return per_bigram.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct_bigrams"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias("top_bigram_frac"),
        F.round(F.lit(1.0) - F.count("*").cast("double") / F.sum("cnt"), 6).alias(
            "dup_bigram_frac"
        ),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Full winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003): hash every character k-gram, slide a window of ``w``
    consecutive gram hashes, keep each window's minimum; the distinct
    selected hashes are the document's fingerprint set. Guarantees any
    shared substring of length ≥ k+w-1 contributes a shared fingerprint
    — the matching-coverage property the global-min special case
    (:func:`doc_fingerprint`) trades away.

    Plan shape: gram hashes are one array projection per doc (computed
    once, then posexploded — never re-derived per element), the window
    min PARTITIONS by doc_id (bounded fan-in, no global sort), and the
    distinct is keyed by (doc_id, fingerprint). Output is ~2n/w rows
    per doc. Docs shorter than k+w-1 chars still emit one fingerprint
    (the min over their truncated first window), matching the paper's
    at-least-one guarantee."""
    from pyspark.sql import Window as W

    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))),
        lambda i: h64(F.col("text").substr(i, F.lit(k))),
    )
    # n_grams comes from length(text), NOT size(gram_hashes): the
    # complete-window filter below references it, and CollapseProject
    # inlines the referenced expression into the filter — size() of the
    # hash array would rebuild all ~|text| md5s per exploded row
    # (measured 44s vs 1s at sf0.1), length() inlines to a scalar
    n_grams = F.greatest(F.length("text") - (k - 1), F.lit(1))
    g = docs.select(
        "doc_id", n_grams.alias("n_grams"), F.posexplode(gram_hashes).alias("pos", "h")
    )
    wspec = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.currentRow, w - 1)
    return (
        g.withColumn("fp", F.min("h").over(wspec))
        # complete windows only (0-based start positions 0 .. n-w); a
        # short doc keeps its single truncated window at pos 0
        .where(F.col("pos") <= F.greatest(F.col("n_grams") - w, F.lit(0)))
        .select("doc_id", F.col("fp").alias("fingerprint"))
        .distinct()
    )


# PII patterns restricted to syntax shared verbatim by Java regex
# (Spark) and RE2 (DuckDB): char classes, \d, \b, bounded repeats.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII detection + redaction: count and replace emails, IPv4
    addresses, and phone-shaped numbers — the standard pre-training
    privacy scrub. Counts are taken on the ORIGINAL text (independent
    per pattern); redaction applies email → IP → phone in that fixed
    order so overlapping matches resolve identically everywhere.

    Output is the per-doc audit record (match counts + a 60-bit hash of
    the scrubbed text) rather than the scrubbed corpus itself — in a
    pipeline the same projection feeds the write path. One narrow
    built-in-only scan: regexp count/replace are JVM-side, zero
    shuffle, embarrassingly parallel at any corpus size."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]"), PII_IP_RE, "[IP]"
        ),
        PII_PHONE_RE,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PII_IP_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE_RE), 0)).cast("long").alias("n_phones"),
        h64(scrubbed).alias("scrub_hash"),
    )


def tf_idf(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic relevance/keyword
    extraction statistic (tf · ln(N/df)).

    Dataflow: one tokenize+explode scan → (doc, token) counts (partial+
    final agg) → document frequencies derived FROM the tf table (an
    aggregate of an aggregate, no second corpus scan) → broadcast the
    single-row corpus size → per-doc top-k window PARTITIONED by doc_id.
    The tf table feeds two consumers (df aggregation + the join back),
    so it is localCheckpoint'ed once — at 100 TB that materialization is
    |doc, distinct-token| rows of 24 bytes, the standard trade against
    re-running the corpus scan. Ranking orders by the ROUNDED score so
    cross-engine float noise below 1e-6 cannot flip ranks; ties break
    on token asc."""
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "rk")
    )


def inverted_index(docs: DataFrame) -> DataFrame:
    """Token → sorted posting list of containing documents, plus
    document frequency — the search-index build step.

    One tokenize scan → distinct (doc, token) → groupBy token with a
    sorted collect_list. Postings are bounded by |docs containing the
    token|; at 100 TB the head of the vocabulary (stopwords) produces
    pathological lists — production shards postings by (token,
    doc_id range) and delta-encodes; here the list rides whole because
    the oracle compares it value-for-value. The library API keeps
    ``postings`` typed (sorted array<long>); the registered query in
    ``queries.py`` flattens it to a comma-joined string because the
    driver's row comparator can only sort flat scalar cells."""
    pairs = docs.select("doc_id", F.explode(tokenize("text")).alias("token")).distinct()
    return pairs.groupBy("token").agg(
        F.count("*").cast("long").alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )


# context-window chunking defaults, shared with the DuckDB oracle in
# queries.py so the two cannot drift
CHUNK_SIZE = 64
CHUNK_OVERLAP = 16


def chunk_documents(
    docs: DataFrame, chunk_size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """Split each document into overlapping token windows — the
    RAG/context-window chunker: chunk k covers tokens
    [k*stride, k*stride + chunk_size) with stride = chunk_size - overlap,
    so consecutive chunks share ``overlap`` tokens and every token is
    covered.

    Pure narrow pipeline (tokenize → explode window starts → slice):
    zero shuffle, rows fan out by ceil(n_tokens/stride) — at 100 TB this
    is a scan-bound map, exactly like tokenization itself. Empty chunks
    (empty documents) are dropped.
    """
    stride = chunk_size - overlap
    assert stride > 0, "overlap must be smaller than chunk_size"
    base = docs.select("doc_id", tokenize("text").alias("toks"))
    # start grid stops at n - overlap - 1: a later start would yield a
    # chunk wholly CONTAINED in its predecessor (pure duplicate rows
    # downstream); the last emitted chunk still reaches the final token
    # because n - s_max <= chunk_size by construction.
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - (overlap + 1), F.lit(0)),
        F.lit(stride),
    )
    chunked = base.select("doc_id", "toks", F.explode(starts).alias("start"))
    chunk = F.slice("toks", F.col("start") + 1, chunk_size)
    return (
        chunked.select(
            "doc_id",
            F.expr(f"start div {stride}").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .where(F.col("n_tokens") > 0)
    )


# sequence-packing defaults, shared with the DuckDB oracle
PACK_BUDGET = 512
PACK_SHARD = 1000


def pack_training_sequences(
    docs: DataFrame, budget: int = PACK_BUDGET, shard_size: int = PACK_SHARD
) -> DataFrame:
    """Greedy in-order packing of documents into fixed token-budget
    training sequences — the pretraining batch packer: within each
    shard, documents are taken in doc_id order and a document starts in
    the sequence its cumulative-token offset falls in (a document may
    overflow its sequence; the trainer truncates or wraps downstream —
    the standard greedy contract).

    Packing is PER SHARD (doc_id div shard_size), deliberately: a
    global in-order pack needs a global cumulative sum (one partition —
    the exact shape that dies at 100 TB), while per-shard packing is one
    hash shuffle on shard and an intra-partition window, and shards are
    how training data is laid out anyway (write_training_shards).

    Output: one row per packed sequence (shard, seq_id, n_docs,
    seq_tokens, first_doc, last_doc).

    Domain note: doc_id must be non-negative (true for every fixture
    and any sane corpus id) — Spark's ``div`` truncates toward zero
    while the DuckDB oracle's ``//`` floors, and the two only agree on
    non-negative operands.
    """
    base = docs.select(
        "doc_id",
        F.expr(f"doc_id div {shard_size}").alias("shard"),
        F.size(tokenize("text")).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        base.withColumn("cum_before", cum_before)
        .withColumn("seq_id", F.expr(f"cum_before div {budget}"))
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# DSIR defaults, shared with the DuckDB oracle
DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCE = "src0"


def dsir_weights(
    docs: DataFrame, target_source: str = DSIR_TARGET_SOURCE, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document by the log-likelihood ratio
    of its hashed-unigram features under a target-domain language model
    vs the raw-corpus language model. Documents that look like the
    target domain get positive log-weights; sampling proportional to
    exp(weight) yields a target-like pretraining mixture. The target
    here is the slice ``source == target_source`` — in production, a
    trusted high-quality corpus (Wikipedia, books).

    Both LMs are Laplace-smoothed bucket distributions:
    p[b] = (count[b] + 1) / (total + buckets), so every probability is
    a ratio of exact integers — bit-identical in any engine.

    Scale shape: feature extraction is a narrow tokenize + hash-mod
    pass; each LM is one partial-agg shuffle to at most ``buckets``
    rows; the per-bucket log-ratio table is tiny by construction
    (<= buckets rows) and BROADCAST back onto the token stream, so
    scoring the 100 TB corpus is a map-side join + one per-doc partial
    agg. Nothing is collected; no stage is quadratic."""
    occ = docs.select(
        "doc_id",
        "source",
        F.explode(tokenize("text")).alias("tok"),
    ).select("doc_id", "source", (h64(F.col("tok"), seed="dsir|") % buckets).alias("bucket"))
    raw = occ.groupBy("bucket").agg(F.count("*").alias("c_raw"))
    tgt = (
        occ.where(F.col("source") == target_source)
        .groupBy("bucket")
        .agg(F.count("*").alias("c_tgt"))
    )
    totals = occ.agg(
        F.count("*").alias("t_raw"),
        F.count(F.when(F.col("source") == target_source, 1)).alias("t_tgt"),
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.coalesce("c_tgt", F.lit(0)) + 1) / (F.col("t_tgt") + buckets))
                - F.log((F.col("c_raw") + 1) / (F.col("t_raw") + buckets))
            ).alias("lr"),
        )
    )
    return (
        occ.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("lr"), 4).alias("avg_log_ratio"),
        )
    )


# token-budget sampler defaults, shared with the DuckDB oracle
BUDGET_TOKENS = 2000
BUDGET_BUCKETS = 8


def token_budget_sample(
    docs: DataFrame, budget_tokens: int = BUDGET_TOKENS, n_buckets: int = BUDGET_BUCKETS
) -> DataFrame:
    """Deterministic token-budget subsampling: select documents per
    language, in a content-independent pseudo-random order, until a
    per-language token budget is exhausted — the "give me N tokens of
    French" corpus-assembly primitive.

    The naive form is a per-language global cumulative sum — ONE
    partition per language, dead at 100 TB. The scale form implemented
    here splits each language into ``n_buckets`` hash buckets, gives
    each bucket ``budget_tokens / n_buckets`` (integer division;
    deliberately conservative), and runs the cumulative admission scan
    WITHIN each (lang, bucket) — parallelism = langs x buckets, every
    sort bounded by a bucket's docs. A document is admitted iff the
    bucket budget is not yet exhausted when it arrives (the admitting
    doc may overshoot; standard greedy contract). Hash order + doc_id
    tie-break makes the result independent of physical row order.

    Output: the admission manifest (doc_id, lang, bucket, n_tokens,
    cum_before), hash-reproducible in any engine."""
    from pyspark.sql import Window as W

    bucket_budget = budget_tokens // n_buckets
    base = docs.select(
        "doc_id",
        "lang",
        (h64(F.col("doc_id").cast("string"), seed="budget|") % n_buckets).alias("bucket"),
        h64(F.col("doc_id").cast("string"), seed="order|").alias("ord"),
        F.size(tokenize("text")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang", "bucket")
        .orderBy("ord", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        base.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .where(F.col("cum_before") < bucket_budget)
        .select("doc_id", "lang", "bucket", "n_tokens", "cum_before")
    )


class ChunkerUDTF:
    """Python UDTF form of :func:`chunk_documents` — the reference's
    ``Mapper`` contract (a per-row flatMap hook, reference
    mapper.go:13-20) exposed through Spark's native user-defined
    table-function API instead of the MapReduce facade. Same chunk
    grid, same outputs; ``tests/test_operators.py`` asserts exact
    parity with the Catalyst-native chunker and the DuckDB oracle is
    shared verbatim.

    UDTFs are the slow path (per-row Python) — the point here is API
    fidelity, not speed; the Catalyst form remains the production
    chunker. Module-level so executors can unpickle it."""

    def eval(self, doc_id, text: str):
        from .wordcount import py_tokenize

        stride = CHUNK_SIZE - CHUNK_OVERLAP
        toks = py_tokenize(text or "")
        smax = max(len(toks) - (CHUNK_OVERLAP + 1), 0)
        for s in range(0, smax + 1, stride):
            chunk = toks[s : s + CHUNK_SIZE]
            if chunk:
                yield s // stride, len(chunk), " ".join(chunk)


def chunk_documents_udtf(docs: DataFrame) -> DataFrame:
    """Run :class:`ChunkerUDTF` over documents via a SQL LATERAL join —
    output schema identical to :func:`chunk_documents`."""
    from pyspark.sql.functions import udtf

    spark = docs.sparkSession
    chunker = udtf(ChunkerUDTF, returnType="chunk_id long, n_tokens long, chunk_text string")
    spark.udtf.register("doc_chunker_udtf", chunker)
    docs.select("doc_id", "text").createOrReplaceTempView("docs_for_chunk_udtf")
    return spark.sql(
        "SELECT doc_id, c.chunk_id, c.n_tokens, c.chunk_text "
        "FROM docs_for_chunk_udtf, LATERAL doc_chunker_udtf(doc_id, text) c"
    )


# fixed logistic-regression weights for the classifier inference demo —
# in production these come from a trained fastText/linear model; the
# INFERENCE dataflow (featurize → dot → sigmoid → threshold) is what
# this operator pins, and it is identical whatever the weights say
QC_WEIGHTS = {
    "bias": -2.0,
    "len_score": 1.8,
    "stop_ratio": 3.0,
    "ttr": 1.2,
    "alpha_ratio": 1.5,
}


def _qc_num_den() -> tuple[Column, Column]:
    """The classifier's exact-rational logit as (num, den) Column
    expressions over a ``text`` column — the single source of truth
    :func:`quality_classifier` projects and composed pipelines
    (corpus_ingest_e2e) inline into their own scan."""
    toks = tokenize("text")
    nt = F.size(toks).cast("long")
    n = F.greatest(nt, F.lit(1))
    L = F.greatest(F.length("text").cast("long"), F.lit(1))
    s = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    u = F.size(F.array_distinct(toks)).cast("long")
    a = F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("long")
    # 10·logit · (100·n·L) — int64: |NUM| ≤ 9500·n·L (term bounds
    # s,u ≤ n and a ≤ L), so num itself is safe while n·L < ~9.7e14
    # (a 1e5-token doc of 1e6 chars sits at 9.5e14 — inside). The
    # ROUNDING step multiplies by a further 2·10⁴, which would blow
    # int64 at n·L ≈ 4.8e13 (a multi-MB document) and wrap silently
    # under non-ANSI Spark — so that step runs in DECIMAL(38,0)
    # below, which is exact to 1e38 (`keep` compares raw num and
    # never needed the headroom)
    num = (
        F.lit(-2000) * n * L
        + F.lit(18) * F.least(nt, F.lit(100)) * n * L
        + F.lit(3000) * s * L
        + F.lit(1200) * u * L
        + F.lit(1500) * a * n
    )
    den = F.lit(1000) * n * L
    return num, den


def quality_keep_expr() -> Column:
    """The classifier's keep verdict (p ≥ 0.5 ⇔ exact logit ≥ 0) as a
    boolean Column — the exact flag :func:`quality_classifier` emits."""
    return _qc_num_den()[0] >= 0


def quality_classifier(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Model-based quality filtering, inference side: engineered
    features (length, stopword ratio, type-token ratio, alpha ratio —
    the same family :func:`quality_score` exposes raw) through a fixed
    linear model + sigmoid, thresholded into a keep flag. This is the
    classifier stage every production corpus pipeline runs after the
    hard rule filters (:func:`gopher_rules`): rules kill the obvious
    garbage, the model ranks the grey zone.

    Entirely closed-form scalar math → one narrow scan at any size.

    Cross-engine exactness (round-10 sf0.1 sweep finding): every
    feature is a ratio of exact integer counts and every weight has
    one decimal, so the logit is the exact rational NUM / (1000·n·L)
    — and the 4-decimal HALF-UP rounding is done IN int64 (sign ·
    (2·|NUM|·10⁴ + DEN) div (2·DEN), the pmod-free signed form of the
    repo's integer half-up doctrine). Rounding the double instead
    diverges between engines whenever the true value sits exactly on
    a half: Spark rounds the shortest decimal repr (BigDecimal
    HALF_UP → 0.78175 → 0.7818) while DuckDB rounds the binary double
    (0.781749999… → 0.7817). The keep flag compares NUM ≥ 0 (sigmoid
    is monotone; p ≥ 0.5 ⇔ logit ≥ 0) — no float ever decides it.
    p_keep still rounds the double sigmoid — exp() has no exact form
    — but its input is the bit-identical exact logit in both engines
    (residual risk: a cross-libm exp() ulp landing exactly on a
    4-decimal half)."""
    if threshold != 0.5:
        raise ValueError(
            "quality_classifier's exact keep flag encodes p >= 0.5 as "
            f"logit >= 0; threshold={threshold} needs logit >= ln(t/(1-t)) "
            "— extend the integer comparison before changing it"
        )
    num, den = _qc_num_den()
    # signed HALF_UP to 4 decimals in exact integers (away from zero);
    # `div` is int64 division — a float `/` + floor can be off by one
    # when the quotient sits within an ulp of an integer
    feat = docs.select("doc_id", num.alias("num"), den.alias("den"))
    # decimal(38,0) arithmetic for the ×2·10⁴ blow-up only; `div` on
    # decimals is still integral division returning BIGINT, so the
    # value is bit-identical to the int64 form wherever that form
    # didn't overflow (tri-SF hash parity re-pinned after this change)
    logit4 = F.signum("num").cast("long") * F.expr(
        "(2 * 10000 * cast(abs(num) as decimal(38,0)) + den) div (2 * cast(den as decimal(38,0)))"
    )
    logit = logit4.cast("double") / F.lit(10_000.0)
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return feat.select(
        "doc_id",
        logit.alias("logit"),
        F.round(prob, 4).alias("p_keep"),
        (F.col("num") >= 0).cast("boolean").alias("keep"),
    )


def corpus_quality_report(docs: DataFrame) -> DataFrame:
    """Per-(lang, source) governance rollup — the dashboard view a data
    team actually reads before a training run, composing the hygiene
    signals in one pass: volume (docs, tokens), exact-duplicate rate
    (distinct text hashes vs rows), classifier keep-rate
    (:func:`quality_classifier` semantics inline), and mean doc length.

    Everything is a mergeable aggregate over ONE scan of the corpus
    (the dup rate uses count(distinct hash) — Spark's two-phase
    distinct aggregate — rather than a join against exact_dedup), so
    the report costs a single partial-agg shuffle keyed by the
    (lang, source) slice at any corpus size."""
    toks = tokenize("text")
    n = F.greatest(F.size(toks), F.lit(1))
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    alpha_ratio = F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast(
        "double"
    ) / F.greatest(F.length("text"), F.lit(1))
    len_score = F.least(F.size(toks).cast("double") / F.lit(100.0), F.lit(1.0))
    w = QC_WEIGHTS
    logit = (
        F.lit(w["bias"])
        + F.lit(w["len_score"]) * len_score
        + F.lit(w["stop_ratio"]) * stop_ratio
        + F.lit(w["ttr"]) * ttr
        + F.lit(w["alpha_ratio"]) * alpha_ratio
    )
    keep = (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))) >= 0.5
    base = docs.select(
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        h64(F.col("text")).alias("content_hash"),
        keep.cast("int").alias("keep"),
    )
    return base.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.countDistinct("content_hash").alias("n_distinct"),
        F.round(
            (F.count("*") - F.countDistinct("content_hash")) / F.count("*").cast("double"), 6
        ).alias("dup_rate"),
        F.round(F.avg("keep"), 6).alias("keep_rate"),
    )


# BM25 defaults, shared with the DuckDB oracle
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("table", "query", "spark")


def bm25_search(
    docs: DataFrame, query_terms: tuple[str, ...] = BM25_QUERY, k: int = 15
) -> DataFrame:
    """BM25 ranked retrieval over the corpus (the Lucene/Okapi scoring
    function) — how a training-data pipeline pulls topical slices
    ("give me the docs about X") without an embedding model:
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).

    Every input is an exact integer count (tf, df, N, dl) and avgdl is
    one exact ratio, so the score is the same double in any engine
    before the 1e-6 rounding.

    Scale shape: the term filter reaches the tokenize scan (only query
    terms survive the explode); tf is one partial-agg shuffle bounded
    by |matching docs|·|terms|; df/N/avgdl are tiny aggregates
    broadcast back; the final top-k is TakeOrdered (per-partition
    partial top-k), never a global sort. An inverted-index lookup
    (:func:`inverted_index`) replaces the scan side when the index is
    materialized."""
    terms = [t for t in query_terms]
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    stats = toks.select("doc_id", F.size("t").cast("long").alias("dl"))
    corpus = stats.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    occ = toks.select("doc_id", F.explode("t").alias("term")).where(F.col("term").isin(terms))
    tf = occ.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = df_t.crossJoin(F.broadcast(corpus)).select(
        "term",
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf"),
        "avgdl",
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(stats, "doc_id")
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    from pyspark.sql import Window as W

    scored = (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c"), 6).alias("score"), F.count("*").alias("n_terms_hit"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    return scored.withColumn(
        "rk",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .cast("long"),
    )


def vocab_coverage(docs: DataFrame, ks: tuple[int, ...] = (5, 10, 25)) -> DataFrame:
    """Vocabulary-size vs corpus-coverage curve — the tokenizer-design
    question ("how big a vocab covers 95% of tokens?") answered from
    exact counts: rank tokens by global frequency (ties by token text,
    so the rank is total and cross-engine identical) and report, for
    each candidate vocab size k, the fraction of all token occurrences
    covered by the top-k types. (The fixture corpus draws from a ~30-
    type synthetic vocabulary, so the default curve probes 5/10/25; a
    real corpus passes ks=(1e4, 5e4, 1e5).)

    The global rank is a single-partition window over the VOCAB (types,
    not occurrences) — the standard and correct shape: a vocabulary is
    orders of magnitude smaller than its corpus (50M types for a 100 TB
    corpus fits one task comfortably), and everything corpus-sized
    stays in the partial-agg count."""
    freq = (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("n").desc(), F.col("tok").asc())
    ranked = freq.withColumn("rk", F.row_number().over(w)).withColumn(
        "cum", F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    total = freq.agg(F.sum("n").alias("tot"))
    ks_df = docs.sparkSession.createDataFrame([(k,) for k in ks], "k long")
    return (
        ranked.join(F.broadcast(ks_df), ranked["rk"] == ks_df["k"])
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            F.col("cum").cast("long").alias("covered_tokens"),
            F.round(F.col("cum") / F.col("tot").cast("double"), 6).alias("coverage"),
        )
    )


def bpe_pair_counts(docs: DataFrame, top_k: int = 10) -> DataFrame:
    """One BPE-training iteration, the corpus-side half of tokenizer
    construction (Sennrich et al. 2016): per language, the ``top_k``
    most frequent ADJACENT CHARACTER pairs inside words — the pair a
    byte-pair-encoding trainer would merge next. Re-running after each
    merge (with the merged symbol substituted) is the full training
    loop; the expensive corpus pass is exactly this query each round.

    Scale shape: the pair fan-out is a narrow transform over a
    sequence (one substr per position — linear, no quadratic lambda
    trap), counts partial-agg on (lang, pair) whose key space is
    bounded by the symbol alphabet squared, and the top-k window runs
    over that tiny aggregate partitioned by lang. Exact integer
    counts; ties rank deterministically by pair string."""
    words = docs.select(
        "lang", F.explode(tokenize("text")).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
    )
    from pyspark.sql import Window as W

    counts = pairs.groupBy("lang", "pair").agg(F.count("*").alias("n"))
    rk = F.row_number().over(W.partitionBy("lang").orderBy(F.desc("n"), "pair"))
    return (
        counts.withColumn("rank", rk)
        .where(F.col("rank") <= top_k)
        .select("lang", "pair", F.col("n").cast("long").alias("n"), F.col("rank").cast("int").alias("rank"))
    )


def sparse_doc_similarity(docs: DataFrame, max_df: int = 50, top_k: int = 50) -> DataFrame:
    """Sparse lexical doc-similarity: global top-k document pairs by
    cosine over tf-weighted TRIGRAM-shingle vectors, computed through
    an inverted-index self-join — the sparse complement of the dense
    embedding ANN family and the tf-weighted cousin of
    ngram_jaccard_pairs' set semantics.

    Scale shape: shingle tf vectors come from one tokenize pass
    (zipped-slice trigrams, 60-bit hashed, localCheckpointed for the
    posting/norm consumers); postings with document frequency above
    ``max_df`` are DROPPED before the self-join (the hot-posting cap —
    the retrieval twin of the LSH hot-bucket cap: a stop-shingle's
    posting list is quadratic in df and contributes near-zero
    discrimination), so pair volume is bounded by Σ_terms df² ≤
    max_df·Σdf, never |corpus|². Dot products and norms are exact
    int64 sums (order-independent), the cosine divides those exact
    integers once, and the global top-k is a distributed TakeOrdered
    with (sim, doc_a, doc_b) tie-breaks — cross-engine-stable."""
    t = docs.select("doc_id", tokenize("text").alias("t")).where(F.size("t") >= 3)
    grams = _word_ngrams("t", 3)
    tf = (
        t.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", h64("g").alias("g_h"))
        .groupBy("doc_id", "g_h")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    # df filter stays groupBy + join-back: the ppjoin count-over-window
    # idiom was A/B'd here in r15 and measured equal-to-worse (1.85 vs
    # 2.2 s best case on a matched window) — unlike ppjoin, tf is NOT
    # pre-partitioned on g_h, so the window buys no exchange and its
    # per-posting sort replaces a map-side-combined partial aggregate
    # of a far smaller relation. Negative result recorded in
    # OPTIMIZATION_r15.md.
    keep = (
        tf.groupBy("g_h")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("g_h")
    )
    post = tf.join(keep, "g_h")
    a, b = post.alias("a"), post.alias("b")
    dots = (
        a.join(b, (F.col("a.g_h") == F.col("b.g_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    norms = post.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("nrm"))
    return (
        dots.join(norms.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nrm", "na"), "doc_a")
        .join(norms.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nrm", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("dot").cast("long").alias("dot"),
            F.round(F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(top_k)
    )


def synth_html_pages(docs: DataFrame) -> DataFrame:
    """Deterministic HTML corpus from the documents table (the fixture
    ships no HTML; same pattern as the synthetic codec payloads): each
    doc's text wrapped in a realistic page — head with script/style
    blocks, nav bar, two paragraphs, footer with links — so the
    stripper below has real chrome to remove. Pure concat, so the
    oracle rebuilds it with ``||``."""
    t = F.col("text")
    half = (F.length(t) / 2).cast("int")
    page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><script>var x = 1; track();</script>"
              "<style>.nav{color:#333}</style></head><body>"
              "<nav><a href=\"/home\">Home</a> | <a href=\"/about\">About</a></nav><p>"),
        F.substring(t, F.lit(1), half),
        F.lit("</p><p>"),
        t.substr(half + 1, F.length(t)),
        F.lit("</p><footer>&copy; 2024 Example Corp "
              "<a href=\"/privacy\">Privacy</a> &amp; <a href=\"/tos\">Terms</a>"
              "</footer></body></html>"),
    )
    return docs.select("doc_id", page.alias("html"))


def html_boilerplate_strip(docs: DataFrame, max_link_density: float = 0.25) -> DataFrame:
    """C4/trafilatura-style HTML → training-text extraction: drop
    script/style blocks, count chrome (tags, links), strip the
    remaining markup, decode the common entities, collapse whitespace
    — and gate on LINK DENSITY (anchor-text chars / clean chars), the
    classic nav/menu-page discriminator. Runs on the deterministic
    synthetic pages so the whole path is oracle-verifiable; point it
    at a real crawl column unchanged.

    Every step is a built-in regexp in the Java-regex/RE2 shared
    subset (the pii_scrub doctrine, incl. the inline (?s) DOTALL flag
    both engines accept), so the plan is one narrow whole-stage-codegen
    scan — zero shuffles, linear at any corpus size."""
    pages = synth_html_pages(docs)
    no_blocks = F.regexp_replace(
        F.regexp_replace("html", r"(?s)<script[^>]*>.*?</script>", " "),
        r"(?s)<style[^>]*>.*?</style>",
        " ",
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(no_blocks, r"<[^>]+>", " "),
                        "&copy;", "(c)"),
                    "&amp;", "&"),
                "&lt;|&gt;", " "),
            r"\s+", " ",
        )
    )
    anchors = F.regexp_extract_all(no_blocks, F.lit(r"(?s)<a[^>]*>(.*?)</a>"), 1)
    anchor_chars = F.aggregate(anchors, F.lit(0), lambda acc, a: acc + F.length(F.trim(a)))
    link_density = F.round(
        anchor_chars.cast("double") / F.greatest(F.length(clean), F.lit(1)), 6
    )
    return pages.select(
        "doc_id",
        F.size(F.regexp_extract_all("html", F.lit(r"<a[\s>]"), 0)).cast("long").alias("n_links"),
        F.size(F.regexp_extract_all("html", F.lit(r"<[^>]+>"), 0)).cast("long").alias("n_tags"),
        F.length(clean).cast("long").alias("clean_len"),
        link_density.alias("link_density"),
        h64(clean).alias("clean_hash"),
        (link_density <= max_link_density).alias("kept"),
    )


def pmi_collocations(docs: DataFrame, min_count: int = 5, k: int = 30) -> DataFrame:
    """Top-k adjacent-token collocations by pointwise mutual
    information — the classic multiword-expression miner (Church &
    Hanks 1990): PMI = ln(P(w1,w2) / (P(w1)P(w2))) over the adjacent-
    pair event space, high when a pair co-occurs far above chance.
    Tokenizer-vocabulary curation uses exactly this signal to decide
    which frequent pairs deserve a merged token.

    Every probability is a ratio of EXACT integer counts from one
    tokenize scan (unigram and bigram counts are both partial+final
    aggs), and the PMI expression is written operation-for-operation
    identically in the DuckDB oracle, so the 1e-6-rounded score is
    hash-stable. The ``min_count`` floor drops the unstable singleton
    tail BEFORE the joins (PMI is maximal for hapax pairs — pure
    noise — and the floor is also what bounds the join input).

    Scale shape: the bigram rollup shuffles once on the pair; the two
    unigram joins are vocabulary-keyed equi-joins left UNHINTED
    (vocabulary grows with the corpus — AQE broadcasts the filtered
    count tables at test scale, shuffles at 100 TB, per the no-forced-
    broadcast doctrine); the corpus totals are 1-row broadcast crosses;
    the global top-k is TakeOrdered, never a full sort."""
    t = docs.select(tokenize("text").alias("t"))
    uni = t.select(F.explode("t").alias("w")).groupBy("w").agg(F.count("*").alias("c1"))
    n1 = uni.agg(F.sum("c1").alias("n1"))
    pair = F.zip_with(
        F.slice("t", 1, F.size("t") - 1),
        F.slice("t", 2, F.size("t") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big_all = (
        t.where(F.size("t") >= 2)
        .select(F.explode(pair).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    n2 = big_all.agg(F.sum("c2").alias("n2"))
    scored = (
        big_all.where(F.col("c2") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b")), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            F.col("c2").cast("long").alias("c2"),
            F.round(
                F.log(
                    (F.col("c2").cast("double") * F.col("n1") * F.col("n1"))
                    / (F.col("n2").cast("double") * F.col("c1a") * F.col("c1b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    from pyspark.sql import Window as W

    order = [F.desc("pmi"), F.asc("w1"), F.asc("w2")]
    return (
        scored.orderBy(*order)
        .limit(k)  # TakeOrderedAndProject: distributed partial top-k
        .withColumn("rk", F.row_number().over(W.orderBy(*order)).cast("long"))
    )


# BPE training knobs: the merge table is the TRAINED ARTIFACT (its
# size is the vocab budget); the word-frequency head bounds driver
# state — classic BPE (Sennrich et al. 2016) trains on the word-freq
# dictionary, so the corpus-scale work is exactly one word count.
# Head-truncation fidelity (round-7 verdict item 3, measured in
# tests/test_bpe_fidelity.py): on the fixtures the full dict IS the
# head (vocab 31 << 2000) so head == full exactly; on a synthetic
# 6000-word Zipf corpus whose tail past rank 2000 holds ~9 % of the
# token mass, head-2000 training still reproduces full-dict training
# EXACTLY for the first 35 merges — comfortably past BPE_N_MERGES=24.
# The divergence point scales with vocab budget: callers training
# deeper merge tables should raise top_words proportionally, or pass
# top_words=None (full dict — the VERIFICATION twin) when the
# dictionary fits on the driver.
BPE_N_MERGES = 24
BPE_TOP_WORDS = 2000


def _bpe_word_freqs(docs: DataFrame, top_words: int | None) -> list[tuple[str, int]]:
    """The DISTRIBUTED half of BPE training: one corpus word count
    (tokenize scan + partial+final agg), reduced to the deterministic
    frequency head via TakeOrdered (count desc, word asc). Driver
    state is bounded by ``top_words`` at any corpus size.

    ``top_words=None`` collects the FULL dictionary (sorted the same
    way) — the verification-mode twin per the exact/approx doctrine:
    driver state then scales with |vocabulary|, so it is for fidelity
    audits at sample scale, not the 100 TB path."""
    counted = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
    )
    rows = (counted if top_words is None else counted.limit(top_words)).collect()
    return [(r["w"], r["n"]) for r in rows]


def _bpe_rewrite(syms: list[str], left: str, right: str, fused: str) -> list[str]:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    (left, right) symbol pair — the rewrite step both merge loops and
    the encode pass share, so their semantics cannot drift apart."""
    i, out = 0, []
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(fused)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_merge_loop_reference(
    freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The textbook merge loop (Sennrich et al. 2016, Algorithm 1
    verbatim): full pair recount over every word each iteration, merge
    the argmax, repeat. O(n_merges × Σ|word|) — the REFERENCE
    SEMANTICS, kept as the parity twin for :func:`_bpe_merge_loop`
    (tests/test_bpe_fidelity.py asserts the fast loop reproduces it
    exactly) and measured in SCALE.md's production-depth table (~100×
    slower at n_merges=1k on a 100k-word dict). Deterministic: ties
    break (count desc, pair lex asc); words carry an end-of-word
    sentinel so suffixes and free tokens stay distinct symbols."""
    from collections import Counter

    words = [([*w] + ["</w>"], n) for w, n in freqs]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        for syms, n in words:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        (left, right), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right, cnt))
        fused = left + right
        for k, (syms, n) in enumerate(words):
            words[k] = (_bpe_rewrite(syms, left, right, fused), n)
    return merges


def _bpe_merge_loop(freqs: list[tuple[str, int]], n_merges: int) -> list[tuple[int, str, str, int]]:
    """Driver-side merge selection over the bounded word-freq dict —
    the INCREMENTAL form every production BPE trainer uses (HF
    tokenizers' priority queue, Sennrich's indexed learn_bpe): pair
    counts are maintained by exact deltas (only words CONTAINING the
    merged pair are touched, found via a pair→word inverted index) and
    the argmax comes from a lazy max-heap keyed (-count, pair) — the
    same (count desc, pair lex asc) tie order as the reference loop,
    whose full-recount semantics this reproduces EXACTLY (parity
    pinned in tests/test_bpe_fidelity.py at fixture and synthetic-Zipf
    scale; byte-identical VALUES oracles unchanged). Init is
    O(Σ|word|); each merge costs O(words containing the pair × their
    length) instead of a full dict sweep — at production depth
    (n_merges=32k over a 100k-word Zipf dict) that is minutes instead
    of the reference loop's days (measured: SCALE.md round-9 table).

    When even the frequency HEAD cannot fit on the driver, the
    distributed escape hatch keeps the same iteration structure with
    Spark doing each round's work: symbolized words live in a
    DataFrame, each round is (1) a pair-count partial+final agg
    (exactly :func:`bpe_pair_counts`'s shape), (2) TakeOrdered(1) for
    the argmax under the same tie order, (3) one narrow mapInPandas
    rewrite pass of words containing the pair — O(n_merges) tiny jobs,
    each corpus-bounded, none driver-bounded. That trades driver
    memory for per-round scheduling latency, so it only wins when the
    dict genuinely exceeds driver memory — document-scale corpora
    with bounded vocab heads never need it."""
    import heapq

    words = [([*w] + ["</w>"], n) for w, n in freqs]
    stats: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], dict[int, int]] = {}
    for k, (syms, n) in enumerate(words):
        for p in zip(syms, syms[1:]):
            stats[p] = stats.get(p, 0) + n
            d = where.setdefault(p, {})
            d[k] = d.get(k, 0) + 1
    heap = [(-c, p) for p, c in stats.items() if c > 0]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # lazy-pop stale entries (count changed since push)
        while heap and stats.get(heap[0][1], 0) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap:
            break
        cnt = -heap[0][0]
        left, right = heap[0][1]
        merges.append((rank, left, right, cnt))
        fused = left + right
        touched: set[tuple[str, str]] = set()
        for k in list(where.get((left, right), {})):
            syms, n = words[k]
            new_syms = _bpe_rewrite(syms, left, right, fused)
            # exact deltas: retract this word's old pairs, add its new ones
            for p in zip(syms, syms[1:]):
                stats[p] -= n
                d = where[p]
                d[k] -= 1
                if d[k] == 0:
                    del d[k]
                touched.add(p)
            for p in zip(new_syms, new_syms[1:]):
                stats[p] = stats.get(p, 0) + n
                d = where.setdefault(p, {})
                d[k] = d.get(k, 0) + 1
                touched.add(p)
            words[k] = (new_syms, n)
        for p in touched:
            c = stats.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p))
            else:
                stats.pop(p, None)
                where.pop(p, None)
    return merges


def bpe_learn_merges(
    docs: DataFrame, n_merges: int = BPE_N_MERGES, top_words: int | None = BPE_TOP_WORDS
) -> DataFrame:
    """Full BPE tokenizer training: the learned merge table
    (rank, left, right, pair_count) — ``bpe_pair_counts`` showed ONE
    iteration's corpus statistics; this runs the whole loop. The
    distributed cost is the word count (the only corpus-sized pass);
    merge selection operates on the bounded frequency head, exactly
    how production BPE trainers split the work. Oracle: precomputed
    VALUES from an independent reference implementation
    (tools/gen_bpe_oracle.py), self-checked at generation time."""
    spark = docs.sparkSession
    merges = _bpe_merge_loop(_bpe_word_freqs(docs, top_words), n_merges)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


def bpe_encode_stats(
    docs: DataFrame, n_merges: int = BPE_N_MERGES, top_words: int | None = BPE_TOP_WORDS
) -> DataFrame:
    """Apply the learned merge table to the WHOLE corpus — the encode
    pass every training-data pipeline runs after tokenizer training —
    and report per-language compression: words, BPE tokens, fertility
    (tokens/word, the tokenizer-quality headline number), and how many
    words encode to a single symbol.

    Scale shape: the merge table rides in the task closure (bounded
    artifact); encoding is ONE Arrow-batched mapInPandas pass with a
    per-word memo (Zipf makes the hit rate extreme), followed by a
    per-lang partial+final agg — no shuffle before the tiny rollup.
    Exact integer counts; the fertility ratio rounds once."""
    import pandas as pd

    from .wordcount import PY_WS_RE

    merges = [(m[1], m[2]) for m in _bpe_merge_loop(_bpe_word_freqs(docs, top_words), n_merges)]

    def encode(batches):
        memo: dict[str, int] = {}

        def n_tokens(word: str) -> int:
            hit = memo.get(word)
            if hit is not None:
                return hit
            syms = [*word] + ["</w>"]
            for left, right in merges:
                i, out = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            memo[word] = len(syms)
            return len(syms)

        for pdf in batches:
            langs, n_words, n_toks, n_single = [], [], [], []
            for lang, txt in zip(pdf["lang"], pdf["text"]):
                words = [w for w in PY_WS_RE.split(txt or "") if w]
                toks = [n_tokens(w) for w in words]
                langs.append(lang)
                n_words.append(len(words))
                n_toks.append(sum(toks))
                n_single.append(sum(1 for t in toks if t == 1))
            yield pd.DataFrame(
                {"lang": langs, "n_words": n_words, "n_tokens": n_toks, "n_single": n_single}
            )

    per_doc = docs.select("lang", "text").mapInPandas(
        encode, "lang string, n_words long, n_tokens long, n_single long"
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_single").cast("long").alias("n_single_token_words"),
        )
        .withColumn(
            "fertility",
            F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 6),
        )
    )


def distinctive_terms(
    docs: DataFrame, group_col: str = "source", k: int = 10, a0: float = 500.0, min_count: int = 5
) -> DataFrame:
    """Per-group distinctive vocabulary by z-scored log-odds with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words") — the corpus-mix diagnostic: which tokens are
    over-represented in each ``source`` (or any group) relative to the
    rest of the corpus, with the prior shrinking rare-token noise that
    raw log-odds or PMI would over-rank. A training-data pipeline runs
    exactly this to audit what a new source actually contributes.

    delta = ln((y_gw + a_w)/(n_g + a0 − y_gw − a_w))
          − ln((y_rw + a_w)/(n_r + a0 − y_rw − a_w)),
    var ≈ 1/(y_gw + a_w) + 1/(y_rw + a_w),  z = delta/sqrt(var),
    with a_w = a0·y_w/n the corpus-frequency prior and (y_rw, n_r)
    the rest-of-corpus counts. Every input is an exact integer count
    from ONE tokenize scan; the float expressions are written
    operation-for-operation identically in the DuckDB oracle.

    Scale shape: the (group, token) rollup is one partial+final agg;
    corpus token totals derive FROM it (aggregate-of-aggregate, no
    second scan) and join back vocabulary-keyed UNHINTED (vocabulary
    grows with the corpus — the no-forced-broadcast doctrine); the
    group-totals join is group-keyed (bounded domain), the corpus
    total a 1-row broadcast cross. The ``min_count`` floor drops the
    singleton tail BEFORE the joins, and the top-k window partitions
    by group — bounded fan-in, no global sort."""
    from pyspark.sql import Window as W

    toks = docs.select(F.col(group_col).alias("grp"), F.explode(tokenize("text")).alias("w"))
    ygw = toks.groupBy("grp", "w").agg(F.count("*").alias("ygw"))
    yw = ygw.groupBy("w").agg(F.sum("ygw").alias("yw"))
    ng = ygw.groupBy("grp").agg(F.sum("ygw").alias("ng"))
    n = ygw.agg(F.sum("ygw").alias("n"))
    j = (
        ygw.where(F.col("ygw") >= min_count)
        .join(yw, "w")
        .join(ng, "grp")
        .crossJoin(F.broadcast(n))
    )
    aw = F.lit(a0) * F.col("yw") / F.col("n")
    yrw = F.col("yw") - F.col("ygw")
    nr = F.col("n") - F.col("ng")
    delta = F.log(
        (F.col("ygw") + aw) / (F.col("ng") + F.lit(a0) - F.col("ygw") - aw)
    ) - F.log((yrw + aw) / (nr + F.lit(a0) - yrw - aw))
    var = F.lit(1.0) / (F.col("ygw") + aw) + F.lit(1.0) / (yrw + aw)
    scored = j.select(
        F.col("grp").alias(group_col),
        F.col("w").alias("token"),
        F.col("ygw").cast("long").alias("n_in_group"),
        F.round(delta / F.sqrt(var), 6).alias("z"),
    )
    w_ = W.partitionBy(group_col).orderBy(F.desc("z"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w_).cast("long"))
        .where(F.col("rk") <= k)
    )


def hashed_features(docs: DataFrame, dim: int = 64, sample_every: int = 10) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009):
    each token counts into bucket h(token) mod dim with a ±1 sign from
    an independent hash bit, giving every document a fixed-width sparse
    feature vector with NO vocabulary dictionary — the standard
    featurizer for streaming text classifiers (Vowpal Wabbit, sklearn
    HashingVectorizer) and the input the quality-classifier family
    consumes at scale (no vocab build pass, no OOV handling, bounded
    width whatever the corpus).

    Emitted LONG-FORM (doc_id, bucket, weight) rather than as an array
    column: exact integer weights, and the driver's row comparator
    sorts flat scalar cells only. Sign-sum weights are unbiased
    (E[collision contribution] = 0 — the point of the signed variant).

    Scale shape: tokenize → bucket/sign projection (both from the
    cross-engine 60-bit md5 hash — JVM-side, no Python) → ONE
    (doc, bucket) partial+final agg. Zero joins; output bounded by
    |docs| × dim. ``sample_every`` bounds the oracle row count; the
    featurization itself is corpus-wide by dropping it."""
    toks = docs.where(F.col("doc_id") % sample_every == 0).select(
        "doc_id", F.explode(tokenize("text")).alias("w")
    )
    sign = F.when(h64(F.col("w"), seed="sign") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        toks.select("doc_id", (h64(F.col("w")) % dim).cast("long").alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").cast("long").alias("weight"))
        .where(F.col("weight") != 0)
    )


def fixed_k_sample(docs: DataFrame, k: int = 20) -> DataFrame:
    """Exactly min(k, |stratum|) documents per language — the exact-k
    complement to rate-based ``stratified_sample`` (an eval-set build
    wants "exactly 100 docs per language", not a rate whose realized
    count wobbles). Deterministic: rank by the seeded 60-bit hash of
    doc_id (a reproducible shuffle — same sample on every run and every
    engine), tie-broken by doc_id.

    Scale shape: ONE language-keyed exchange; the rank window
    partitions by stratum and Spark's WindowGroupLimit prunes each
    partition to k rows BEFORE the final rank, so no stratum's full
    membership ever sorts through one task beyond its local top-k. For
    corpus-scale strata, pre-thin with a Bernoulli sampleBy at
    ~2k/|stratum| and apply the same exact window to the survivors —
    same result distribution, scan-bound cost."""
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(h64(F.col("doc_id"), seed="fk"), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("doc_id", "lang", "source", "rk")
    )


def lang_id_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID evaluation against the corpus's labeled ``lang``:
    the (true, predicted) confusion matrix with within-truth fractions
    — the quality gate a pipeline runs before trusting a classifier to
    route documents (mis-routing silently poisons per-language corpora
    downstream: tokenizer stats, LM perplexity, mixtures all key on
    lang).

    Scale shape: the classifier is a narrow scan (lang_id); the label
    join keys on doc_id (co-partitioned projections of one table —
    AQE-broadcast at test scale); the matrix is a
    |langs|² partial+final agg, and the normalizing window runs over
    that tiny aggregate partitioned by the true label."""
    from pyspark.sql import Window as W

    pred = lang_id(docs)
    matrix = (
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = F.sum("n").over(W.partitionBy("lang_true"))
    return matrix.select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n").cast("double") / total, 6).alias("frac"),
    )


def calibrated_quality(
    docs: DataFrame, raw_threshold: float = 0.5, pct_threshold: float = 0.5
) -> DataFrame:
    """Per-source quality calibration: the same raw quality bar keeps
    90% of one source and 10% of another (sources have different score
    distributions — boilerplate-heavy crawls score low across the
    board), so production filters threshold on the WITHIN-SOURCE
    percentile instead of the raw score. Output is the per-doc
    manifest: raw quality, within-source percent_rank, and both keep
    flags — the keep_raw vs keep_cal disagreement is the calibration
    audit.

    percent_rank orders by (quality, doc_id) — unique keys, so the
    rank is total and the value cross-engine identical ((rank-1)/(n-1)
    in both engines; 0 for a single-row source in both).

    Scale note (the value_deciles doctrine): this exact form sorts
    each source in ONE task — the verification twin. At 100 TB the
    production form replaces the window with per-source
    ``percentile_approx`` cutpoints broadcast back (one partial-agg
    pass, no per-source total sort); the flags it produces differ only
    within the sketch's rank-error band around the threshold."""
    from pyspark.sql import Window as W

    q = quality_score(docs).select("doc_id", "quality")
    j = q.join(docs.select("doc_id", "source"), "doc_id")
    w = W.partitionBy("source").orderBy("quality", "doc_id")
    return j.select(
        "doc_id",
        "source",
        "quality",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    ).select(
        "doc_id",
        "source",
        "quality",
        "pct_rank",
        (F.col("quality") >= raw_threshold).alias("keep_raw"),
        (F.col("pct_rank") >= pct_threshold).alias("keep_cal"),
    )


def bpe_learn_merges_distributed(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """The huge-dict escape hatch PROTOTYPED (the path
    :func:`_bpe_merge_loop`'s docstring documents): BPE training where
    the symbolized dictionary never leaves the cluster — for corpora
    whose DISTINCT-WORD table itself exceeds driver memory, where the
    bounded-head driver loop cannot run even in verification mode.

    Each merge round is exactly the documented 3-step shape: (1) a
    pair-count partial+final aggregate over adjacent symbol pairs
    (:func:`bpe_pair_counts`'s plan), (2) a 1-row TakeOrdered argmax
    under the SAME (count desc, pair lex asc) tie order as both driver
    loops, (3) one narrow rewrite pass — a pure-JVM ``aggregate()``
    fold (round 10): carry a one-symbol ``pend`` lookbehind; when
    ``(pend, x) == (left, right)`` emit the fused symbol and clear,
    else emit ``pend`` — the exact left-to-right non-overlapping
    semantics of :func:`_bpe_rewrite`, replicated JVM-side so NO
    Python worker runs in the per-round hot loop (measured ~25 %
    faster than the Arrow round-trip it replaces; bit-exact parity
    with the driver loop is pinned by tests, which is what licenses
    the two restatements). Rows without the merge's left symbol skip
    the fold via an ``array_contains`` guard. Per-round state is
    localCheckpointed to cut lineage (the LPA doctrine); driver
    memory holds ONLY the merge table (n_merges rows).

    O(n_merges) small jobs: this trades per-round scheduling latency
    (~0.5 s/round on local[32]) for unbounded dictionary size, so it
    only wins past driver-memory-sized dicts — document-scale corpora
    with bounded vocab heads use :func:`bpe_learn_merges`.
    tests/test_bpe_fidelity.py pins bit-exact parity with the driver
    loop on the full fixture dictionary; REGISTERED (round 10) at
    merge depth 8 against the same independent VALUES oracle
    (truncated to rank <= 8 — valid because of that parity), so the
    production escape hatch carries its own driver hash row.
    """
    import pandas as pd

    spark = docs.sparkSession

    def symbolize(batches):
        # Python-domain [*w]: per CODE POINT, exactly the driver
        # loops' symbolization. A JVM split("(?!^)") operates on
        # UTF-16 units and would cleave supplementary-plane chars
        # (emoji, rare CJK) into lone surrogates — different pair
        # counts than the driver loop AND invalid UTF-8 for Arrow.
        for pdf in batches:
            yield pd.DataFrame(
                {"syms": [[*w] + ["</w>"] for w in pdf["w"]], "n": pdf["n"]}
            )

    # LAZY localCheckpoints (optimization r15, guide §2.4 applied to
    # jobs): the eager form ran TWO jobs per merge round — the argmax
    # collect, then a whole-state materialization job for the
    # checkpoint. eager=False defers each round's checkpoint until the
    # NEXT action touches it, which is the next round's argmax collect
    # — so the rewrite materializes (and its lineage is truncated)
    # INSIDE that one job: 1 job per round instead of 2, identical
    # merge sequence (the computation is unchanged, only when the
    # checkpoint executes moves). The final round's rewrite is never
    # acted on and never materializes — its merges are already
    # collected, so that job was pure waste.
    state = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .mapInPandas(symbolize, "syms array<string>, n long")
    ).localCheckpoint(eager=False)
    adj = (
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(syms[i-1] AS left, syms[i] AS right))"
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            state.where(F.size("syms") >= 2)
            .select(F.explode(F.expr(adj)).alias("p"), "n")
            .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
        merges.append((rank, left, right, cnt))
        fused = left + right

        def make_fold(_l: str, _r: str, _f: str):
            # closure factory: F.aggregate inspects the lambda's arity,
            # so the merge symbols must bind via closure, not defaults
            def fold_merge(acc, x):
                emit_fused = F.struct(
                    F.array_append(acc["out"], F.lit(_f)).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                )
                emit_pend = F.struct(
                    F.array_append(acc["out"], acc["pend"]).alias("out"), x.alias("pend")
                )
                take = F.struct(acc["out"].alias("out"), x.alias("pend"))
                return (
                    F.when(acc["pend"].isNull(), take)
                    .when((acc["pend"] == F.lit(_l)) & (x == F.lit(_r)), emit_fused)
                    .otherwise(emit_pend)
                )

            return fold_merge

        rewritten = F.aggregate(
            F.col("syms"),
            F.struct(
                F.lit([]).cast("array<string>").alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
            make_fold(left, right, fused),
            lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
                F.array_append(acc["out"], acc["pend"])
            ),
        )
        state = state.select(
            F.when(F.array_contains("syms", F.lit(left)), rewritten)
            .otherwise(F.col("syms"))
            .alias("syms"),
            "n",
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(merges, "rank long, left string, right string, pair_count long")
