"""Distributed k-means over the embeddings table, integer-exact.

The gomapreduce reference has no clustering operator (its analytics
surface stops at the MapReduce demo pair, pkg_test.go:43-79); this
module belongs to the driver-mandated LLM-data-pipeline surface:
cluster-balanced sampling and cluster-level curation are the standard
preprocessing steps in front of SemDeDup-style pruning (Abbas et al.
2023, arXiv:2303.09540) and DoReMi-style mixture reweighting. Algorithm
is plain Lloyd (1957/1982) with a deterministic init (the k lowest
``vec_id`` vectors) and a fixed round count — the same determinism
contract as the IVF/PQ trainers in operators/similarity.py.

Cross-engine determinism doctrine (why this is hash-oracle-able):
every number that can influence a branch is an exact int64, never an
accumulated float —

- vectors are quantized ONCE to integers: ``q_d = floor(x_d * 1e6 +
  0.5)`` (one IEEE multiply + add on the exact float32→double widening;
  identical in Spark, DuckDB and numpy);
- distances are exact int64 sums of squared integer differences
  (|q| ≤ ~6e5 on unit-ish embeddings → d² ≤ 64·(1.2e6)² ≈ 9e13,
  far inside int64);
- centroid updates are exact integer sums (map-side-combined
  ``sum(long)``; overflows only past ~1.5e13 members/cluster) divided
  half-up in exact integer arithmetic on the driver:
  ``(2s + n) // (2n)`` — floor division, i.e. half-toward-+inf for
  all signs, the same convention as the ``floor(y + 0.5)`` quantizer;
- the final inertia is summed as DECIMAL (exact, order-independent,
  overflow-proof at any corpus size) and only converted to a rounded
  double in the last projection.

So the whole iteration is a deterministic function of the input and
the oracle can be precomputed by an independent numpy/python
restatement (tools/gen_kmeans_oracle.py → kmeans_expected.py), the
gen_ann_oracle mechanism.

100 TB shape: each round is (a) one narrow Arrow assignment pass —
per batch an (n × k·d) int64 matmul-free broadcast-subtract against a
k×d centroid closure (k·d = 512 ints, fixed-size, NOT corpus-scaling,
so shipping it in the closure is legal under the no-scaling-broadcast
doctrine) — and (b) one per-dim sum shuffle whose map-side combine
reduces it to ``partitions × k × d`` rows. Driver state is k×d
integers. This is exactly MLlib KMeans' aggregate shape. The quantized
input is localCheckpoint'ed because rounds+1 passes consume it; at
petabyte scale swap that for persist(DISK_ONLY) or re-scanning the
columnar source, whichever the cluster's disk budget prefers.

Production k (measured in SCALE.md §Production-k probe): shuffle
rows per round and driver state are k×d — functions of (k, d) only,
never of corpus size — and wall grows strongly
sub-linearly in k (×1.4–2.3 for k×32 at sf0.1) because the O(n·k·d)
assignment arithmetic is one vectorized Arrow pass. Closure size is
k·d·8 B; past k ≈ tens of thousands (SemDeDup's 50k: ~26 MB) ship the
centroid matrix as a DataFrame and let the assignment become a
broadcast join AQE sizes at runtime, keeping every other stage
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.skew import hot_keys

KM_K = 8          # clusters
KM_ROUNDS = 4     # fixed Lloyd rounds (determinism > convergence test)
KM_SCALE = 1_000_000  # quantization grid: 1e-6 embedding units


def _quantized(emb: DataFrame) -> DataFrame:
    """vec_id, label, qvec array<long>: the one float→int boundary."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * KM_SCALE + F.lit(0.5)).cast("long"),
    )
    return emb.select("vec_id", "label", q.alias("qvec"))


def _assign(q: DataFrame, cmat) -> DataFrame:
    """One assignment pass: nearest centroid by exact integer L2²,
    ties to the lowest cluster id (numpy argmin is first-match)."""
    import numpy as np
    import pandas as pd

    c = np.asarray(cmat, dtype=np.int64)  # k × d

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.int64) for v in pdf["qvec"]], dtype=np.int64)
            diff = mat[:, None, :] - c[None, :, :]          # n × k × d int64
            d2 = np.einsum("nkd,nkd->nk", diff, diff)        # exact: |diff|²·d ≪ 2^63
            cl = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "qvec": pdf["qvec"],
                    "cluster": cl.astype("int64"),
                    "d2": d2[np.arange(len(cl)), cl],
                }
            )

    return q.mapInPandas(
        assign, "vec_id long, label long, qvec array<long>, cluster long, d2 long"
    )


def _assign_partials(q: DataFrame, cmat) -> DataFrame:
    """One fused assignment + partial-centroid-sum pass: per Arrow
    batch, assign each vector to its nearest centroid (same exact
    int64 L2² / lowest-id tie-break as :func:`_assign`) and emit the
    batch's per-(cluster, pos) integer sums and counts — k×d rows per
    batch instead of n×d exploded rows (optimization r14, guide
    §2.3/§4.2: the update round formerly shipped every (vec_id, label,
    qvec, …) row back to the JVM and posexploded it through a partial
    aggregate; the partial sums ARE the map-side combine, computed
    where the vectors already live). numpy int64 batch sums are exact
    (|q| ≤ ~1.2e6 × ≤ batch rows ≪ 2^63) and integer addition is
    order-independent, so the rolled-up totals are bit-identical."""
    import numpy as np
    import pandas as pd

    c = np.asarray(cmat, dtype=np.int64)  # k × d
    k, d = c.shape

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.int64) for v in pdf["qvec"]], dtype=np.int64)
            diff = mat[:, None, :] - c[None, :, :]
            d2 = np.einsum("nkd,nkd->nk", diff, diff)
            cl = np.argmin(d2, axis=1)
            present = np.unique(cl)
            rows = []
            for ci in present:
                sel = mat[cl == ci]
                s = sel.sum(axis=0, dtype=np.int64)
                rows.append(
                    pd.DataFrame(
                        {
                            "cluster": np.int64(ci),
                            "pos": np.arange(d, dtype=np.int64),
                            "s": s,
                            "n": np.int64(len(sel)),
                        }
                    )
                )
            yield pd.concat(rows)

    return q.mapInPandas(partials, "cluster long, pos long, s long, n long")


def _update_centroids(q_or_assigned: DataFrame, prev: list[list[int]], cmat=None) -> list[list[int]]:
    """Exact integer centroid update. With ``cmat`` given, the input is
    the quantized relation and assignment + partial sums run fused in
    one Arrow pass (:func:`_assign_partials`); otherwise the input is a
    pre-assigned relation (kept for parity tests). The shuffle carries
    only (cluster, pos) partial sums; the collect is k × d rows —
    fixed-size driver state, not a data-sized collect."""
    if cmat is not None:
        partials = _assign_partials(q_or_assigned, cmat)
    else:
        partials = q_or_assigned.select(
            "cluster", F.posexplode("qvec").alias("pos", "val")
        ).groupBy("cluster", "pos").agg(
            F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
        )
    rows = (
        partials.groupBy("cluster", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    cents = [list(c) for c in prev]  # empty clusters keep their centroid
    dims: dict[int, list] = {}
    for r in rows:
        dims.setdefault(int(r["cluster"]), []).append(r)
    for cl, rs in dims.items():
        vec = cents[cl]
        for r in rs:
            s, n = int(r["s"]), int(r["n"])
            vec[int(r["pos"])] = (2 * s + n) // (2 * n)  # half-toward-+inf
    return cents


def fit_centroids(q: DataFrame, k: int, rounds: int) -> list[list[int]] | None:
    """The Lloyd fit on a quantized relation: k-lowest-vec_id seeds,
    ``rounds`` assignment/update passes, integer-exact throughout.
    Returns the k×d centroid matrix (int lists) or None on empty
    input. Driver state is k×d integers — fixed-size, not data-sized."""
    # TakeOrdered delivers sorted rows today, but the seed→cluster_id
    # mapping must not depend on collect order — re-sort driver-side
    seeds = sorted(
        q.orderBy("vec_id").limit(k).select("vec_id", "qvec").collect(),
        key=lambda r: r["vec_id"],
    )
    if not seeds:
        return None
    cents = [[int(v) for v in r["qvec"]] for r in seeds]
    while len(cents) < k:  # degenerate tiny input: duplicate last seed
        cents.append(list(cents[-1]))
    for _ in range(rounds):
        cents = _update_centroids(q, cents, cmat=cents)
    return cents


def kmeans_embeddings(
    emb: DataFrame, k: int = KM_K, rounds: int = KM_ROUNDS
) -> DataFrame:
    """Per-cluster summary of a k-means fit over ``embeddings``:
    cluster_id, n_points, majority_label (ties to the lowest label),
    purity, inertia (sum of squared L2 distances, embedding units),
    c_norm (centroid L2 norm). Deterministic end-to-end; oracle is the
    precomputed VALUES table from tools/gen_kmeans_oracle.py."""
    import math

    q = _quantized(emb).localCheckpoint()
    cents = fit_centroids(q, k, rounds)
    if cents is None:
        return emb.sparkSession.createDataFrame(
            [],
            "cluster_id long, n_points long, majority_label long, "
            "purity double, inertia double, c_norm double",
        )

    # ONE (cluster, label) aggregation pass serves both the per-cluster
    # stats and the majority-label argmax. The stats are WINDOW sums
    # over the SAME per_lab relation that carries the argmax window —
    # structurally one consumer of the _assign subtree, so the Arrow
    # assignment pass cannot run twice even when AQE exchange reuse
    # fails (the r14 shape aggregated per_lab twice — stats groupBy +
    # argmax window — and relied on runtime exchange reuse to dedup the
    # Python stage; advisor-flagged dependency, optimization r15).
    # long/DECIMAL window sums are exact and order-independent, so the
    # rollup equals the direct per-cluster sum bit-for-bit; the
    # windowed relation is k×|labels| rows (k=8, labels catalog-
    # bounded), so the per-cluster window partitions are tiny at any SF.
    per_lab = _assign(q, cents).groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("c"),
        # DECIMAL sum: exact + order-independent + overflow-proof
        F.sum(F.col("d2").cast("decimal(30,0)")).alias("ssd_l"),
    )
    wc = W.partitionBy("cluster")
    wl = W.partitionBy("cluster").orderBy(F.col("c").desc(), F.col("label").asc())
    best = per_lab.select(
        "cluster",
        "label",
        "c",
        F.sum("c").over(wc).alias("n_points"),
        F.sum("ssd_l").over(wc).alias("ssd"),
        F.row_number().over(wl).alias("rk"),
    ).where(F.col("rk") == 1)

    norms = emb.sparkSession.createDataFrame(
        [(i, float(math.sqrt(sum(v * v for v in c))) / KM_SCALE) for i, c in enumerate(cents)],
        "cluster long, c_norm_raw double",
    )
    # k-row join: genuinely fixed-size side (k = 8 regardless of SF)
    return (
        best.join(norms, "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster_id"),
            F.col("n_points").cast("long").alias("n_points"),
            F.col("label").cast("long").alias("majority_label"),
            F.round(F.col("c") / F.col("n_points"), 6).alias("purity"),
            F.round(F.col("ssd").cast("double") / (KM_SCALE * float(KM_SCALE)), 6).alias(
                "inertia"
            ),
            F.round(F.col("c_norm_raw"), 6).alias("c_norm"),
        )
        .orderBy("cluster_id")
    )


SEMDEDUP_THRESHOLD = 0.4      # cosine near-dup bar (matches embedding_near_dup)
SEMDEDUP_MAX_CLUSTER = 4096   # hot-cluster backstop (the LSH-cap twin)


def semdedup_prune(
    emb: DataFrame,
    k: int = KM_K,
    rounds: int = KM_ROUNDS,
    threshold: float = SEMDEDUP_THRESHOLD,
    max_cluster: int = SEMDEDUP_MAX_CLUSTER,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication scoped to k-means clusters — the pruning pass the
    ``kmeans_embeddings`` fit exists to serve. Within each cluster,
    pairs with cosine ≥ ``threshold`` are near-duplicates; of every
    such pair the lower ``vec_id`` survives (keep-first along edges,
    the ``exact_dedup`` convention). Output is the per-vector manifest:
    (vec_id, cluster, n_close same-cluster neighbors ≥ threshold, keep).

    Why cluster-scoping beats a global pair pass: the paper's insight
    is that semantic duplicates co-locate in embedding-cluster space,
    so Σ_clusters |cluster|² pairwise work replaces |corpus|² — at
    production scale k grows with the corpus (the paper uses 50k
    clusters on LAION-440M; rule of thumb k ≈ n/⟨target cluster⟩), so
    per-cluster work stays bounded and the ``applyInPandas`` grouping
    gives k-way parallelism. The fixture keeps the oracle-pinned k=8.
    ``max_cluster`` is the skew backstop, exactly the LSH hot-bucket
    cap doctrine: clusters larger than the cap pass through UNPRUNED
    (keep=true, n_close=0) — never silently, the plan carries the
    ``semdedup_hot_clusters`` CollectMetrics observation.

    Determinism (why this hash-oracles): scoring runs on the SAME
    quantized int64 vectors as the fit. On the 1e-6 grid every pairwise
    product is an exact integer ≤ ~1.4e12 and a 64-dim sum stays ≤
    ~9e13 < 2^53, so dot products and squared norms are EXACT in
    float64 regardless of accumulation order (BLAS matmul included) —
    the one float op is the final divide+sqrt, identical everywhere.
    Sims round half-up at 6 decimals before the threshold compare, so
    the independent numpy restatement in tools/gen_kmeans_oracle.py
    lands on bit-identical keep decisions.
    """
    import numpy as np
    import pandas as pd

    q = _quantized(emb).localCheckpoint()
    cents = fit_centroids(q, k, rounds)
    if cents is None:
        return emb.sparkSession.createDataFrame(
            [], "vec_id long, cluster long, n_close long, keep boolean"
        )
    assigned = _assign(q, cents).select("vec_id", "qvec", "cluster").localCheckpoint()

    hot = hot_keys(assigned, ["cluster"], max_cluster, "semdedup_hot_clusters")

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        mm = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["qvec"].iloc[order]]
        )
        dots = mm @ mm.T                      # exact: integer grid, < 2^53
        nrm = np.sqrt(np.diag(dots))
        sim = np.floor(dots / (nrm[:, None] * nrm[None, :]) * 1e6 + 0.5) / 1e6
        close = sim >= threshold
        np.fill_diagonal(close, False)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy()[order],
                "n_close": close.sum(axis=1).astype("int64"),
                # dropped iff ANY earlier-id member is a near-dup
                # (keep-first along edges — transitively aggressive,
                # like exact_dedup's keep-lowest-id)
                "keep": ~np.tril(close, -1).any(axis=1),
            }
        )

    prunable = assigned.join(hot, "cluster", "left_anti")
    passthrough = assigned.join(hot, "cluster", "left_semi").select(
        "vec_id", "cluster", F.lit(0).cast("long").alias("n_close"), F.lit(True).alias("keep")
    )
    pruned = prunable.groupBy("cluster").applyInPandas(
        prune, "vec_id long, cluster long, n_close long, keep boolean"
    )
    return pruned.unionByName(passthrough)


def kmeans_incremental_update(
    emb: DataFrame,
    k: int = KM_K,
    base_rounds: int = KM_ROUNDS,
    refresh_rounds: int = 2,
) -> DataFrame:
    """The nightly-refresh maintenance pattern for the k-means model
    (the clustering twin of ``incremental_dedup`` /
    ``incremental_user_rollup``): yesterday's centroids — fit on the
    BASE slice (even ``vec_id``) with the standard settings — are
    warm-started and refined with ``refresh_rounds`` Lloyd rounds over
    the full refreshed corpus, instead of re-fitting from seeds. At
    100 TB this is the difference between 2 passes and rounds+1
    passes nightly, and it keeps cluster ids STABLE release-to-release
    (cluster 3 still means cluster 3 — a cold re-fit renumbers
    everything and breaks downstream routing).

    Output per cluster: n_points, inertia (as in
    :func:`kmeans_embeddings`) and ``shift`` — the L2 distance the
    centroid moved during the refresh, the drift signal that tells the
    pipeline which clusters' content actually changed.

    Same integer-exact contract as the cold fit (every distance and
    update exact, DECIMAL inertia), so the whole two-phase pipeline is
    deterministic and carries a precomputed VALUES oracle from the
    independent restatement in tools/gen_kmeans_oracle.py."""
    import math

    q = _quantized(emb).localCheckpoint()
    cents0 = fit_centroids(q.where(F.col("vec_id") % 2 == 0), k, base_rounds)
    if cents0 is None:
        return emb.sparkSession.createDataFrame(
            [], "cluster_id long, n_points long, inertia double, shift double"
        )
    cents = [list(c) for c in cents0]
    for _ in range(refresh_rounds):
        cents = _update_centroids(q, cents, cmat=cents)

    stats = (
        _assign(q, cents)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("d2").cast("decimal(30,0)")).alias("ssd"),
        )
    )
    shifts = emb.sparkSession.createDataFrame(
        [
            (
                i,
                float(math.sqrt(sum((a - b) * (a - b) for a, b in zip(cents[i], cents0[i]))))
                / KM_SCALE,
            )
            for i in range(len(cents))
        ],
        "cluster long, shift_raw double",
    )
    return (
        stats.join(shifts, "cluster")  # k-row side, genuinely fixed
        .select(
            F.col("cluster").cast("long").alias("cluster_id"),
            F.col("n_points").cast("long").alias("n_points"),
            F.round(F.col("ssd").cast("double") / (KM_SCALE * float(KM_SCALE)), 6).alias("inertia"),
            F.round(F.col("shift_raw"), 6).alias("shift"),
        )
        .orderBy("cluster_id")
    )
