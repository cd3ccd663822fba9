"""Generate the DuckDB literal-table oracles for ``kmeans_embeddings``
and ``semdedup_prune`` — the gen_ann_oracle.py mechanism applied to
the integer-exact k-means (and the cluster-scoped SemDeDup pruning it
feeds) of operators/clustering.py.

Reference independence: Lloyd's algorithm is restated here from the
published description (quantize → nearest-centroid by integer L2² →
integer half-up mean, k-lowest-vec_id init, fixed rounds), sharing
NOTHING with the operator module but the two stated numerical
conventions that define the pipeline: ``floor(x*1e6 + 0.5)``
quantization and ``(2s+n)//(2n)`` half-toward-+inf integer division.
Every branch-influencing quantity is an exact int64, so the restated
loop lands on bit-identical clusters by construction — no float
fold-order contracts are needed at all (unlike the ANN generator).

A self-check compares the generated table against the live Spark
pipeline and refuses to write on any mismatch.

Run: python tools/gen_kmeans_oracle.py   (regenerates EXPECTED_BY_SF for every committed SF)
Writes: gomapreduce_spark/kmeans_expected.py
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_common import half_up, write_oracles

# pipeline knobs, restated (asserted against the module before writing)
KM_K = 8
KM_ROUNDS = 4
KM_SCALE = 1_000_000
SD_THRESHOLD = 0.4
SD_MAX_CLUSTER = 4096
INCR_REFRESH_ROUNDS = 2  # warm-start rounds in kmeans_incremental_update


def lloyd_rounds(Q: np.ndarray, cents: np.ndarray, rounds: int) -> np.ndarray:
    """``rounds`` integer-exact Lloyd updates from the given centroids."""
    cents = cents.copy()
    for _ in range(rounds):
        diff = Q[:, None, :] - cents[None, :, :]
        d2 = np.einsum("nkd,nkd->nk", diff, diff)
        owner = np.argmin(d2, axis=1)
        for j in range(KM_K):
            mine = Q[owner == j]
            if len(mine):
                s = mine.sum(axis=0, dtype=np.int64)
                n = np.int64(len(mine))
                cents[j] = (2 * s + n) // (2 * n)  # half-toward-+inf
    return cents


def lloyd(ids: np.ndarray, Q: np.ndarray, rounds: int = KM_ROUNDS) -> np.ndarray:
    """Seeded fit: k-lowest-vec_id init + ``rounds`` Lloyd updates."""
    order = np.argsort(ids, kind="stable")[:KM_K]
    cents = Q[order].astype(np.int64).copy()
    while len(cents) < KM_K:
        cents = np.vstack([cents, cents[-1:]])
    return lloyd_rounds(Q, cents, rounds)


def build(sf_dir: str, spark) -> dict[str, str]:
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    labels = np.array([r[1] for r in rows], dtype=np.int64)
    E = np.array([np.asarray(r[2], dtype=np.float32) for r in rows]).astype(np.float64)
    Q = np.floor(E * KM_SCALE + 0.5).astype(np.int64)

    cents = lloyd(ids, Q)
    diff = Q[:, None, :] - cents[None, :, :]
    d2 = np.einsum("nkd,nkd->nk", diff, diff)
    owner = np.argmin(d2, axis=1)
    mind2 = d2[np.arange(len(owner)), owner]

    out = []
    for j in sorted(set(int(o) for o in owner)):
        mask = owner == j
        n = int(mask.sum())
        # majority label: max count, ties to the LOWEST label
        labs, cnts = np.unique(labels[mask], return_counts=True)
        best = int(labs[np.argmax(cnts)])  # np.unique sorts labels asc; argmax is first-match
        c_maj = int(cnts[np.argmax(cnts)])
        inertia = half_up(float(int(mind2[mask].sum())) / (KM_SCALE * float(KM_SCALE)), 6)
        c_norm = half_up(
            float(math.sqrt(sum(int(v) * int(v) for v in cents[j]))) / KM_SCALE, 6
        )
        out.append((j, n, best, half_up(c_maj / n, 6), inertia, c_norm))

    # kmeans_incremental restatement: base fit on even vec_ids, then
    # INCR_REFRESH_ROUNDS warm-start updates over the full corpus;
    # per-cluster n/inertia + centroid shift.
    even = ids % 2 == 0
    base_cents = lloyd(ids[even], Q[even])
    new_cents = lloyd_rounds(Q, base_cents, INCR_REFRESH_ROUNDS)
    diff_i = Q[:, None, :] - new_cents[None, :, :]
    d2_i = np.einsum("nkd,nkd->nk", diff_i, diff_i)
    owner_i = np.argmin(d2_i, axis=1)
    mind2_i = d2_i[np.arange(len(owner_i)), owner_i]
    incr_rows = []
    for j in sorted(set(int(o) for o in owner_i)):
        mask = owner_i == j
        n = int(mask.sum())
        inertia = half_up(float(int(mind2_i[mask].sum())) / (KM_SCALE * float(KM_SCALE)), 6)
        shift = half_up(
            float(math.sqrt(sum(int(a - b) ** 2 for a, b in zip(new_cents[j], base_cents[j]))))
            / KM_SCALE,
            6,
        )
        incr_rows.append((j, n, inertia, shift))

    # semdedup_prune restatement: within each cluster (hot clusters >
    # SD_MAX_CLUSTER pass through unpruned), rounded cosine of the
    # quantized vectors (exact-integer dots — order-free), keep-first
    # along near-dup edges by vec_id.
    sd_rows = []
    for j in sorted(set(int(o) for o in owner)):
        mask = owner == j
        cids = ids[mask]
        order = np.argsort(cids, kind="stable")
        cids = cids[order]
        if len(cids) > SD_MAX_CLUSTER:
            sd_rows += [(int(v), j, 0, True) for v in cids]
            continue
        mm = Q[mask][order].astype(np.float64)
        dots = mm @ mm.T
        nrm = np.sqrt(np.diag(dots))
        sim = np.floor(dots / (nrm[:, None] * nrm[None, :]) * 1e6 + 0.5) / 1e6
        close = sim >= SD_THRESHOLD
        np.fill_diagonal(close, False)
        keep = ~np.tril(close, -1).any(axis=1)
        n_close = close.sum(axis=1)
        sd_rows += [
            (int(v), j, int(nc), bool(kp)) for v, nc, kp in zip(cids, n_close, keep)
        ]

    # self-check vs the LIVE Spark pipelines, cell-for-cell
    from gomapreduce_spark.queries import ORACLE_SF, QUERIES

    got = sorted(
        (r.cluster_id, r.n_points, r.majority_label, f"{r.purity:.9g}", f"{r.inertia:.9g}", f"{r.c_norm:.9g}")
        for r in QUERIES["kmeans_embeddings"](spark, sf_dir).collect()
    )
    want = sorted((c, n, m, f"{p:.9g}", f"{i:.9g}", f"{cn:.9g}") for c, n, m, p, i, cn in out)
    assert got == want, (
        "reference disagrees with the Spark pipeline\n"
        f"  only-spark: {[x for x in got if x not in want][:3]}\n"
        f"  only-ref:   {[x for x in want if x not in got][:3]}"
    )
    incr_got = sorted(
        (r.cluster_id, r.n_points, f"{r.inertia:.9g}", f"{r.shift:.9g}")
        for r in QUERIES["kmeans_incremental"](spark, sf_dir).collect()
    )
    incr_want = sorted((c, n, f"{i:.9g}", f"{s:.9g}") for c, n, i, s in incr_rows)
    assert incr_got == incr_want, (
        "incremental reference disagrees with the Spark pipeline\n"
        f"  only-spark: {[x for x in incr_got if x not in incr_want][:3]}\n"
        f"  only-ref:   {[x for x in incr_want if x not in incr_got][:3]}"
    )

    sd_got = sorted(
        (r.vec_id, r.cluster, r.n_close, r.keep)
        for r in QUERIES["semdedup_prune"](spark, sf_dir).collect()
    )
    sd_want = sorted(sd_rows)
    assert sd_got == sd_want, (
        "semdedup reference disagrees with the Spark pipeline\n"
        f"  only-spark: {[x for x in sd_got if x not in sd_want][:3]}\n"
        f"  only-ref:   {[x for x in sd_want if x not in sd_got][:3]}"
    )
    n_pruned = sum(1 for _, _, _, kp in sd_rows if not kp)
    assert n_pruned > 0 or sf_dir != ORACLE_SF, (
        "fixture produced no pruning — threshold too high to exercise the path"
    )

    values = ",\n".join(
        f"  ({c}, {n}, {m}, {p!r}, {i!r}, {cn!r})" for c, n, m, p, i, cn in out
    )
    sql = (
        "\nSELECT v.cluster_id::BIGINT AS cluster_id, v.n_points::BIGINT AS n_points,\n"
        "       v.majority_label::BIGINT AS majority_label, v.purity::DOUBLE AS purity,\n"
        "       v.inertia::DOUBLE AS inertia, v.c_norm::DOUBLE AS c_norm\n"
        "FROM (VALUES\n" + values + "\n) AS v(cluster_id, n_points, majority_label, purity, inertia, c_norm)\n"
        "WHERE EXISTS (SELECT 1 FROM embeddings)\n"
    )
    incr_values = ",\n".join(
        f"  ({c}, {n}, {i!r}, {s!r})" for c, n, i, s in incr_rows
    )
    incr_sql = (
        "\nSELECT v.cluster_id::BIGINT AS cluster_id, v.n_points::BIGINT AS n_points,\n"
        "       v.inertia::DOUBLE AS inertia, v.shift::DOUBLE AS shift\n"
        "FROM (VALUES\n" + incr_values + "\n) AS v(cluster_id, n_points, inertia, shift)\n"
        "WHERE EXISTS (SELECT 1 FROM embeddings)\n"
    )

    sd_values = ",\n".join(
        f"  ({v}, {c}, {nc}, {str(kp).lower()})" for v, c, nc, kp in sd_rows
    )
    sd_sql = (
        "\nSELECT v.vec_id::BIGINT AS vec_id, v.cluster::BIGINT AS cluster,\n"
        "       v.n_close::BIGINT AS n_close, v.keep::BOOLEAN AS keep\n"
        "FROM (VALUES\n" + sd_values + "\n) AS v(vec_id, cluster, n_close, keep)\n"
        "WHERE v.vec_id IN (SELECT vec_id FROM embeddings)\n"
    )

    print(
        f"built {sf_dir}: {len(out)} clusters, {len(sd_rows)} semdedup rows "
        f"({n_pruned} pruned), {len(incr_rows)} incremental rows"
    )
    return {
        "kmeans_embeddings": sql,
        "semdedup_prune": sd_sql,
        "kmeans_incremental": incr_sql,
    }


def main() -> int:
    import inspect

    from gomapreduce_spark.operators import clustering as pipe

    assert (pipe.KM_K, pipe.KM_ROUNDS, pipe.KM_SCALE) == (KM_K, KM_ROUNDS, KM_SCALE)
    assert (pipe.SEMDEDUP_THRESHOLD, pipe.SEMDEDUP_MAX_CLUSTER) == (SD_THRESHOLD, SD_MAX_CLUSTER)
    incr_sig = inspect.signature(pipe.kmeans_incremental_update).parameters
    assert incr_sig["refresh_rounds"].default == INCR_REFRESH_ROUNDS
    write_oracles(
        "kmeans",
        "Precomputed k-means + SemDeDup oracles (GENERATED — do not edit).\n\n"
        "Source: tools/gen_kmeans_oracle.py (independent numpy reference,\n"
        "self-checked against the live pipelines at generation time).\n"
        "Every committed SF has its own tables in EXPECTED_BY_SF.\n",
        build,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
