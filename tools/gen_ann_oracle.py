"""Generate DuckDB literal-table oracles for the deterministic ANN
queries (``knn_lsh``, ``knn_ivf``, ``knn_pq``, ``knn_ivf_pq``),
promoting them from rows-only to full hash-verified queries — the same
mechanism as tools/gen_codec_oracle.py.

Every stage of those pipelines is deterministic by construction
(fixed training sample = first IVF_SAMPLE vec_ids, md5-derived init,
fixed Lloyd iterations, stable argsort / first-match argmax
tie-breaks), so their expected output at a given scale factor can be
precomputed once into VALUES tables.

Reference independence: the whole selection path — spherical k-means,
PQ codebook training (farthest-point init + Lloyd with empty-cluster
carry-over, Jégou et al. 2011), cell assignment, probe-set choice,
ADC scoring, shortlist ranking — is restated here from the published
algorithms, not imported from the operator module. Two numerical
contracts are intentionally shared with the pipeline, because
bit-identical selection is exactly what is being verified:
float64 BLAS matmuls / np.linalg.norm for the trained artifacts
(any reference must use them to land on the same centroids), and
left-to-right fold order for the exact cosine that produces the
OUTPUT sims (matching Catalyst's ``aggregate`` fold; see
functions/vectors.py). Final rounding is decimal HALF_UP on the
shortest double repr — the same semantics as Spark's ``round``
(BigDecimal.valueOf) — NOT np.round's banker's rounding.

A self-check compares every generated table against the live Spark
pipeline and refuses to write on any mismatch.

Run: python tools/gen_ann_oracle.py   (regenerates EXPECTED_BY_SF for every committed SF)
Writes: gomapreduce_spark/ann_expected.py (committed; imported by
queries.py into ORACLES).
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_common import half_up, write_oracles

# pipeline knobs, restated (asserted against the module before writing)
DIM = 64
N_QUERIES, K = 10, 5
N_CENTROIDS, KM_SAMPLE, KM_SEED, KM_ITERS = 16, 512, 9000, 3
PQ_M, PQ_KSUB, PQ_ITERS = 16, 16, 5
IVF_NPROBE = 4
PQ_RERANK = 48
IVFPQ_NPROBE, IVFPQ_RERANK = 8, 64
LSH_PLANES, LSH_TABLES = 6, 6  # multi-probe radius 1 (bucket ^ each bit)


def md5_unit(idx: int, dim: int) -> np.ndarray:
    """The deterministic pseudo-random init vector: component j maps
    the 60-bit md5 of "plane{idx}|{j}" into [-1, 1)."""
    vals = [
        (int(hashlib.md5(f"plane{idx}|{j}".encode()).hexdigest()[:15], 16) % 1_000_000)
        / 500_000.0
        - 1.0
        for j in range(dim)
    ]
    return np.array(vals, dtype=np.float64)


def seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot with STRICT left-to-right accumulation over the
    dimension axis — the order Catalyst's aggregate() fold uses, which
    pairwise-summing BLAS dots do not reproduce in the last bits."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def train_kmeans(sample: np.ndarray) -> np.ndarray:
    """Spherical k-means: md5-seeded unit init, KM_ITERS Lloyd rounds,
    max-dot assignment (ties to the first centroid), re-normalized
    means, empty cells keep their previous centroid."""
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    c = np.stack([md5_unit(KM_SEED + j, DIM) for j in range(N_CENTROIDS)])
    c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    for _ in range(KM_ITERS):
        owner = np.argmax(x @ c.T, axis=1)
        for j in range(N_CENTROIDS):
            mine = x[owner == j]
            if len(mine):
                s = mine.sum(axis=0)
                c[j] = s / max(np.linalg.norm(s), 1e-12)
    return c


def train_pq(sample: np.ndarray) -> np.ndarray:
    """Per-subspace codebooks: deterministic farthest-point seeding
    from row 0, PQ_ITERS Lloyd rounds, empty codewords carried over."""
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    dsub = DIM // PQ_M
    books = np.zeros((PQ_M, PQ_KSUB, dsub), dtype=np.float64)
    for j in range(PQ_M):
        sub = x[:, j * dsub : (j + 1) * dsub]
        seeds = [0]
        gap = ((sub - sub[0]) ** 2).sum(axis=1)
        while len(seeds) < PQ_KSUB:
            far = int(np.argmax(gap))
            seeds.append(far)
            gap = np.minimum(gap, ((sub - sub[far]) ** 2).sum(axis=1))
        cw = sub[seeds].copy()
        for _ in range(PQ_ITERS):
            d2 = ((sub[:, None, :] - cw[None, :, :]) ** 2).sum(axis=2)
            owner = np.argmin(d2, axis=1)
            for cix in range(PQ_KSUB):
                mine = sub[owner == cix]
                if len(mine):
                    cw[cix] = mine.mean(axis=0)
        books[j] = cw
    return books


def encode_pq(vecs: np.ndarray, books: np.ndarray) -> np.ndarray:
    x = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    dsub = DIM // PQ_M
    codes = np.empty((len(x), PQ_M), dtype=np.int64)
    for j in range(PQ_M):
        sub = x[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = np.argmin(((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2), axis=1)
    return codes


def adc_scores(qunit: np.ndarray, books: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Asymmetric distance computation for ONE query: m inner-product
    table lookups summed subspace-by-subspace, then np.round — the
    shortlist stage happens inside numpy in the pipeline too, so its
    banker's rounding is the semantics here."""
    dsub = DIM // PQ_M
    lut = np.einsum("jd,jcd->jc", qunit.reshape(PQ_M, dsub), books)
    s = np.zeros(len(codes), dtype=np.float64)
    for j in range(PQ_M):
        s = s + lut[j, codes[:, j]]
    return np.round(s, 6)


def topk(ids: np.ndarray, sims: np.ndarray, k: int) -> list[tuple[int, float, int]]:
    """(neighbor_id, sim, rk) under the pipelines' total order:
    sim desc, neighbor_id asc."""
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]
    return [(int(ids[i]), float(sims[i]), rk + 1) for rk, i in enumerate(order)]


def exact_cos_topk(E: np.ndarray, norms: np.ndarray, ids: np.ndarray, qi: int, cand: np.ndarray, k: int):
    """Exact rounded cosine of query row ``qi`` against candidate row
    indices, ranked — sims via the sequential fold + HALF_UP round."""
    q = np.broadcast_to(E[qi], (len(cand), DIM))
    sims = seq_dot(q, E[cand]) / (norms[qi] * norms[cand])
    rounded = np.array([half_up(s, 6) for s in sims])
    return topk(ids[cand], rounded, k)


def build(sf_dir: str, spark) -> dict[str, str]:
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    E = np.array([np.asarray(r[1], dtype=np.float32) for r in rows]).astype(np.float64)
    norms = np.sqrt(seq_dot(E, E))
    qixs = np.flatnonzero(ids < N_QUERIES)

    cents = train_kmeans(E[:KM_SAMPLE])
    books = train_pq(E[:KM_SAMPLE])
    cell = np.argmax(E @ cents.T, axis=1)
    codes = encode_pq(E, books)
    Eunit = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)

    # knn_lsh restatement: sign-bit signatures of the md5-derived
    # hyperplanes (plane index = table*1009 + bit, same as
    # lsh_signatures), candidates = bucket-or-Hamming-1-probe matches
    # in ANY table, exact rounded cosine + (sim desc, id asc) top-k.
    planes = np.stack(
        [md5_unit(t * 1009 + i, DIM) for t in range(LSH_TABLES) for i in range(LSH_PLANES)]
    )
    bits = (E @ planes.T >= 0).reshape(len(E), LSH_TABLES, LSH_PLANES)
    buckets = (bits * (1 << np.arange(LSH_PLANES, dtype=np.int64))).sum(axis=2)  # n × tables

    lsh_rows = []
    for qi in qixs:
        qid = int(ids[qi])
        cand_mask = np.zeros(len(E), dtype=bool)
        for t in range(LSH_TABLES):
            probes = {int(buckets[qi, t])} | {
                int(buckets[qi, t]) ^ (1 << i) for i in range(LSH_PLANES)
            }
            cand_mask |= np.isin(buckets[:, t], list(probes))
        cand_mask[qi] = False
        cand = np.flatnonzero(cand_mask & (ids != qid))
        lsh_rows += [(qid, n, s, r) for n, s, r in exact_cos_topk(E, norms, ids, qi, cand, K)]

    ivf_rows, pq_rows, ivfpq_rows = [], [], []
    for qi in qixs:
        qid = int(ids[qi])
        not_self = ids != qid

        # knn_ivf: probe the nprobe max-dot cells, exact cosine inside
        probe = np.argsort(-(E[qi] @ cents.T), kind="stable")[:IVF_NPROBE]
        cand = np.flatnonzero(np.isin(cell, probe) & not_self)
        ivf_rows += [(qid, n, s, r) for n, s, r in exact_cos_topk(E, norms, ids, qi, cand, K)]

        # knn_pq: full-corpus ADC shortlist, exact rerank
        all_c = np.flatnonzero(not_self)
        short = topk(ids[all_c], adc_scores(Eunit[qi], books, codes[all_c]), PQ_RERANK)
        cand = np.flatnonzero(np.isin(ids, [n for n, _, _ in short]))
        pq_rows += [(qid, n, s, r) for n, s, r in exact_cos_topk(E, norms, ids, qi, cand, K)]

        # knn_ivf_pq: ADC restricted to the probed cells, exact rerank
        probe = np.argsort(-(E[qi] @ cents.T), kind="stable")[:IVFPQ_NPROBE]
        cand = np.flatnonzero(np.isin(cell, probe) & not_self)
        short = topk(ids[cand], adc_scores(Eunit[qi], books, codes[cand]), IVFPQ_RERANK)
        cand = np.flatnonzero(np.isin(ids, [n for n, _, _ in short]))
        ivfpq_rows += [(qid, n, s, r) for n, s, r in exact_cos_topk(E, norms, ids, qi, cand, K)]

    # self-check: reference vs the LIVE Spark pipelines, cell-for-cell
    from gomapreduce_spark.queries import QUERIES

    for qname, expected in (
        ("knn_lsh", lsh_rows),
        ("knn_ivf", ivf_rows),
        ("knn_pq", pq_rows),
        ("knn_ivf_pq", ivfpq_rows),
    ):
        got = sorted(
            (r.query_id, r.neighbor_id, f"{r.sim:.9g}", r.rk)
            for r in QUERIES[qname](spark, sf_dir).collect()
        )
        want = sorted((q, n, f"{s:.9g}", r) for q, n, s, r in expected)
        assert got == want, (
            f"{qname}: reference disagrees with the Spark pipeline\n"
            f"  only-spark: {[x for x in got if x not in want][:3]}\n"
            f"  only-ref:   {[x for x in want if x not in got][:3]}"
        )

    def values_sql(rows: list[tuple[int, int, float, int]]) -> str:
        return (
            "\nSELECT v.query_id::BIGINT AS query_id, v.neighbor_id::BIGINT AS neighbor_id,\n"
            "       v.sim::DOUBLE AS sim, v.rk::BIGINT AS rk\n"
            "FROM (VALUES\n"
            + ",\n".join(f"  ({q}, {n}, {s!r}, {r})" for q, n, s, r in rows)
            + "\n) AS v(query_id, neighbor_id, sim, rk)\n"
            "WHERE v.query_id IN (SELECT vec_id FROM embeddings)\n"
        )

    print(
        f"built {sf_dir}: {len(lsh_rows)} lsh, {len(ivf_rows)} ivf, {len(pq_rows)} pq, "
        f"{len(ivfpq_rows)} ivfpq rows"
    )
    return {
        "knn_lsh": values_sql(lsh_rows),
        "knn_ivf": values_sql(ivf_rows),
        "knn_pq": values_sql(pq_rows),
        "knn_ivf_pq": values_sql(ivfpq_rows),
    }


def main() -> int:
    import inspect

    from gomapreduce_spark.operators import similarity as pipe

    assert (pipe.IVF_SEED, pipe.IVF_SAMPLE, pipe.IVF_ITERS) == (KM_SEED, KM_SAMPLE, KM_ITERS)
    assert (pipe.PQ_M, pipe.PQ_KSUB, pipe.PQ_ITERS) == (PQ_M, PQ_KSUB, PQ_ITERS)
    lsh_sig = inspect.signature(pipe.knn_lsh).parameters
    assert (lsh_sig["n_planes"].default, lsh_sig["n_tables"].default) == (LSH_PLANES, LSH_TABLES)
    write_oracles(
        "ann",
        "Precomputed ANN oracles (GENERATED — do not edit).\n\n"
        "Source: tools/gen_ann_oracle.py (independent numpy reference,\n"
        "self-checked against the live pipelines at generation time).\n"
        "Every committed SF has its own tables in EXPECTED_BY_SF.\n",
        build,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
