"""Generate the DuckDB literal-table oracle for
``value_deciles_approx_seq`` — the deterministic repartition(1)
verification twin of ``value_deciles_approx`` — promoting the last
rows-only query family to full hash verification (the
gen_codec/gen_ann/gen_bpe/gen_hll mechanism).

Why the TWIN is deterministic when the registered scale form is not:
GK quantile sketch MERGES are shuffle-arrival-order-dependent, which
is why ``value_deciles_approx`` stays rows-only by design. The twin
repartition(1)'s the sketch input, so exactly ONE partial sketch
exists and the merge path never executes. And because the sf0.01
stream (10k rows) fits inside the sketch's 50k-element head buffer,
the only flush happens at compress time over a buffer that is SORTED
first — the final sketch is a pure function of the value MULTISET,
independent of arrival order within the single partition.

Reference independence: this restates the PUBLISHED Greenwald-Khanna
algorithm (SIGMOD'01) under Spark's documented scheduling — a single
sorted flush with per-element delta = floor(2·eps·rank) (0 at both
ends), one compression pass merging adjacent samples while
g_i + g_head + delta_head stays strictly under 2·eps·n, and the GK
rank query with target error max(g+delta)/2 — in pure python over a
DuckDB-read value list; nothing is imported from pyspark. The
generator ASSERTS the single-flush regime (n <= 50_000) and refuses
to write otherwise, so the oracle cannot silently drift onto the
order-dependent multi-flush/merge path at a bigger SF
(check_oracle degrades to rows-only there via PRECOMPUTED_ORACLE_SQL_BY_SF).

A self-check compares the generated table against the live Spark
pipeline and refuses to write on any mismatch.

Run: python tools/gen_vda_oracle.py   (regenerates EXPECTED_BY_SF for every committed SF)
Writes: gomapreduce_spark/vda_expected.py
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_common import half_up, write_oracles

ACCURACY = 10_000  # value_deciles_approx default
HEAD_SIZE = 50_000  # QuantileSummaries.defaultHeadSize — single-flush bound


def gk_single_flush(values: list[float], eps: float) -> list[tuple[float, int, int]]:
    """The sketch after ONE sorted head-buffer flush into an EMPTY
    sample set followed by one compression pass — exactly what a
    repartition(1) percentile_approx over <= 50k rows produces.
    Returns [(value, g, delta)]."""
    n = len(values)
    assert 0 < n <= HEAD_SIZE, f"n={n}: outside the restated single-flush regime"
    s = sorted(values)
    samples: list[tuple[float, int, int]] = []
    for i, v in enumerate(s):
        rank = i + 1
        delta = 0 if (i == 0 or i == n - 1) else math.floor(2.0 * eps * rank)
        samples.append((v, 1, delta))
    # compression: walk right-to-left, last element never merged; the
    # running head absorbs its left neighbor while the merged weight
    # stays strictly under the threshold; the minimum is re-prepended
    merge_threshold = 2.0 * eps * n
    res: list[tuple[float, int, int]] = []
    head = samples[-1]
    i = n - 2
    while i >= 1:
        s1 = samples[i]
        # merge while the combined weight stays WITHIN the threshold
        # (inclusive — probed against live percentile_approx: at
        # threshold exactly 2.0, adjacent g=1/delta=0 samples DO merge)
        if s1[1] + head[1] + head[2] <= merge_threshold:
            head = (head[0], head[1] + s1[1], head[2])
        else:
            res.insert(0, head)
            head = s1
        i -= 1
    res.insert(0, head)
    if samples[0][0] <= head[0] and n > 1:
        res.insert(0, samples[0])
    return res


def gk_query(samples: list[tuple[float, int, int]], count: int, eps: float, q: float) -> float:
    """GK rank query, restated and PROBED against live
    percentile_approx on synthetic distinct-value streams (1..n at four
    (n, accuracy) regimes): clamp the extreme quantiles to the end
    samples, otherwise advance while the successor stays STRICTLY under
    rank + targetError with targetError = eps·count (a float — at
    eps·count = 1.0 the strictness is observable: live picks rank-1,
    not rank+1, in the threshold-2.0 regime)."""
    if q <= eps:
        return samples[0][0]
    if q >= 1.0 - eps:
        return samples[-1][0]
    rank = math.ceil(q * count)
    target_error = eps * count
    min_rank = 0
    for i in range(len(samples) - 1):
        min_rank += samples[i][1]
        nxt = samples[i + 1]
        if not (min_rank + nxt[1] + nxt[2] < rank + target_error):
            return samples[i][0]
    return samples[-1][0]


def expected_rows(values: list[float], accuracy: int = ACCURACY) -> list[tuple[int, int, float, float]]:
    """(decile, n, lo, hi) rows: restated cutpoints, then the exact
    bucket-and-rollup the pipeline's second pass performs."""
    eps = 1.0 / accuracy
    sk = gk_single_flush(values, eps)
    cuts = [gk_query(sk, len(values), eps, i / 10.0) for i in range(1, 10)]
    buckets: dict[int, list[float]] = {}
    for v in values:
        d = 1 + sum(1 for c in cuts if c < v)
        buckets.setdefault(d, []).append(v)
    return [
        (d, len(vs), half_up(min(vs), 4), half_up(max(vs), 4))
        for d, vs in sorted(buckets.items())
    ]


def build(sf_dir: str, spark) -> dict[str, str] | None:
    """Expected-table SQL for one sf_dir, or None when that SF's value
    count exceeds HEAD_SIZE — above the single-flush bound even the
    repartition(1) TWIN leaves the pure-function regime (the second
    head-buffer flush inserts into existing samples in shuffle-arrival
    order), so an expected table there would be flaky by construction
    and the check tooling correctly stays rows-only (sf0.1: 100k
    events > 50k)."""
    import duckdb

    values = [
        r[0]
        for r in duckdb.sql(
            f"SELECT value FROM read_parquet('{sf_dir}/events.parquet') WHERE value IS NOT NULL"
        ).fetchall()
    ]
    if len(values) > HEAD_SIZE:
        print(f"SKIP {sf_dir}: n={len(values)} > head buffer {HEAD_SIZE} (multi-flush regime)")
        return None
    expected = expected_rows(values)

    from gomapreduce_spark.operators.events import value_deciles_approx
    from gomapreduce_spark.sources.registry import load_table

    live = sorted(
        (r["decile"], r["n"], r["lo"], r["hi"])
        for r in value_deciles_approx(
            load_table(spark, sf_dir, "events"), sequential=True
        ).collect()
    )
    if live != expected:
        raise AssertionError(f"SELF-CHECK FAILED at {sf_dir}: live={live} restated={expected}")
    print(f"self-check OK at {sf_dir}:", expected)
    rows = ",\n    ".join(
        f"({d}::BIGINT, {n}::BIGINT, {lo!r}::DOUBLE, {hi!r}::DOUBLE)" for d, n, lo, hi in expected
    )
    return {
        "value_deciles_approx_seq": (
            "\n    SELECT col0 AS decile, col1 AS n, col2 AS lo, col3 AS hi FROM (VALUES\n"
            f"    {rows}) t\n"
        )
    }


def main() -> int:
    write_oracles(
        "vda",
        "GENERATED by tools/gen_vda_oracle.py — do not edit.\n\n"
        "Expected value_deciles_approx_seq output at the single-flush-eligible\n"
        "SFs (sf0.1's 100k values exceed the 50k head buffer, where even the\n"
        "repartition(1) twin is arrival-order-dependent, so it has NO entry by\n"
        "design) from the independent pure-python Greenwald-Khanna restatement\n"
        "(see the generator docstring), self-checked against the live pipeline.\n",
        build,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
