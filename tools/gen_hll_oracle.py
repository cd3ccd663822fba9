"""Generate the DuckDB literal-table oracle for ``approx_distinct_users``,
promoting the last sketch query with deterministic output from rows-only
to full hash verification — the gen_codec/gen_ann/gen_bpe mechanism.

Why this is sound: HyperLogLog++ registers are combined by MAX, a
commutative / associative / idempotent merge, so — unlike GK quantile
sketches — the final sketch is a pure function of the input SET,
independent of partitioning, task order, or host parallelism. The
estimate is therefore reproducible bit-for-bit from the distinct keys
alone.

Reference independence: this restates the PUBLISHED algorithms —
xxHash64 (Collet's public spec; the 8-byte-input path) and HLL++
(Heule, Nunkesser & Hall, 2013) with the standard linear-counting
small-range correction — in pure python over a DuckDB-read distinct
key list; nothing is imported from pyspark. Two published constants
are taken from the papers: p = ceil(2·log2(1.106/rsd)) (HLL++ §4) and
the p=12 linear-counting threshold 3100 (paper appendix). The
generator ASSERTS the estimate lands in the linear-counting regime
(H <= threshold with empty registers present) and refuses to write
otherwise — the bias-interpolation branch is deliberately not
restated, so the oracle cannot silently drift onto an unverified path
at a different SF (check_oracle degrades to rows-only there via
PRECOMPUTED_ORACLE_SQL_BY_SF).

A self-check compares the generated table against the live Spark
pipeline and refuses to write on any mismatch.

Run: python tools/gen_hll_oracle.py   (regenerates EXPECTED_BY_SF for every committed SF)
Writes: gomapreduce_spark/hll_expected.py
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_common import write_oracles

RSD = 0.02  # approx_distinct_users default
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)

# linear-counting thresholds per precision p=4..18 (HLL++ paper
# appendix / empirical-bias dataset; only p=12 is consumed here)
_THRESHOLDS = (10, 20, 40, 80, 220, 400, 900, 1800, 3100, 6500, 11500, 20000, 50000, 120000, 350000)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_long(value: int, seed: int = 42) -> int:
    """xxHash64 of one 64-bit little-endian word — the 8-byte input
    path of Collet's spec (one round of the tail loop), which is what
    a BIGINT column hashes to. Returns the UNSIGNED 64-bit hash."""
    value &= _M64
    h = (seed + _P5 + 8) & _M64
    h ^= (_rotl((value * _P2) & _M64, 31) * _P1) & _M64
    h = ((_rotl(h, 27) * _P1) + _P4) & _M64
    return _fmix(h)


def hllpp_estimate(keys: list[int], rsd: float = RSD) -> int:
    """HLL++ cardinality of a set of int64 keys, restated from the
    paper: p = ceil(2·log2(1.106/rsd)) register index bits taken from
    the hash TOP, rho = leading zeros of the remainder (shifted left by
    p, sentinel-padded) + 1, registers max-merged; small-range
    correction = linear counting m·ln(m/V) when empty registers exist
    and the estimate is under the p-specific threshold. Raises outside
    the linear-counting regime — see module docstring."""
    p = math.ceil(2.0 * math.log(1.106 / rsd) / math.log(2.0))
    assert 4 <= p <= 18
    m = 1 << p
    regs = [0] * m
    w_pad = 1 << (p - 1)
    for k in set(keys):
        x = xxh64_long(k)
        idx = x >> (64 - p)
        w = ((x << p) | w_pad) & _M64
        rho = 64 - w.bit_length() + 1
        if rho > regs[idx]:
            regs[idx] = rho
    v = regs.count(0)
    if v == 0:
        raise AssertionError("no empty registers: outside the restated linear-counting regime")
    h = m * math.log(m / v)
    if h > _THRESHOLDS[p - 4]:
        raise AssertionError(f"H={h:.1f} > threshold {_THRESHOLDS[p-4]}: bias branch not restated")
    # JVM Math.round = floor(x + 0.5)
    return math.floor(h + 0.5)


def build(sf_dir: str, spark) -> dict[str, str]:
    """Expected-table SQL for one sf_dir, self-checked against the
    live pipeline (raises on mismatch)."""
    import duckdb

    groups = duckdb.sql(
        f"""
        SELECT event_type, list(DISTINCT user_id) FROM
        read_parquet('{sf_dir}/events.parquet')
        WHERE user_id IS NOT NULL GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    expected = [(t, hllpp_estimate(keys)) for t, keys in groups]

    from gomapreduce_spark.operators.events import approx_distinct_users
    from gomapreduce_spark.sources.registry import load_table

    live = sorted(
        (r["event_type"], r["approx_users"])
        for r in approx_distinct_users(load_table(spark, sf_dir, "events")).collect()
    )
    if live != expected:
        raise AssertionError(f"SELF-CHECK FAILED at {sf_dir}: live={live} restated={expected}")
    print(f"self-check OK at {sf_dir}:", expected)
    rows = ",\n    ".join(f"('{t}', {n}::BIGINT)" for t, n in expected)
    return {
        "approx_distinct_users": (
            "\n    SELECT col0 AS event_type, col1 AS approx_users FROM (VALUES\n"
            f"    {rows}) t\n"
        )
    }


def main() -> int:
    write_oracles(
        "hll",
        "GENERATED by tools/gen_hll_oracle.py — do not edit.\n\n"
        "Expected approx_distinct_users output at every committed SF from\n"
        "the independent pure-python xxHash64 + HLL++ restatement (see the\n"
        "generator docstring), self-checked against the live pipeline per SF.\n",
        build,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
