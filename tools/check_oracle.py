"""Local stand-in for the driver's correctness gate.

Runs every query in ``__spark_entry__.queries()`` on Spark and its
``oracle_sql()`` on DuckDB over the same sf dir, then compares:
row count, column names, and order-insensitive values (columns sorted
by name, rows sorted, exact equality after the queries' own rounding).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def norm(v):
    # Dtype-tagged: the driver's hash distinguishes int64 3549 from
    # float64 3549.0 (DuckDB sum(BIGINT) widens to HUGEINT → pandas
    # float64), so a lenient "3549"=="3549.0" here would mask a real
    # driver mismatch (this bit round 2's corpus_mixture).
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # DRIVER-STRICT on zero sign (round 12 lesson): the driver's
            # value hash distinguishes -0.0 from +0.0, and the old
            # collapse here masked the lineitem_footer_stats parquet
            # footer-stat mismatch locally while the driver caught it.
            # Tag -0.0 distinctly so any operator leaking it fails HERE.
            return "f:-0"
        return f"f:{v:.9g}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if v is None:
        return "null:"
    # strings get their own namespace too — a VARCHAR cell that happens
    # to equal "i:5" or "f:NaN" must not collide with a tagged numeric
    return f"s:{v}"


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def pandas_rows(df):
    """Mirror the driver: both sides pass through pandas, so dtypes are
    what pandas makes of them (DuckDB HUGEINT → float64, Spark long →
    int64) and list/array cells crash its sort. Returns (cols, rows)
    with numpy scalars unboxed so norm()'s dtype tags apply, or raises
    TypeError for driver-unsortable array/list cells."""
    rows = []
    for row in df.itertuples(index=False, name=None):
        vals = []
        for x in row:
            if hasattr(x, "ndim") and getattr(x, "ndim", 0) > 0:
                raise TypeError("array-typed cell — the driver's pandas sort crashes on these")
            if isinstance(x, (list, tuple, dict)):
                raise TypeError("nested cell — the driver's pandas sort crashes on these")
            vals.append(x.item() if hasattr(x, "item") else x)
        rows.append(tuple(vals))
    return list(df.columns), rows


def main() -> int:
    import __spark_entry__ as entrymod
    from gomapreduce_spark.session import get_spark

    spark = get_spark("check_oracle")  # cpus resolved by session.default_cpus
    spark.sparkContext.setLogLevel("ERROR")

    # Canary: if the driver re-encodes testdata timestamps again, fail
    # loudly HERE — before any query half-runs on garbage timestamps.
    from gomapreduce_spark.sources.registry import load_table

    ts_dtype = dict(load_table(spark, SF_DIR, "events").dtypes)["ts"]
    assert ts_dtype == "timestamp", (
        f"events.ts arrived as {ts_dtype!r}, not 'timestamp' — a new testdata "
        "encoding slipped past sources.registry.normalize_timestamps"
    )

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    from gomapreduce_spark.queries import PRECOMPUTED_ORACLE_SQL_BY_SF

    precomputed = {
        q: {os.path.normpath(sf): sql for sf, sql in by_sf.items()}
        for q, by_sf in PRECOMPUTED_ORACLE_SQL_BY_SF.items()
    }

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = ONLY - set(qs)
    if unknown:
        print(f"WARN: unknown query name(s) ignored: {sorted(unknown)}")
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        # a precomputed VALUES literal is valid only at its own SF; with
        # no table for the SF under check, degrade to rows-only with a
        # reason instead of hard-failing on a stale literal
        by_sf = precomputed.get(name)
        oracle = oracles.get(name) if by_sf is None else by_sf.get(os.path.normpath(SF_DIR))
        try:
            sdf = fn(spark, SF_DIR)
            if by_sf is not None and oracle is None:
                n = len(sdf.collect())
                print(
                    f"ok   {name}: rows-only ({n} rows, {time.time()-t0:.1f}s) "
                    f"[precomputed oracle generated at {' and '.join(by_sf)}, checking {SF_DIR}"
                    " — value compare skipped]"
                )
                n_pass += 1
                continue
            if oracle is None:
                # collect(), not count(): count() lets Catalyst prune
                # unprojected columns, so a runtime error inside a column
                # expression (UDF, cast, divide) would never execute.
                # collect() materializes every column; no pandas
                # conversion, so array columns are fine here.
                n = len(sdf.collect())
                print(f"ok   {name}: rows-only ({n} rows, {time.time()-t0:.1f}s)")
                n_pass += 1
                continue
            scols, srows = pandas_rows(sdf.toPandas())
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        try:
            dcols, drows = pandas_rows(con.sql(oracle).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sc, sr = canon(scols, srows)
        dc, dr = canon(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(dr)}")
            n_fail += 1
            continue
        if sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {diffs}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
