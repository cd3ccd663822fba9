"""Vector math over ``array<float>`` columns, JVM-side.

Everything here stays inside Catalyst (``zip_with`` + ``aggregate``
fold) — no Python UDF in the hot path. Elements are cast to double
*before* multiplying and the fold is left-to-right, which matches
DuckDB's ``list_dot_product(a::DOUBLE[], b::DOUBLE[])`` after
round(…, 6) — required for the oracle compare.

(A fixed-width expanded sum ``a[0]*b[0]+…`` was benchmarked and is
~3× SLOWER than the fold on all-pairs workloads — the 64-term
expression tree defeats whole-stage codegen. For bulk all-pairs
scoring use the Arrow/numpy path in operators.dedup, which keeps the
same left-to-right summation order and therefore the same IEEE
results.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
