"""Shared plumbing for the seven oracle generators (gen_*_oracle.py):
the committed SFs, Spark's decimal rounding, and the one writer of the
``gomapreduce_spark/*_expected.py`` modules that ``queries.py`` reads.

A generated module holds its docstring and one name,
``EXPECTED_BY_SF: {sf_dir: {query: sql}}``.
"""

from __future__ import annotations

import ast
import os
import sys
from collections.abc import Callable
from decimal import ROUND_HALF_UP, Decimal

#: every committed fixture SF; a generator emits a table for each one
#: its reference is valid at
SF_DIRS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)

_PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gomapreduce_spark"
)


def half_up(x: float, nd: int) -> float:
    """Spark round(col, nd): HALF_UP over the shortest decimal repr of
    the double (BigDecimal.valueOf semantics) — ties round away from
    zero, unlike python's round / np.round banker's rounding."""
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


def render(doc: str, by_sf: dict[str, dict[str, str]]) -> str:
    """Source text of one ``*_expected.py`` module. Each SQL value is
    written unchanged between triple single quotes; the text is parsed
    back and must hold exactly ``by_sf``, so a value that a raw
    ``'''`` literal cannot carry fails here instead of in the file."""
    text = (
        f'"""{doc}"""\n\nEXPECTED_BY_SF = {{\n'
        + "".join(
            f"    {sf!r}: {{\n"
            + "".join(f"        {q!r}: '''{sql}''',\n" for q, sql in tables.items())
            + "    },\n"
            for sf, tables in by_sf.items()
        )
        + "}\n"
    )
    body = ast.parse(text).body
    assert len(body) == 2 and ast.literal_eval(body[1].value) == by_sf, "literal does not round-trip"
    return text


def write_oracles(
    name: str, doc: str, build: Callable[[str, object], dict[str, str] | None]
) -> None:
    """The ``main()`` of every generator: ``build(sf_dir, spark)``
    returns ``{query: sql}`` for one SF (self-checked against the live
    pipeline), or None where the reference is not valid; the tables
    of every SF go to ``gomapreduce_spark/{name}_expected.py``."""
    if len(sys.argv) > 1:
        sys.exit("the generators take no arguments - each regenerates EXPECTED_BY_SF for every committed SF")
    from gomapreduce_spark.queries import ORACLE_SF
    from gomapreduce_spark.session import get_spark

    spark = get_spark(f"gen_{name}_oracle", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    by_sf = {sf: tables for sf in SF_DIRS if (tables := build(sf, spark)) is not None}
    # queries.py reads ORACLES from the ORACLE_SF tables
    assert set(by_sf[ORACLE_SF]) == {q for tables in by_sf.values() for q in tables}
    path = os.path.join(_PKG_DIR, f"{name}_expected.py")
    with open(path, "w") as fh:
        fh.write(render(doc, by_sf))
    print("wrote", path)
