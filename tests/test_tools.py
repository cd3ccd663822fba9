"""Every script under tools/ imports cleanly, and importing it starts
no Spark: a deleted module that a tool still imports, or a broken
import of a shared helper, fails here instead of at the tool's next
run."""

from __future__ import annotations

import glob
import importlib
import os

import pytest

_TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(_TOOLS_DIR, "[!_]*.py"))), ids=os.path.basename
)
def test_tool_imports_without_spark(path):
    from pyspark import SparkContext

    before = SparkContext._active_spark_context
    importlib.import_module("tools." + os.path.basename(path)[: -len(".py")])
    assert SparkContext._active_spark_context is before


_PKG_DIR = os.path.join(os.path.dirname(_TOOLS_DIR), "gomapreduce_spark")


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(_PKG_DIR, "*_expected.py"))), ids=os.path.basename
)
def test_expected_module_defines_only_expected_by_sf(path):
    mod = importlib.import_module("gomapreduce_spark." + os.path.basename(path)[: -len(".py")])
    assert [n for n in vars(mod) if not n.startswith("_")] == ["EXPECTED_BY_SF"]


def test_precomputed_oracles_are_the_oracle_sf_tables():
    from gomapreduce_spark.queries import (
        ORACLE_SF,
        ORACLES,
        PRECOMPUTED_ORACLE_SF,
        PRECOMPUTED_ORACLE_SQL_BY_SF,
        QUERIES,
    )

    assert PRECOMPUTED_ORACLE_SQL_BY_SF
    for q, by_sf in PRECOMPUTED_ORACLE_SQL_BY_SF.items():
        assert q in QUERIES, q
        assert ORACLES[q] is by_sf[ORACLE_SF], q
    assert set(PRECOMPUTED_ORACLE_SF) == set(PRECOMPUTED_ORACLE_SQL_BY_SF)


def test_oracle_writer_round_trips():
    from tools.gen_common import render

    by_sf = {
        "/data/sf1": {"a": "\n    SELECT 1 AS x\n", "b": "SELECT 'it''s' AS s"},
        "/data/sf2": {"a": "\nSELECT \"q\" FROM (VALUES\n  (1, '')\n) AS v(q)\n"},
    }
    ns: dict = {}
    exec(render("Doc.\n", by_sf), ns)
    assert ns["__doc__"] == "Doc.\n"
    assert ns["EXPECTED_BY_SF"] == by_sf
    with pytest.raises(AssertionError):
        render("Doc.\n", {"/data/sf1": {"a": "SELECT '''' AS s"}})


def test_oracle_priority_window():
    """The correctness run checks only the first 50 QUERIES entries, so
    a duplicate, an oracle-less entry or an overflow in ``_PRIORITY``
    would silently push a recently changed path out of that window."""
    from gomapreduce_spark.queries import _PRIORITY, ORACLES, QUERIES

    assert len(set(_PRIORITY)) == len(_PRIORITY)
    assert [q for q in _PRIORITY if q not in ORACLES] == []
    assert len(_PRIORITY) <= 50
    assert list(QUERIES)[: len(_PRIORITY)] == list(_PRIORITY)


def test_masked_plan_dump_hides_only_volatile_ids():
    """Two dumps of one plan differ in expression ids, exchange plan
    ids, RDD numbers and UUIDs; masking removes exactly those, so a
    before/after diff shows real plan changes only."""
    from tools.dump_plan_files import masked

    plan = (
        "Output [2]: [doc_id#216L, sh_h#220L]\n"
        "Arguments: [doc_id#216L], MapPartitionsRDD[71] at localCheckpoint, "
        "[plan_id=1098] 3f2b8c1e-0a4d-4e7f-9b1c-2d3e4f5a6b7c"
    )
    rerun = (
        "Output [2]: [doc_id#9L, sh_h#12L]\n"
        "Arguments: [doc_id#9L], MapPartitionsRDD[5] at localCheckpoint, "
        "[plan_id=7] 00000000-1111-2222-3333-444444444444"
    )
    assert masked(plan) == masked(rerun)
    assert masked(plan) != masked(plan.replace("sh_h", "tok_h"))
