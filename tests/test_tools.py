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
