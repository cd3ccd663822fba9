"""Dump `.explain("formatted")` of named queries to files — the
optimization-round evidence trail (plans/r14/<query>_{before,after}.txt).

Usage: python tools/dump_plan_files.py <outdir> <suffix> <query> [query ...]
e.g.   python tools/dump_plan_files.py plans/r14 after corpus_ingest_e2e
Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) so plan shapes match bench.

The dumps are masked (:func:`masked`), so ``diff`` of a before/after
pair shows only real plan changes.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# identifiers Spark numbers per session or per run: expression ids
# (doc_id#123L), exchange plan ids, RDD ids of checkpointed relations,
# and UUIDs (observation and temp names)
_VOLATILE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
)


def masked(plan: str) -> str:
    """``plan`` with expression ids, plan ids, RDD numbers and UUIDs
    replaced by fixed placeholders."""
    for pattern, placeholder in _VOLATILE:
        plan = pattern.sub(placeholder, plan)
    return plan


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from gomapreduce_spark.queries import QUERIES
    from gomapreduce_spark.session import get_spark
    from tools.explain_audit import plan_str

    spark = get_spark("dump_plan_files")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(masked(plan_str(df)))
        print("wrote", path)


if __name__ == "__main__":
    main()
