#!/usr/bin/env python
"""Print a fingerprint of each query's optimized logical plan.

For every named query (default: every registered one) this builds the
query at sf0.001 and prints ``<sha256>  <name>``: the hash of its
optimized logical plan with the run-order noise masked: expression ids
(``#123``), Python lambda variable counters (``x_53``), RDD ids,
``plan_id`` tags and ``mem_`` memory-sink names. Two checkouts whose lines
match built the same plan; a changed hash names a query whose plan
changed. Run it in both trees and diff the output:

    python tools/plan_manifest.py lang_id kmeans_refine > after.txt

``--show`` prints the masked plan text instead of its hash, to see what
changed. A query that fails to build prints ``ERROR <type>`` in place of
the hash, and its traceback on stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

_MASKS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=_"),
    (re.compile(r"\bmem_\w+"), "mem__"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[_]"),
)


def masked_plan(df) -> str:
    """The optimized logical plan of ``df`` with run-order ids masked."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    return text


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="*", help="queries to fingerprint (default: all)")
    ap.add_argument("--show", action="store_true", help="print the masked plans")
    args = ap.parse_args()

    from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import profiling
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import get_spark

    unknown = [n for n in args.names if n not in plans.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    profiling.PROV_ORACLE_SF = SF  # file_provenance's fixture guard
    spark = get_spark()
    failed = 0
    for name in args.names or list(plans.QUERIES):
        try:
            text = masked_plan(plans.QUERIES[name](spark, SF))
        except Exception as ex:  # report and go on: one broken query is one line
            failed += 1
            traceback.print_exc()
            print(f"ERROR {type(ex).__name__}  {name}", flush=True)
            continue
        if args.show:
            print(f"== {name}\n{text}", flush=True)
        else:
            print(f"{hashlib.sha256(text.encode()).hexdigest()}  {name}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
