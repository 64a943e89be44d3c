"""Plan audit: `.explain`-derived evidence that the headline queries
compile to the physical plans a 100 TB deployment needs.

For every driver query this prints (and writes to PLAN_AUDIT.md):

* scan pushdown — PushedFilters + ReadSchema column pruning
* WholeStageCodegen span count (JVM-side, vectorizable pipeline)
* join strategies (broadcast vs shuffle)
* aggregate strategies (hash vs sort)
* Python/Arrow stages (should appear ONLY in extraction)

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def audit_plan(df) -> dict:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        df.explain()  # simple mode carries the *(N) codegen ids
    simple = buf2.getvalue()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schema = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "smj_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "cartesian": plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin"),
        "hash_aggs": plan.count("HashAggregate"),
        "obj_hash_aggs": plan.count("ObjectHashAggregate"),
        "sort_aggs": plan.count("SortAggregate"),
        "exchanges": plan.count("Exchange "),
        "python_stages": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        "pushed_filters": [p for p in pushed if p.strip()],
        "scan_columns": [len(s.split(",")) for s in read_schema],
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    lines = [
        "# PLAN AUDIT — physical-plan evidence per driver query",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`.",
        "",
        "Columns: WholeStageCodegen spans (0 usually means AQE hides them",
        "pre-execution, not an interpreted plan) / joins (bc=broadcast,",
        "smj=sort-merge, shj=shuffled-hash, cart=cartesian or nested-loop) /",
        "aggregates (hash+objhash vs sort) / shuffle exchanges / Python-Arrow",
        "stages / parquet filter pushdown & column pruning (cols per scan).",
        "",
        "| query | codegen | joins bc/smj/shj/cart | aggs hash/sort | exch | py | pushed filters | scan cols |",
        "|---|---|---|---|---|---|---|---|",
    ]
    qs = entry.queries()
    flagged: list[str] = []
    for name in sorted(qs):
        try:
            df = qs[name](spark, sf_dir)
            a = audit_plan(df)
        except Exception as e:  # pragma: no cover
            lines.append(f"| {name} | ERROR {type(e).__name__}: {e} | | | | | | |")
            continue
        pf = "yes" if a["pushed_filters"] else "—"
        cols = ",".join(str(c) for c in a["scan_columns"][:4]) or "—"
        lines.append(
            f"| {name} | {a['codegen_spans']} "
            f"| {a['broadcast_joins']}/{a['smj_joins']}/{a['shuffled_hash_joins']}/{a['cartesian']} "
            f"| {a['hash_aggs'] + a['obj_hash_aggs']}/{a['sort_aggs']} "
            f"| {a['exchanges']} | {a['python_stages']} | {pf} | {cols} |"
        )
        if a["cartesian"]:
            flagged.append(f"{name}: cartesian/nested-loop join in plan")
    lines.append("")
    if flagged:
        lines.append("## Flags")
        lines += [f"- {f}" for f in flagged]
    else:
        lines.append("No cartesian products or nested-loop joins in any query plan.")
    out = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write(out)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
