"""Dump physical plans for the headline operators and grep them for
the properties that matter at 100 TB: parquet filter pushdown, column
pruning (ReadSchema), broadcast joins where intended, whole-stage
codegen spans.  Writes PLANS.md.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.session import get_spark  # noqa: E402

CHECKS = {
    "kg_mentions": ["ReadSchema"],
    "kg_cooccur_pairs": ["Generate explode"],
    "kg_triples": ["WholeStageCodegen"],
    "kg_pmi": ["BroadcastHashJoin"],
    "kg_concept_search": ["HashAggregate"],
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cpus=8)
    qs = entry.queries()
    out = ["# Physical plans of headline operators\n"]
    for name, hints in CHECKS.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        found = {h: (h.split()[0] in plan) for h in hints}
        out.append(f"\n## {name}\n")
        out.append("properties: " + ", ".join(f"{h}={'Y' if v else 'n'}" for h, v in found.items()))
        out.append("\n```\n" + plan[:4000] + ("\n… (truncated)" if len(plan) > 4000 else "") + "\n```\n")
        print(name, found)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
