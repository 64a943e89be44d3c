"""Order-of-magnitude scale-up bench: run the headline pipeline and
the most expensive contract queries at ~10x the per-round bench scale
to confirm the sf0.1 plan shapes hold (iteration sizing of the graph
algorithms, bucketed self-joins, fused extraction).

Inputs are synthesized deterministically (no external data):
* documents/embeddings at "sf1": the sf0.1 tables replicated
  ``SCALE``x with id offsets and a per-replica text/vector
  perturbation, so replicas are near-dups rather than exact copies.
* pages for the pipeline throughput run via datagen (same generator
  as the per-round bench, more pages).

Pass/fail rule (VERDICT round 2 item 7): no query may exceed 2x its
extrapolated sf0.1 cost (sf0.1 best-of-N seconds x SCALE) — graph
iterations are allowed their log-factor but 2x covers that.

Usage: python tools/bench_scale_up.py [n_pages] [scale]
Writes one JSON line; paste the row into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
SCALE = int(sys.argv[2]) if len(sys.argv) > 2 else 10
SRC_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the FULL bench.py query set (round-4 VERDICT item 5: every benched
# query gets a scale-trend datapoint), in bench.py order
QUERIES = [
    "kg_mentions",
    "kg_mentions_nlp",
    "kg_cooccur_pairs",
    "kg_pmi",
    "kg_triples",
    "kg_concept_search",
    "kg_connected_components",
    "kg_eigenvector",
    "kg_graph_growth",
    "kg_tie_strength",
    "kg_source_reliability",
    "kg_evidence_freshness",
    "kg_pagerank",
    "kg_communities",
    "kg_global_search",
    "kg_local_search",
]


def main():
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.session import get_spark
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    spark = get_spark(app_name="kg-bench-scaleup", cpus=32)
    spark.range(1_000_000).select(F.sum("id")).collect()  # JVM warm

    # ---- synthesize the 10x corpus (deterministic, cached) ----
    big_dir = os.path.join(REPO, ".cache", f"sfbig_{SCALE}x")
    if not os.path.isdir(os.path.join(big_dir, "documents.parquet")):
        os.makedirs(big_dir, exist_ok=True)
        docs = spark.read.parquet(f"{SRC_SF}/documents.parquet")
        reps = None
        for k in range(SCALE):
            # id offset per replica; perturb text so replicas are
            # near-dups (append a replica marker), not exact copies
            r = docs.select(
                (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replica {k}")).alias("text"),
                "lang", "source", "n_chars",
            )
            reps = r if reps is None else reps.unionByName(r)
        reps.repartition(64).write.mode("overwrite").parquet(
            os.path.join(big_dir, "documents.parquet")
        )
        emb = spark.read.parquet(f"{SRC_SF}/embeddings.parquet")
        ereps = None
        for k in range(SCALE):
            r = emb.select(
                (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x: (x + F.lit(k * 1e-3)).cast("float"),
                ).alias("embedding"),
                "label",
            )
            ereps = r if ereps is None else ereps.unionByName(r)
        ereps.repartition(64).write.mode("overwrite").parquet(
            os.path.join(big_dir, "embeddings.parquet")
        )

    timings: dict[str, float] = {}

    # ---- pipeline throughput at N_PAGES (0 = skip, queries only) ----
    res = None
    if N_PAGES > 0:
        pages_path = os.path.join(REPO, ".cache", f"scaleup_pages_{N_PAGES}")
        if not os.path.isdir(pages_path):
            datagen.write_pages_parquet(spark, pages_path, N_PAGES, partitions=64)
        cat_path = os.path.join(REPO, ".cache", "scaleup_catalog")
        shutil.rmtree(cat_path, ignore_errors=True)
        cat = ParquetCatalog(cat_path)
        pages = spark.read.parquet(pages_path)
        t0 = time.monotonic()
        res = pipeline.run_pipeline(spark, pages, cat, extract_from_html=True)
        kg_sec = time.monotonic() - t0
        timings["kg_pipeline"] = round(kg_sec, 3)

    # ---- expensive contract queries on the 10x corpus ----
    # SPARK_GRAFT_SCALEUP_QUERIES: "none" skips, or a comma list
    qsel = os.environ.get("SPARK_GRAFT_SCALEUP_QUERIES", "")
    names = (
        []
        if qsel == "none"
        else (qsel.split(",") if qsel else QUERIES)
    )
    # best-of-N like bench.py: this VM's memory-heavy stages swing
    # 3-10x draw-to-draw under host memory pressure/steal (measured:
    # the SAME signature-write stage drew 40/49/56/138/189/474 s across
    # probes with no code change); min-of-repeats reports the code's
    # cost, not the host lottery
    repeats = int(os.environ.get("SPARK_GRAFT_SCALEUP_REPEATS", "2"))
    qs = entry.queries()
    rows = {}
    for name in names:
        best = None
        for _ in range(repeats):
            t0 = time.monotonic()
            rows[name] = qs[name](spark, big_dir).count()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    out = {
        "metric": "scale_up_bench",
        "n_pages": N_PAGES,
        "scale": SCALE,
        "queries_sec": {k: v for k, v in timings.items()},
        "rows": rows,
        "cpus": 32,
    }
    if res is not None:
        out["docs_per_sec"] = round(res.pages / kg_sec, 2)
        out["stage_ms"] = res.stage_ms
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
