"""Benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value" (total sec), "unit": "sec",
"queries": {name: sec}, "sf", plus kg-pipeline throughput fields}.

The KG-pipeline benchmark generates a deterministic synthetic pages
table once (cached parquet under .cache/) and measures docs/sec of the
full pipeline (html->text, extraction, pairs, scoring, graph MERGE,
lineage) into a fresh catalog.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "8000"))


def main():
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.session import get_spark
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    spark = get_spark(app_name="kg-bench", cpus=CPUS)

    # ---- warmup: JVM + Arrow python workers ----
    spark.range(1_000_000).select(F.sum("id")).collect()
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(s):
        return s

    spark.range(1000).select(_warm("id")).collect()

    timings: dict[str, float] = {}

    # ---- KG pipeline throughput (best-of-repeats like the queries:
    # the first run after JVM start pays codegen JIT + Arrow worker
    # spin-up and a shared-host draw — single-shot numbers swung
    # 13-32 s for identical code) ----
    pages_path = os.path.join(REPO, ".cache", f"bench_pages_{N_PAGES}")
    if not os.path.isdir(pages_path):
        datagen.write_pages_parquet(spark, pages_path, N_PAGES, partitions=CPUS * 2)
    pipe_repeats = int(os.environ.get("SPARK_GRAFT_BENCH_PIPE_REPEATS", "2"))
    pages = spark.read.parquet(pages_path)
    kg_sec, res = None, None
    for _ in range(pipe_repeats):
        cat_path = os.path.join(REPO, ".cache", "bench_catalog")
        shutil.rmtree(cat_path, ignore_errors=True)
        cat = ParquetCatalog(cat_path)
        t0 = time.monotonic()
        res = pipeline.run_pipeline(spark, pages, cat, extract_from_html=True)
        dt = time.monotonic() - t0
        kg_sec = dt if kg_sec is None else min(kg_sec, dt)
    timings["kg_pipeline"] = round(kg_sec, 3)
    docs_per_sec = round(res.pages / kg_sec, 2)

    # ---- triple P/R gate vs purecore golden (BASELINE.json headline:
    # P/R >= 0.95) — surfaced per-round as PR.json.  The distributed
    # path (fused html->text->concepts Arrow pass, candidate pairs,
    # scorer) runs over a deterministic chunk sample; the golden is
    # purecore.score_triples_for_text per chunk on the driver (the
    # same pure-Python reference the pytest gate uses). ----
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
        concepts as cfn,
    )
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
        purecore as pc,
    )
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import (
        cooccur as co,
    )
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import (
        scorer as sc,
    )

    n_pr = int(os.environ.get("SPARK_GRAFT_PR_CHUNKS", "500"))
    pr_pages = pages.orderBy("url").limit(n_pr)
    pr_enriched = pipeline.chunks_from_pages(
        cfn.enrich_pages_from_html(pr_pages),
        extra_cols=("concepts", "evidence", "evidence100"),
    ).persist()
    got = {
        (r["chunk_id"], r["subj_id"], r["predicate"], r["obj_id"], r["confidence"])
        for r in sc.triples_from(
            sc.score_candidates(co.candidate_pairs(pr_enriched))
        ).collect()
    }
    golden = set()
    for r in pr_enriched.select("chunk_id", "text").collect():
        for tr in pc.score_triples_for_text(r["text"], r["chunk_id"]):
            golden.add(
                (tr["chunk_id"], tr["subj_id"], tr["predicate"], tr["obj_id"], tr["confidence"])
            )
    pr_enriched.unpersist()
    inter = got & golden
    precision = len(inter) / len(got) if got else 1.0
    recall = len(inter) / len(golden) if golden else 1.0
    pr = {
        "precision": round(precision, 6),
        "recall": round(recall, 6),
        "spark_triples": len(got),
        "golden_triples": len(golden),
        "n_chunks": n_pr,
        "pass": precision >= 0.95 and recall >= 0.95,
        "gate": "BASELINE.json triple-extraction P/R >= 0.95 vs purecore golden",
    }
    # only a full-sample run may overwrite the committed gate artifact
    # — a reduced-chunk smoke run (SPARK_GRAFT_PR_CHUNKS < 500) must
    # not silently replace the 500-chunk evidence
    pr_name = "PR.json" if n_pr >= 500 else "PR_smoke.json"
    with open(os.path.join(REPO, pr_name), "w") as f:
        json.dump(pr, f, indent=2)

    # ---- headline query timings at SF_DIR ----
    qs = entry.queries()
    bench_queries = [
        "kg_mentions",
        "kg_mentions_nlp",
        "kg_cooccur_pairs",
        "kg_pmi",
        "kg_triples",
        "kg_concept_search",
        "kg_connected_components",
        "kg_pagerank",
        "kg_communities",
        "kg_global_search",
        "kg_local_search",
        "kg_node_features",
        "kg_link_prediction",
        "kg_hits",
        "kg_context_pack",
        "kg_node2vec",
        "kg_path_between",
        "kg_scc",
        "kg_triad_census",
        "kg_independent_set",
        "kg_pagerank_weighted",
        "kg_svo_triples",
        "kg_svo_linked",
        "kg_wl_labels",
        "kg_densest_subgraph",
        "kg_spanning_forest",
        "kg_graph_coloring",
        "kg_maximal_matching",
        "kg_assortativity",
        "kg_katz",
        "kg_vertex_cover",
        "kg_label_spreading",
        "kg_reciprocity",
        "kg_taxonomy_reduction",
        "kg_centralization",
        "kg_distance_distribution",
        "kg_squares",
        "kg_rich_club",
        "kg_bowtie",
        "kg_source_overlap",
        "kg_topo_layers",
        "kg_graph_sparsify",
        "kg_dag_paths",
        "kg_egonet_anomaly",
        "kg_related_chunks",
        "kg_spam_mass",
        "kg_typed_degrees",
        "kg_metapath_counts",
        "kg_community_bridges",
        "kg_peripheral_concepts",
        "kg_extraction_yield",
        "kg_concept_drift",
        "kg_predicate_conflicts",
        "kg_triple_support",
        "kg_concept_roles",
        "kg_simrank",
        "kg_confidence_calibration",
        "kg_attack_tolerance",
        "kg_rpq_reachability",
        "kg_wu_palmer",
        "kg_alias_census",
        "kg_typed_triangles",
        "kg_landmark_distances",
        "kg_eigenvector",
        "kg_graph_growth",
        "kg_tie_strength",
        "kg_source_reliability",
        "kg_evidence_freshness",
    ]
    # best-of-N per query: this sandbox VM shares a host and a single
    # contaminated instant can inflate one query 10-40x (measured);
    # min-of-repeats reports the code's cost, not the host lottery
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    for name in bench_queries:
        best, n = None, None
        for _ in range(repeats):
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            n = df.count()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        timings[f"{name}_rows"] = n

    # ---- sf1 headline pipeline draw (10x the default bench corpus):
    # the 10x-replica protocol hides constant-factor drift; one real
    # 80k-page draw per round catches it.  Reported as dedicated
    # fields, NOT folded into the headline total, so round-over-round
    # totals stay comparable.  Disable with SPARK_GRAFT_BENCH_SF1=0.
    sf1 = {}
    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0":
        n1 = N_PAGES * 10
        pages1_path = os.path.join(REPO, ".cache", f"bench_pages_{n1}")
        if not os.path.isdir(pages1_path):
            datagen.write_pages_parquet(spark, pages1_path, n1, partitions=CPUS * 4)
        pages1 = spark.read.parquet(pages1_path)
        cat_path = os.path.join(REPO, ".cache", "bench_catalog_sf1")
        shutil.rmtree(cat_path, ignore_errors=True)
        t0 = time.monotonic()
        res1 = pipeline.run_pipeline(
            spark, pages1, ParquetCatalog(cat_path), extract_from_html=True
        )
        dt = time.monotonic() - t0
        shutil.rmtree(cat_path, ignore_errors=True)
        sf1 = {
            "kg_pipeline_sf1_sec": round(dt, 3),
            "kg_pipeline_sf1_pages": res1.pages,
            "kg_docs_per_sec_sf1": round(res1.pages / dt, 2),
        }

    total = round(sum(v for k, v in timings.items() if not k.endswith("_rows")), 3)
    out = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": {k: v for k, v in timings.items() if not k.endswith("_rows")},
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "kg_pages": res.pages,
        "kg_mentions": res.mentions,
        "kg_triples": res.triples,
        "kg_docs_per_sec": docs_per_sec,
        "cpus": CPUS,
        "stage_ms": res.stage_ms,
        "pr": pr,
        **sf1,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
