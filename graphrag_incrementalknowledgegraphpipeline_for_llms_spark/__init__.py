"""PySpark-native incremental GraphRAG knowledge-graph construction engine.

A brand-new, Spark-first implementation of the capabilities of
``Cygnus2505/GraphRAG-IncrementalKnowledgeGraphPipeline-for-LLMs``
(reference surveyed in SURVEY.md).  The reference is a
Flink/Akka/Neo4j stack; this engine re-expresses the same data model,
operators, and query semantics as declarative PySpark DataFrame plans
with vectorized pandas/Arrow UDFs for the text stages and a
MERGE-upsert graph store (parquet locally, Iceberg-shaped API).

It builds a concept graph from crawled pages
(``plans.pipeline.run_pipeline``), keeps it fresh batch by batch
(``plans.refresh.refresh_after_batch``) and answers graph reads
(``plans.httpapi.GraphApiService``).

Layout
------
functions/   scalar & table function library (concept extraction,
             HTML->text, OpenIE frames, lemma normalization, URLs)
operators/   relational/graph operators (co-occurrence, PMI, scoring,
             graph merge, connected components, text search)
sources/     table IO + the storage catalog (parquet / Iceberg seam)
plans/       end-to-end pipeline, refresh, the query API (Q1-Q5) and
             the HTTP service
streaming/   incremental snapshot-driven microbatch runner
"""

__version__ = "0.1.0"
