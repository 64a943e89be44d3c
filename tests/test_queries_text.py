"""Query library (Q1-Q5) over a materialized graph."""

import pytest
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline, queries


@pytest.fixture(scope="module")
def g(spark, tmp_path_factory):
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    cat = ParquetCatalog(str(tmp_path_factory.mktemp("qcat")))
    pipeline.run_pipeline(spark, datagen.pages_df(spark, 40), cat, extract_from_html=True)
    return {
        "nodes": cat.read(spark, "nodes"),
        "edges": cat.read(spark, "edges"),
        "mentions": cat.read(spark, "mentions"),
    }


def test_q1_metadata(spark, g):
    meta = queries.graph_metadata(g["nodes"], g["edges"])
    assert meta["chunk_count"] == 40
    assert meta["total_nodes"] == meta["concept_count"] + meta["chunk_count"]
    assert meta["relationship_types"]["MENTIONS"] > 0
    hist = queries.edge_type_histogram(g["edges"]).collect()
    assert [r["cnt"] for r in hist] == sorted((r["cnt"] for r in hist), reverse=True)


def test_q2_search_scores_are_degrees(spark, g):
    res = queries.search_concepts(g["nodes"], g["edges"], "spark", top_k=5).collect()
    assert res, "pattern 'spark' must match (Apache Spark / SparkContext in vocab)"
    und = queries.undirected_concept_edges(g["edges"])
    for r in res[:2]:
        deg = und.where(F.col("cid") == r["concept_id"]).count()
        assert r["score"] == deg


def test_q3_evidence(spark, g):
    some = g["mentions"].limit(1).collect()[0]
    chunks = g["nodes"].where(F.col("label") == "Chunk").select(
        F.col("id").alias("chunk_id"), "text"
    )
    res = queries.chunks_mentioning(g["mentions"], chunks, some["concept_id"]).collect()
    assert 1 <= len(res) <= 100
    assert any(r["chunk_id"] == some["chunk_id"] for r in res)


def test_q4_neighbors_distinct(spark, g):
    some = (
        queries.undirected_concept_edges(g["edges"]).limit(1).collect()[0]["cid"]
    )
    res = queries.concept_neighbors(g["nodes"], g["edges"], some, top_k=10).collect()
    ids = [r["nbr_id"] for r in res]
    assert len(ids) == len(set(ids)) and len(ids) <= 10


def test_q5_grouping(spark, g):
    concepts = g["nodes"].where(F.col("label") == "Concept")
    res = queries.group_results(concepts).collect()
    keys = {r["group_key"] for r in res}
    assert "data" in keys or "graph" in keys  # vocab has data_*/graph_* lemmas
