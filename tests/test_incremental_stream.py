"""Structured-Streaming microbatch ingest == batch pipeline result."""

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.streaming import incremental


def test_stream_matches_batch(spark, catalog, tmp_path):
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    pages = datagen.pages_df(spark, 30)
    pages_dir = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(pages_dir)

    qy = incremental.stream_pages_dir(
        spark, pages_dir, catalog, str(tmp_path / "ckpt"), extract_from_html=True
    )
    qy.awaitTermination(300)

    batch_cat = ParquetCatalog(str(tmp_path / "batch"))
    pipeline.run_pipeline(spark, pages, batch_cat, extract_from_html=True)

    for t in ["nodes", "edges", "triples"]:
        # streaming defaults to graph_mode="mor", whose nodes carry the
        # internal _complete tiebreak column — content must still match
        # the cow batch run exactly
        da = catalog.read(spark, t)
        if "_complete" in da.columns:
            da = da.drop("_complete")
        a = sorted(tuple(r) for r in da.collect())
        b = sorted(tuple(r) for r in batch_cat.read(spark, t).collect())
        assert a == b, t


def test_stream_communities_matches_full_rebuild(spark, tmp_path):
    """Two edge-file drops through stream_communities_dir == one
    full-graph LPA over everything ingested; the second start consumes
    only the new files (checkpoint) and merges components."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import (
        community_index as ci,
    )
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    b1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
          ("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    b2 = [("a3", "b1"), ("n1", "n2")]
    cat = ParquetCatalog(str(tmp_path / "cat"))
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(b1, "cid string, nbr_id string").write.mode(
        "append"
    ).parquet(edges_dir)
    incremental.stream_communities_dir(
        spark, edges_dir, cat, ckpt, iters=5
    ).awaitTermination(300)
    spark.createDataFrame(b2, "cid string, nbr_id string").write.mode(
        "append"
    ).parquet(edges_dir)
    incremental.stream_communities_dir(
        spark, edges_dir, cat, ckpt, iters=5
    ).awaitTermination(300)

    sym = ci._sym(
        spark.createDataFrame(b1 + b2, "u string, v string")
    )
    want = {(r["id"], r["label"]) for r in q.label_propagation(sym, iters=5).collect()}
    got = {(r["id"], r["label"]) for r in ci.read_labels(spark, cat).collect()}
    assert got == want and got
