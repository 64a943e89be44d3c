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
        a = sorted(tuple(r) for r in catalog.read(spark, t).collect())
        b = sorted(tuple(r) for r in batch_cat.read(spark, t).collect())
        assert a == b, t

    # the sink runs refresh_after_batch: the streamed catalog carries
    # stored communities equal to a cold LPA/CC of its graph
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import (
        canonicalize,
    )
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import (
        queries,
        refresh,
    )

    und = (
        queries.undirected_concept_edges(catalog.read(spark, "edges"))
        .select("cid", "nbr_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = catalog.read(spark, refresh.LABELS_TABLE).select("id", "label")
    comp = catalog.read(spark, refresh.COMP_TABLE).select("id", "component")
    assert {tuple(r) for r in labels.collect()} == {
        tuple(r) for r in queries.label_propagation(und, iters=5).collect()
    }
    assert {tuple(r) for r in comp.collect()} == {
        tuple(r)
        for r in canonicalize.connected_components(und, src="cid", dst="nbr_id").collect()
    }
