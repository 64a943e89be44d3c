"""Graph MERGE semantics (G2/G3), pipeline e2e, incrementality,
lineage, byte-identity (SURVEY.md §5.2-5.4)."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import concepts as cf
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import graph
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline

TS = datetime(2025, 6, 1, tzinfo=timezone.utc)


def _table(spark, catalog, name):
    df = catalog.read(spark, name)
    return sorted(tuple(r) for r in df.collect()) if df is not None else None


class TestMerge:
    def test_upsert_idempotent(self, spark, catalog):
        nodes = spark.createDataFrame(
            [("Concept", "id1", "lemma1", "s", "o", None, None, None, None, None, None)],
            graph.NODES_SCHEMA,
        )
        edges = spark.createDataFrame(
            [("Concept", "id1", "IS_A", "Concept", "id2", 0.9, "ev", TS)], graph.EDGES_SCHEMA
        )
        graph.upsert_graph(spark, catalog, nodes, edges)
        snap1 = (_table(spark, catalog, "nodes"), _table(spark, catalog, "edges"))
        graph.upsert_graph(spark, catalog, nodes, edges)
        snap2 = (_table(spark, catalog, "nodes"), _table(spark, catalog, "edges"))
        assert snap1 == snap2

    def test_last_write_wins(self, spark, catalog):
        n1 = spark.createDataFrame(
            [("Concept", "id1", "old", "s", "o", None, None, None, None, None, None)],
            graph.NODES_SCHEMA,
        )
        catalog.merge_upsert(spark, "nodes", n1, keys=["label", "id"])
        n2 = n1.withColumn("lemma", F.lit("new"))
        catalog.merge_upsert(spark, "nodes", n2, keys=["label", "id"])
        rows = catalog.read(spark, "nodes").collect()
        assert len(rows) == 1 and rows[0]["lemma"] == "new"

    def test_edge_before_node_placeholder_then_backfill(self, spark, catalog):
        edges = spark.createDataFrame(
            [("Concept", "a", "RELATED_TO", "Concept", "b", 0.7, "ev", TS)], graph.EDGES_SCHEMA
        )
        graph.upsert_graph(spark, catalog, nodes=None, edges=edges)
        nodes = {r["id"]: r for r in catalog.read(spark, "nodes").collect()}
        assert set(nodes) == {"a", "b"}
        assert nodes["a"]["lemma"] is None  # placeholder
        real = spark.createDataFrame(
            [("Concept", "a", "lemma_a", "s", "o", None, None, None, None, None, None)],
            graph.NODES_SCHEMA,
        )
        graph.upsert_graph(spark, catalog, nodes=real, edges=None)
        nodes2 = {r["id"]: r for r in catalog.read(spark, "nodes").collect()}
        assert nodes2["a"]["lemma"] == "lemma_a"  # backfilled
        assert nodes2["b"]["lemma"] is None

    def test_rel_sanitization(self, spark):
        df = spark.createDataFrame(
            [("x", "re-lated to!", "y", 0.9, "e", "c")],
            "subj_id string, predicate string, obj_id string, confidence double, evidence string, chunk_id string",
        )
        rows = graph.relation_edges(df, TS).collect()
        assert rows[0]["rel"] == "RE_LATED_TO_"

    def test_duplicate_source_keys_deduped(self, spark, catalog):
        edges = spark.createDataFrame(
            [
                ("Concept", "a", "IS_A", "Concept", "b", 0.7, "low", TS),
                ("Concept", "a", "IS_A", "Concept", "b", 0.9, "high", TS),
            ],
            graph.EDGES_SCHEMA,
        )
        catalog.merge_upsert(
            spark, "edges", edges, keys=graph.EDGE_KEY, tiebreak=["confidence", "updated_at"]
        )
        rows = catalog.read(spark, "edges").collect()
        assert len(rows) == 1 and rows[0]["confidence"] == 0.9  # max-confidence wins


class TestPipeline:
    def test_e2e_and_incremental_equivalence(self, spark, catalog, tmp_path):
        """run(A) then run(B incrementally) == run(A ∪ B) (FIXTURES.md §6)."""
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        pages = datagen.pages_df(spark, 60)
        a = pages.orderBy("warc_ts").limit(42)
        r1 = pipeline.run_pipeline(spark, a, catalog, extract_from_html=True)
        assert r1.pages == 42
        r2 = pipeline.run_pipeline(spark, pages, catalog, extract_from_html=True)
        assert r2.pages == 18  # only the new ones

        full_cat = ParquetCatalog(str(tmp_path / "full"))
        pipeline.run_pipeline(spark, pages, full_cat, extract_from_html=True)

        for t in ["nodes", "edges", "mentions", "triples"]:
            assert _table(spark, catalog, t) == _table(spark, full_cat, t), t

    def test_incremental_deltas_match_cold_build(self, spark, tmp_path):
        """An incremental build, whose second batch lands as
        merge-on-read deltas, resolves to the same graph as a cold
        build of all pages (one overwrite per table): both use one
        total order (tiebreaks + content_rid).  Compaction folds the
        deltas without changing content."""
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        pages = datagen.pages_df(spark, 60)
        a = pages.orderBy("warc_ts").limit(42)
        inc_cat = ParquetCatalog(str(tmp_path / "inc"))
        pipeline.run_pipeline(spark, a, inc_cat, extract_from_html=True)
        pipeline.run_pipeline(spark, pages, inc_cat, extract_from_html=True)
        cold_cat = ParquetCatalog(str(tmp_path / "cold"))
        pipeline.run_pipeline(spark, pages, cold_cat, extract_from_html=True)

        for t in ("nodes", "edges"):
            assert inc_cat._delta_entries(t), t  # the batch landed as a delta
            assert cold_cat._delta_entries(t) == [], t
            before = _table(spark, inc_cat, t)
            assert before == _table(spark, cold_cat, t), t
            inc_cat.compact(spark, t)
            assert inc_cat._delta_entries(t) == [], t
            assert _table(spark, inc_cat, t) == before, t

    def test_recrawl_identical_pages_no_duplicates(self, spark, catalog):
        """FIXTURES.md §6 re-crawl scenario: identical pages with a
        NEWER warc_ts pass the high-water-mark filter but must not
        duplicate flat-table rows (chunk anti-join)."""
        pages = datagen.pages_df(spark, 30)
        r1 = pipeline.run_pipeline(spark, pages, catalog, extract_from_html=True)
        snap = {t: _table(spark, catalog, t) for t in ["mentions", "triples", "nodes", "edges"]}
        recrawl = pages.withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS")
        )
        r2 = pipeline.run_pipeline(spark, recrawl, catalog, extract_from_html=True)
        assert r2.pages == 0  # all chunks known -> nothing re-extracted
        for t, before in snap.items():
            assert _table(spark, catalog, t) == before, t

    @pytest.mark.parametrize("extract_from_html", [True, False])
    def test_page_twice_in_one_batch_counts_once(self, spark, tmp_path, extract_from_html):
        """A batch holding the same (url, text) twice, the second copy
        crawled later, builds the same graph as the batch holding it
        once: the batch is made distinct by chunk_id before mentions are
        counted, and the checkpoint keeps the batch's latest warc_ts."""
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        pages = datagen.pages_df(spark, 8)
        recrawl = pages.orderBy("url").limit(3).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS")
        )
        twice = pages.unionByName(recrawl)
        cats = []
        for tag, batch in (("once", pages), ("twice", twice)):
            cat = ParquetCatalog(str(tmp_path / tag))
            res = pipeline.run_pipeline(spark, batch, cat, extract_from_html=extract_from_html)
            assert res.pages == 8, tag
            hwm = cat.read(spark, pipeline.CHECKPOINT_TABLE).collect()[0]["max_warc_ts"]
            assert hwm == batch.agg(F.max("warc_ts")).collect()[0][0], tag
            cats.append(cat)
        for t in ["nodes", "edges", "mentions", "triples"]:
            assert _table(spark, cats[0], t) == _table(spark, cats[1], t), t

    def test_high_water_mark_is_exclusive(self, spark, catalog):
        """A page crawled exactly at the checkpointed warc_ts is
        skipped; one crawled 1 µs later is admitted."""
        from datetime import timedelta

        pages = datagen.pages_df(spark, 5)
        pipeline.run_pipeline(spark, pages, catalog)
        mark = pages.agg(F.max("warc_ts")).collect()[0][0]
        later = spark.createDataFrame(
            [
                ("http://example.org/at-mark", mark, "Alpha is a Beta."),
                ("http://example.org/after-mark", mark + timedelta(microseconds=1), "Gamma is a Delta."),
            ],
            "url string, warc_ts timestamp, text string",
        )
        assert pipeline.run_pipeline(spark, later, catalog).pages == 1
        docs = {
            r["doc_id"]
            for r in catalog.read(spark, "nodes")
            .where(F.col("doc_id").startswith("http://example.org/"))
            .collect()
        }
        assert docs == {"http://example.org/after-mark"}

    def test_lineage_written(self, spark, catalog):
        pages = datagen.pages_df(spark, 20)
        pipeline.run_pipeline(spark, pages, catalog)
        lineage = catalog.read(spark, "lineage")
        rows = lineage.collect()
        assert len(rows) >= 1
        assert sum(r["chunk_cnt"] for r in rows) == 20
        cols = set(lineage.columns)
        assert {"snapshot_id", "partition_id", "url_min", "url_max", "chunk_cnt",
                "mention_cnt", "triple_cnt"} <= cols

    def test_byte_identity_all_urls(self, spark):
        """north_rule gate: html->text is byte-identical per url, in the
        fused html->text->concepts pass that build and refresh run."""
        pages = datagen.pages_df(spark, 100)

        def sha_by_url(df):
            return dict(df.select("url", F.sha2(F.col("text"), 256)).collect())

        expected = sha_by_url(pages)
        actual = sha_by_url(cf.enrich_pages_from_html(pages.select("url", "html")))
        assert len(expected) == 100
        assert actual == expected

    def test_chunk_ids_stable_sql_vs_python(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
            purecore as p,
        )

        pages = datagen.pages_df(spark, 10)
        rows = pipeline.chunks_from_pages(pages).select("doc_id", "chunk_id", "text").collect()
        for r in rows:
            assert r["chunk_id"] == p.chunk_id_for(r["doc_id"], r["text"])


class TestCatalogMaintenance:
    def test_compact_append_table(self, spark, catalog):
        import glob as g
        import os

        for i in range(4):
            df = spark.createDataFrame([(i, f"v{i}")], "id long, val string")
            catalog.append(spark, df, "t_app")
        before = sorted(tuple(r) for r in catalog.read(spark, "t_app").collect())
        assert len(catalog.data_dirs("t_app")) == 4
        catalog.compact(spark, "t_app")
        assert len(catalog.data_dirs("t_app")) == 1
        after = sorted(tuple(r) for r in catalog.read(spark, "t_app").collect())
        assert after == before

    def test_expire_snapshots(self, spark, catalog):
        import glob as g
        import os

        for i in range(5):
            df = spark.createDataFrame([(i,)], "id long")
            catalog.append(spark, df, "t_exp")
        assert catalog.current_version("t_exp") == 5
        removed = catalog.expire_snapshots("t_exp", keep_last=2)
        assert removed == [1, 2, 3]
        manifests = g.glob(os.path.join(catalog._tdir("t_exp"), "m*.json"))
        assert len(manifests) == 2
        assert catalog.read(spark, "t_exp").count() == 5  # current snapshot intact


class TestIntEncode:
    def _graph(self, spark):
        nodes = spark.createDataFrame(
            [
                ("Concept", "c2", "beta", "s", "o", None, None, None, None, None, None),
                ("Concept", "c1", "alpha", "s", "o", None, None, None, None, None, None),
                ("Chunk", "k1", None, None, None, "d1", "txt", None, None, None, None),
            ],
            graph.NODES_SCHEMA,
        )
        edges = spark.createDataFrame(
            [
                ("Chunk", "k1", "MENTIONS", "Concept", "c1", None, None, TS),
                ("Concept", "c1", "IS_A", "Concept", "c2", 0.9, "ev", TS),
                ("Concept", "c1", "IS_A", "Concept", "missing", 0.9, "ev", TS),
            ],
            graph.EDGES_SCHEMA,
        )
        return nodes, edges

    def test_dense_ids_and_remap(self, spark):
        nodes, edges = self._graph(spark)
        node_map, int_edges = graph.encode_graph_ints(nodes, edges)
        m = {(r["label"], r["id"]): r["int_id"] for r in node_map.collect()}
        # contiguous 0..n-1, assigned by (label, id) sort order
        assert sorted(m.values()) == [0, 1, 2]
        assert m[("Chunk", "k1")] == 0  # 'Chunk' < 'Concept'
        assert m[("Concept", "c1")] == 1 and m[("Concept", "c2")] == 2
        got = {(r["src"], r["dst"], r["rel"]) for r in int_edges.collect()}
        # the dangling-endpoint edge is dropped (inner join)
        assert got == {(0, 1, "MENTIONS"), (1, 2, "IS_A")}

    def test_deterministic_across_runs(self, spark):
        nodes, edges = self._graph(spark)
        a = graph.encode_graph_ints(nodes.repartition(5), edges)[0].collect()
        b = graph.encode_graph_ints(nodes.coalesce(1), edges)[0].collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_export_graph_roundtrip(self, spark, catalog, tmp_path):
        nodes, edges = self._graph(spark)
        graph.upsert_graph(spark, catalog, nodes, edges)
        out = str(tmp_path / "export")
        summary = graph.export_graph(spark, catalog, out)
        nm = spark.read.parquet(out + "/node_map.parquet")
        ie = spark.read.parquet(out + "/edges_int.parquet")
        # placeholder backfill added the 'missing' endpoint node, so
        # all three edges survive the remap and ids are 0..3
        assert summary["nodes"] == nm.count() == 4
        assert summary["edges"] == ie.count() == 3
        assert set(nm.columns) == {"int_id", "label", "id", "lemma"}
        assert sorted(r["int_id"] for r in nm.collect()) == [0, 1, 2, 3]
        lem = {r["id"]: r["lemma"] for r in nm.collect()}
        assert lem["c1"] == "alpha" and lem["missing"] is None
