"""Snapshot time travel, schema evolution, write sort order and graph
diffs."""

import pytest
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
    ParquetCatalog,
)


def _df(spark, rows, schema="k long, v double"):
    return spark.createDataFrame(rows, schema)


class TestTimeTravel:
    def test_read_as_of_each_version(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        v1 = cat.append(spark, _df(spark, [(1, 1.0)]), "t")
        v2 = cat.append(spark, _df(spark, [(2, 2.0)]), "t")
        v3 = cat.append(spark, _df(spark, [(3, 3.0)]), "t")
        assert cat.read_as_of(spark, "t", v1).count() == 1
        assert cat.read_as_of(spark, "t", v2).count() == 2
        assert sorted(r["k"] for r in cat.read_as_of(spark, "t", v3).collect()) == [1, 2, 3]

    def test_as_of_mor_resolves_that_versions_deltas(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        base = _df(spark, [(1, 1.0), (2, 2.0)], "k long, v double")
        v1 = cat.merge_upsert_mor(spark, "t", base, keys=["k"])
        v2 = cat.merge_upsert_mor(spark, "t", _df(spark, [(2, 9.0)]), keys=["k"])
        # as-of v1: the original value; as-of v2: the delta wins
        assert {(r["k"], r["v"]) for r in cat.read_as_of(spark, "t", v1).collect()} == {
            (1, 1.0),
            (2, 2.0),
        }
        assert {(r["k"], r["v"]) for r in cat.read_as_of(spark, "t", v2).collect()} == {
            (1, 1.0),
            (2, 9.0),
        }

    def test_unknown_version_raises(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.append(spark, _df(spark, [(1, 1.0)]), "t")
        with pytest.raises(KeyError):
            cat.read_as_of(spark, "t", 99)


class TestSchemaEvolution:
    def test_added_column_null_fills_old_rows(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.append(spark, _df(spark, [(1, 1.0)]), "t")
        cat.append(
            spark,
            spark.createDataFrame([(2, 2.0, "en")], "k long, v double, lang string"),
            "t",
        )
        out = cat.read(spark, "t", merge_schema=True)
        assert "lang" in out.columns
        got = {(r["k"], r["lang"]) for r in out.collect()}
        assert got == {(1, None), (2, "en")}


class TestWriteSortOrder:
    def test_sorted_write_gives_disjoint_file_ranges(self, spark, tmp_path):
        """sort_cols range-partitions + sorts the write so file-level
        min/max stats are narrow and (mostly) disjoint — the parquet
        row-group skipping precondition.  Asserted from the footers."""
        import glob as _glob

        import pyarrow.parquet as pq

        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        df = spark.range(100_000).select(
            (F.col("id") * 37 % 100_000).alias("k"), F.col("id").alias("v")
        )
        cat = ParquetCatalog(str(tmp_path))
        cat.overwrite(df, "plain")
        cat.overwrite(df, "sorted", sort_cols=["k"])

        def ranges(table):
            out = []
            for d in cat.data_dirs(table):
                for f in _glob.glob(f"{d}/*.parquet"):
                    md = pq.ParquetFile(f).metadata
                    for rg in range(md.num_row_groups):
                        col = md.row_group(rg).column(0)  # k
                        out.append((col.statistics.min, col.statistics.max))
            return out

        def overlap_frac(rs):
            rs = sorted(rs)
            ov = sum(1 for (a, b), (c, d) in zip(rs, rs[1:]) if c <= b)
            return ov / max(1, len(rs) - 1)

        assert overlap_frac(ranges("sorted")) == 0.0  # disjoint ranges
        assert overlap_frac(ranges("plain")) > 0.5  # hash layout overlaps
        # narrow range predicate touches exactly one sorted file range
        lo, hi = 500, 600
        touched = [r for r in ranges("sorted") if not (r[1] < lo or r[0] > hi)]
        assert len(touched) == 1
        # and the data is unchanged
        assert cat.read(spark, "sorted").where(
            (F.col("k") >= lo) & (F.col("k") <= hi)
        ).count() == df.where((F.col("k") >= lo) & (F.col("k") <= hi)).count()


class TestGraphDiff:
    def _node(self, id_, surface):
        return ("Concept", id_, id_, surface, "NER", None, None, None, None, None, None)

    def _edge(self, a, b, conf):
        import datetime

        ts = datetime.datetime(2024, 1, 1)
        return ("Concept", a, "RELATED_TO", "Concept", b, conf, "ev", ts)

    def test_added_removed_changed(self, spark, tmp_path):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import graph

        cat = ParquetCatalog(str(tmp_path))
        # node b has no surface yet: the graph merge resolves a key by
        # completeness first, so v2's row with a surface replaces it
        nodes1 = spark.createDataFrame([self._node("a", "A"), self._node("b", None)], graph.NODES_SCHEMA)
        edges1 = spark.createDataFrame([self._edge("a", "b", 0.7)], graph.EDGES_SCHEMA)
        graph.upsert_graph(spark, cat, nodes=nodes1, edges=edges1)
        v1 = cat.current_version("nodes")
        # v2: node c added, node b's surface set, edge confidence bumped
        nodes2 = spark.createDataFrame([self._node("b", "B2"), self._node("c", "C")], graph.NODES_SCHEMA)
        edges2 = spark.createDataFrame(
            [self._edge("a", "b", 0.9), self._edge("b", "c", 0.8)], graph.EDGES_SCHEMA
        )
        graph.upsert_graph(spark, cat, nodes=nodes2, edges=edges2)
        v2 = cat.current_version("nodes")
        got = {
            (r["kind"], r["change"], r["key"])
            for r in graph.graph_diff(spark, cat, v1, v2).collect()
        }
        assert ("node", "added", "Concept|c") in got
        assert ("node", "changed", "Concept|b") in got
        assert ("edge", "added", "Concept|b|RELATED_TO|Concept|c") in got
        assert ("edge", "changed", "Concept|a|RELATED_TO|Concept|b") in got
        assert not any(c == "removed" for _, c, _ in got)
        assert not any(k == "node" and key == "Concept|a" for k, _, key in got)
        # reverse direction flips added <-> removed
        rev = {
            (r["change"], r["key"])
            for r in graph.graph_diff(spark, cat, v2, v1).collect()
        }
        assert ("removed", "Concept|c") in rev

    def test_identical_versions_empty(self, spark, tmp_path):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import graph

        cat = ParquetCatalog(str(tmp_path))
        nodes1 = spark.createDataFrame([self._node("a", "A")], graph.NODES_SCHEMA)
        edges1 = spark.createDataFrame([self._edge("a", "a2", 0.7)], graph.EDGES_SCHEMA)
        graph.upsert_graph(spark, cat, nodes=nodes1, edges=edges1)
        v = cat.current_version("nodes")
        assert graph.graph_diff(spark, cat, v, v).count() == 0
