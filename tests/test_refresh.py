"""refresh_after_batch e2e: +batch refresh == cold rebuild.

Two-batch regime over the deterministic datagen corpus: batch 1 cold
(populates the stored analytics), batch 2 warm (MOR graph merge +
warm-start PageRank + touched-component LPA).  The gates:

* community labels after the warm refresh EQUAL a cold full-graph LPA
  over the final graph, row-for-row (the incremental exactness
  theorem, now exercised through the STORED label/component tables);
* warm-start PageRank at `pagerank_iters_warm` is CLOSER to the
  converged fixed point than a cold uniform start given the same
  iteration budget (the reason the warm path exists);
* the stored analytics tables round-trip (next batch reads them),
  and the refresh log accumulates one row per batch.
"""

import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import (
    pipeline,
    queries,
    refresh,
)
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
    ParquetCatalog,
)


@pytest.fixture(scope="module")
def two_batch_state(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("refresh")
    pages = datagen.pages_df(spark, 100)
    cutoff = (
        pages.select(F.col("warc_ts").cast("long").alias("t"))
        .orderBy("t")
        .collect()[79]["t"]
    )
    batch1 = pages.where(F.col("warc_ts").cast("long") <= cutoff)

    inc_cat = ParquetCatalog(str(root / "inc"))
    r1 = refresh.refresh_after_batch(
        spark, batch1, inc_cat, extract_from_html=True
    )
    # batch 2: the full table — the checkpoint high-water mark must
    # reduce it to the 20 unseen pages
    r2 = refresh.refresh_after_batch(
        spark, pages, inc_cat, extract_from_html=True
    )

    cold_cat = ParquetCatalog(str(root / "cold"))
    pipeline.run_pipeline(spark, pages, cold_cat, extract_from_html=True)
    yield spark, inc_cat, cold_cat, r1, r2
    shutil.rmtree(str(root), ignore_errors=True)


def _und(spark, cat):
    return (
        queries.undirected_concept_edges(cat.read(spark, "edges"))
        .select("cid", "nbr_id")
        .distinct()
    )


class TestRefreshAfterBatch:
    def test_batch_accounting(self, two_batch_state):
        _, _, _, r1, r2 = two_batch_state
        assert r1.pipeline.pages == 80 and not r1.warm_start
        assert r2.pipeline.pages == 20 and r2.warm_start

    def test_incremental_labels_equal_cold_rebuild(self, two_batch_state):
        spark, inc_cat, cold_cat, _, _ = two_batch_state
        stored = {
            (r["id"], r["label"])
            for r in inc_cat.read(spark, refresh.LABELS_TABLE).collect()
        }
        cold = {
            (r["id"], r["label"])
            for r in queries.label_propagation(
                _und(spark, cold_cat), iters=5
            ).collect()
        }
        assert stored == cold

    def test_warm_pagerank_beats_cold_at_same_budget(self, two_batch_state):
        spark, inc_cat, cold_cat, _, _ = two_batch_state
        und = _und(spark, cold_cat).localCheckpoint(eager=True)
        conv = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(
                und, iters=40, top_k=None, prepared=True
            ).collect()
        }
        warm = {
            r["id"]: r["rank"]
            for r in inc_cat.read(spark, refresh.PR_TABLE).collect()
        }
        cold3 = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(
                und, iters=3, top_k=None, prepared=True
            ).collect()
        }
        assert set(warm) == set(conv)
        warm_err = sum(abs(warm[i] - conv[i]) for i in conv)
        cold_err = sum(abs(cold3[i] - conv[i]) for i in conv)
        assert warm_err < cold_err, (warm_err, cold_err)

    def test_incremental_components_equal_cold_cc(self, two_batch_state):
        """The stored component index is maintained incrementally (CC
        over delta edges + touched-component mapping edges); it must
        equal a cold full-graph connected_components run."""
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import (
            canonicalize,
        )

        spark, inc_cat, cold_cat, _, _ = two_batch_state
        stored = {
            (r["id"], r["component"])
            for r in inc_cat.read(spark, refresh.COMP_TABLE).collect()
        }
        cold = {
            (r["id"], r["component"])
            for r in canonicalize.connected_components(
                _und(spark, cold_cat), src="cid", dst="nbr_id"
            ).collect()
        }
        assert stored == cold

    def test_graph_tables_match_cold_rebuild(self, two_batch_state):
        spark, inc_cat, cold_cat, _, _ = two_batch_state
        inc = {
            tuple(r)
            for r in _und(spark, inc_cat).collect()
        }
        cold = {
            tuple(r)
            for r in _und(spark, cold_cat).collect()
        }
        assert inc == cold

    def test_refresh_log_accumulates(self, two_batch_state):
        spark, inc_cat, _, _, _ = two_batch_state
        log = inc_cat.read(spark, refresh.REFRESH_LOG_TABLE).orderBy(
            "snapshot_id"
        ).collect()
        assert len(log) == 2
        assert [r["warm_start"] for r in log] == [False, True]
        assert [r["pages"] for r in log] == [80, 20]
        # the newest row records the edges version the stored
        # labels/components describe
        assert log[-1]["edges_version"] == inc_cat.current_version("edges")


# -- stored analytics stay exact when the graph moves outside a refresh --

def _text_pages(spark, hour, texts):
    from datetime import datetime, timedelta

    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.streaming.incremental import (
        PAGES_SCHEMA,
    )

    t0 = datetime(2025, 1, 1) + timedelta(hours=hour)
    return spark.createDataFrame(
        [
            (f"http://example.org/{hour}/{i}", t0 + timedelta(minutes=i), None, t, "en")
            for i, t in enumerate(texts)
        ],
        PAGES_SCHEMA,
    )


def _assert_analytics_match_cold(spark, cat):
    """The stored labels/components equal a cold LPA/CC of the
    catalog's current graph."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import (
        canonicalize,
    )

    def rows(df, *cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    und = _und(spark, cat).localCheckpoint(eager=True)
    assert rows(cat.read(spark, refresh.LABELS_TABLE), "id", "label") == rows(
        queries.label_propagation(und, iters=5), "id", "label"
    )
    assert rows(cat.read(spark, refresh.COMP_TABLE), "id", "component") == rows(
        canonicalize.connected_components(und, src="cid", dst="nbr_id"), "id", "component"
    )


def test_default_build_then_refresh_equals_cold(spark, tmp_path):
    """Build, then stay fresh: a cold build with ``run_pipeline``'s
    defaults, then ``refresh_after_batch`` on the next batch, gives the
    graph of a cold build over both batches and stored labels and
    components equal to a cold LPA/CC.  The cold build writes each
    graph table as one unbucketed data dir, which the refresh's
    merge-on-read deltas resolve against."""
    import os

    pages = datagen.pages_df(spark, 40)
    cutoff = (
        pages.select(F.col("warc_ts").cast("long").alias("t")).orderBy("t").collect()[29]["t"]
    )
    cat = ParquetCatalog(str(tmp_path / "inc"))
    pipeline.run_pipeline(
        spark, pages.where(F.col("warc_ts").cast("long") <= cutoff), cat, extract_from_html=True
    )
    layout = {
        t: (len(cat.data_dirs(t)), os.path.exists(os.path.join(cat.root, t, "_spec.json")))
        for t in ("nodes", "edges")
    }
    r = refresh.refresh_after_batch(spark, pages, cat, extract_from_html=True)
    assert r.pipeline.pages == 10
    assert layout == {"nodes": (1, False), "edges": (1, False)}

    cold = ParquetCatalog(str(tmp_path / "cold"))
    pipeline.run_pipeline(spark, pages, cold, extract_from_html=True)
    for t in ("nodes", "edges"):
        assert sorted(map(tuple, cat.read(spark, t).collect())) == sorted(
            map(tuple, cold.read(spark, t).collect())
        ), t
    _assert_analytics_match_cold(spark, cat)


def test_write_outside_refresh_recomputes_cold(spark, tmp_path):
    """A graph write that bypasses refresh_after_batch leaves the
    stored tables describing an older graph; the next refresh must
    notice (edges version mismatch) and recompute them cold."""
    cat = ParquetCatalog(str(tmp_path / "cat"))
    refresh.refresh_after_batch(
        spark, _text_pages(spark, 0, ["Alpha is a Beta.", "Gamma is a Delta."]), cat
    )
    pipeline.run_pipeline(
        spark,
        _text_pages(spark, 1, ["Beta is a Epsilon.", "Epsilon is part of Omega."]),
        cat,
    )
    refresh.refresh_after_batch(spark, _text_pages(spark, 2, ["Delta is a Zeta."]), cat)
    _assert_analytics_match_cold(spark, cat)


def test_crash_before_persist_recomputes_cold(spark, tmp_path, monkeypatch):
    """A refresh that dies after its graph commit but before the
    labels overwrite, replayed: the replay ingests nothing new, yet
    the stored tables must end up describing the post-batch graph."""
    cat = ParquetCatalog(str(tmp_path / "cat"))
    refresh.refresh_after_batch(
        spark, _text_pages(spark, 0, ["Alpha is a Beta.", "Gamma is a Delta."]), cat
    )
    batch = _text_pages(spark, 1, ["Beta is a Epsilon.", "Delta is a Zeta."])
    orig = ParquetCatalog.overwrite
    crashed = []

    def crash_once(self, df, name, *a, **kw):
        if name == refresh.LABELS_TABLE and not crashed:
            crashed.append(name)
            raise RuntimeError("injected crash")
        return orig(self, df, name, *a, **kw)

    monkeypatch.setattr(ParquetCatalog, "overwrite", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh.refresh_after_batch(spark, batch, cat)
    r = refresh.refresh_after_batch(spark, batch, cat)
    assert crashed and r.pipeline.pages == 0
    _assert_analytics_match_cold(spark, cat)


def test_refresh_compacts_graph_deltas(spark, tmp_path, monkeypatch):
    """With the delta bound lowered to 1, three refreshes leave
    nodes/edges with at most one merge-on-read delta each, and the
    graph still equals a cold rebuild of the same pages."""
    import functools

    monkeypatch.setattr(
        ParquetCatalog,
        "maybe_compact",
        functools.partialmethod(ParquetCatalog.maybe_compact, max_deltas=1),
    )
    compacted = []
    orig = ParquetCatalog.compact

    def spy(self, spark, name):
        compacted.append(name)
        return orig(self, spark, name)

    monkeypatch.setattr(ParquetCatalog, "compact", spy)
    texts = [
        ["Alpha is a Beta.", "Gamma is a Delta."],
        ["Beta is a Epsilon.", "Epsilon is part of Omega."],
        ["Delta is a Zeta.", "Omega is a Sigma."],
    ]
    batches = [_text_pages(spark, hour, b) for hour, b in enumerate(texts)]
    cat = ParquetCatalog(str(tmp_path / "inc"))
    for batch in batches:
        refresh.refresh_after_batch(spark, batch, cat)
    assert {"nodes", "edges"} <= set(compacted)
    for t in ("nodes", "edges"):
        assert len(cat._delta_entries(t)) <= 1, t

    cold = ParquetCatalog(str(tmp_path / "cold"))
    pipeline.run_pipeline(spark, functools.reduce(DataFrame.unionByName, batches), cold)
    for t in ("nodes", "edges"):
        got = cat.read(spark, t).drop("_complete")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, cold.read(spark, t).select(*got.columns).collect())
        ), t
    _assert_analytics_match_cold(spark, cat)
