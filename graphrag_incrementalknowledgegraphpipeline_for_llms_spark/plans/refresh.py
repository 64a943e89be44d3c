"""Refresh-after-batch: the ONE entry point that writes a batch's
graph and its analytics (the HTTP ``POST /v1/refresh`` and the
streaming sink in streaming/incremental.py both call it).

A 100-TB GraphRAG deployment does not rebuild its graph or its
analytics when a new crawl lands; it runs, per batch:

1. the extraction pipeline (``run_pipeline``, which is always
   incremental — O(batch) regardless of graph size: pages at or below
   the checkpoint high-water mark are skipped, so a replayed batch
   processes 0 pages, and the graph merges land as merge-on-read
   deltas, which measured 11.1 s against 36.8 s for a copy-on-write
   merge of a +10% batch; a rebuild is a refresh into an empty
   catalog),
2. the compaction policy: ``catalog.maybe_compact`` folds the
   ``nodes``/``edges`` deltas once a table holds more than the
   catalog's default bound of them — one rewrite per that many
   batches (LSM-style cadence), so read-time resolution stays bounded
   while writes stay O(batch),
3. a WARM-START PageRank over the post-batch concept graph
   (``pagerank_und(init=stored_scores)`` — power iteration's error
   decays geometrically from the starting distance, so yesterday's
   scores need ~1/3 of the cold iterations: measured cold-10 11.6 s
   vs warm-3 4.5 s on the 10x graph),
4. an INCREMENTAL community refresh (``incremental_communities`` with
   the STORED label table and component index — recomputes labels and
   components only for the components the delta touches, which equals
   a full-graph LPA/CC row-for-row by the component-locality argument
   in its docstring).

The refreshed analytics land back in the catalog
(``analytics_pagerank``, ``analytics_communities``,
``analytics_components``) so the NEXT batch warm-starts from them —
the same incremental regime the graph tables already live in.  Each
refresh also appends a row to the ``analytics_refresh_log`` lineage
table (batch pages/mentions/triples counts, per-stage wall times and
the ``edges`` version the stored labels/components describe), written
LAST so it marks the refresh as complete.

Freshness/eventual-exactness contract: PageRank is returned after a
FIXED warm iteration count, so scores are within power-iteration
tolerance of the fixed point (and converge to it as batches keep
landing — the fixed point is start-independent), whatever wrote the
graph in between.  Community labels and components are EXACT (equal
to a cold full-graph LPA at the same ``lpa_iters`` / a cold CC): the
incremental step only runs when the last refresh-log row records the
current ``edges`` version, i.e. when the stored tables describe the
pre-batch graph.  A graph write outside this entry point (a direct
``run_pipeline`` call) or a crash between the pipeline commit and the
log row leaves the versions unequal, and the refresh recomputes both
tables cold — pinned by tests/test_refresh.py against a cold rebuild.

Reference parity note: the reference pipeline re-runs its Neo4j
import and lets the database re-derive query-time analytics
(Pipeline.scala's full-batch flow); this module is the
beyond-reference incremental story the north rule asks for
(resumable microbatches + per-partition lineage + metrics).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators import canonicalize
from ..sources.catalog import ParquetCatalog
from . import queries as q
from .pipeline import PipelineResult, run_pipeline

PR_TABLE = "analytics_pagerank"
LABELS_TABLE = "analytics_communities"
COMP_TABLE = "analytics_components"
REFRESH_LOG_TABLE = "analytics_refresh_log"


@dataclass
class RefreshResult:
    pipeline: PipelineResult
    pr_rows: int
    label_rows: int
    warm_start: bool
    stage_ms: dict[str, int] = field(default_factory=dict)


def _und(edges: DataFrame) -> DataFrame:
    return (
        q.undirected_concept_edges(edges).select("cid", "nbr_id").distinct()
    )


def _analytics_edges_version(spark: SparkSession, catalog: ParquetCatalog) -> int | None:
    """The ``edges`` version the stored labels/components describe, as
    recorded by the newest refresh-log row; None without a record."""
    v = catalog.current_version(REFRESH_LOG_TABLE)
    # the newest append only: one row, whatever the log's length
    newest = catalog.read_version_delta(spark, REFRESH_LOG_TABLE, v) if v else None
    if newest is None or "edges_version" not in newest.columns:
        return None
    return newest.first()["edges_version"]


def refresh_after_batch(
    spark: SparkSession,
    pages: DataFrame,
    catalog: ParquetCatalog,
    *,
    pagerank_iters_cold: int = 10,
    pagerank_iters_warm: int = 3,
    lpa_iters: int = 5,
    **pipeline_kwargs,
) -> RefreshResult:
    """Ingest one page batch and refresh the stored graph analytics
    incrementally.  See the module docstring for the regime; the
    ``run_pipeline`` keywords (``extract_from_html``,
    ``scan_partitions``, ``epoch_id``, ``extraction_strategy``) pass
    through.

    Scale shape: beyond the pipeline itself, the refresh adds one
    pre-batch edge snapshot read (column-pruned: 4 id/label columns),
    the warm PageRank (``pagerank_iters_warm`` join+agg rounds over
    the concept adjacency), and the touched-component LPA/CC (bounded
    by the delta's community sizes).  Nothing here scans page content.
    """
    timings: dict[str, int] = {}

    def clock(name):
        t0 = time.monotonic()

        def done():
            timings[name] = int((time.monotonic() - t0) * 1000)

        return done

    # ---- pre-batch concept edge snapshot (for the community delta),
    # taken only when the stored labels/components describe it ----
    d = clock("pre_snapshot")
    prev_labels = catalog.read(spark, LABELS_TABLE)
    prev_comp = catalog.read(spark, COMP_TABLE)
    base_und = None
    if (
        prev_labels is not None
        and prev_comp is not None
        and _analytics_edges_version(spark, catalog)
        == catalog.current_version("edges")
    ):
        base_und = _und(catalog.read(spark, "edges")).localCheckpoint(eager=True)
    d()

    # ---- 1. O(batch) pipeline pass ----
    d = clock("pipeline")
    res = run_pipeline(spark, pages, catalog, **pipeline_kwargs)
    d()

    # ---- 2. compaction policy ----
    d = clock("compact")
    for t in ("nodes", "edges"):
        catalog.maybe_compact(spark, t)
    d()

    edges_version = catalog.current_version("edges")
    und = _und(catalog.read(spark, "edges")).localCheckpoint(eager=True)

    # ---- 3. warm-start PageRank ----
    d = clock("pagerank")
    prev_pr = catalog.read(spark, PR_TABLE)
    warm = prev_pr is not None
    pr = q.pagerank_und(
        und,
        iters=pagerank_iters_warm if warm else pagerank_iters_cold,
        top_k=None,
        init=prev_pr.select("id", "rank") if warm else None,
        prepared=True,
    )
    pr = pr.localCheckpoint(eager=True)
    pr_rows = pr.count()
    d()

    # ---- 4. communities: incremental over the stored tables, else cold ----
    d = clock("communities")
    if base_und is None:
        labels = q.label_propagation(und, iters=lpa_iters, prepared=True)
        comp = canonicalize.connected_components(und, src="cid", dst="nbr_id")
    else:
        # delta = edges in the post view absent from the pre view;
        # only (cid, nbr_id) pairs shuffle here
        delta_und = und.join(base_und, ["cid", "nbr_id"], "left_anti")
        labels, comp = q.incremental_communities(
            base_und,
            delta_und,
            iters=lpa_iters,
            base_labels=prev_labels,
            base_comp=prev_comp,
        )
    # materialize inside THIS clock so the lineage row attributes the
    # LPA/CC cost to the communities stage, not to the persist writes
    labels = labels.localCheckpoint(eager=True)
    label_rows = labels.count()
    comp = comp.localCheckpoint(eager=True)
    d()

    # ---- persist analytics for the next batch's warm start ----
    d = clock("persist")
    catalog.overwrite(pr, PR_TABLE, sort_cols=["id"])
    catalog.overwrite(labels, LABELS_TABLE, sort_cols=["id"])
    catalog.overwrite(comp, COMP_TABLE, sort_cols=["id"])
    d()

    log_row = spark.createDataFrame(
        [
            (
                res.snapshot_id,
                res.pages,
                res.mentions,
                res.triples,
                pr_rows,
                label_rows,
                bool(warm),
                json.dumps(dict(timings)),
                edges_version,
            )
        ],
        "snapshot_id long, pages long, mentions long, triples long, "
        "pr_rows long, label_rows long, warm_start boolean, stage_ms string, "
        "edges_version long",
    )
    # O(1) fast-append (new data dir + manifest entry) — NOT
    # read+union+overwrite, which rewrites the whole log every batch.
    # Written last: its edges_version is what marks the stored
    # labels/components above as current
    catalog.append(spark, log_row, REFRESH_LOG_TABLE)

    return RefreshResult(
        pipeline=res,
        pr_rows=pr_rows,
        label_rows=label_rows,
        warm_start=warm,
        stage_ms=dict(timings),
    )
