"""End-to-end incremental KG-construction pipeline (GraphRagJob.scala
re-expressed as one declarative Spark plan + catalog MERGEs).

Stages (single extraction pass — the reference ran extraction twice per
chunk, GraphRagJob.scala:288,307):

  pages scan -> incremental filter vs checkpoint -> html->text
  -> chunks -> with_concepts (ONE Arrow UDF pass: concepts + evidence)
  -> mentions (explode)                     -> nodes/edges merge-on-read MERGE
  -> candidate pairs (array combinatorics)  -> deterministic scorer
  -> triples                                -> typed edges MERGE
  -> lineage + checkpoint rows

Action budget (the driver-side job count is the fixed cost that
dominates small batches and is pure overhead at 100 TB):
  1 stats aggregation on the persisted enriched DF (page/mention
  counts, url ranges, max warc_ts — all in one job), then one write
  per output table.  Row counts for lineage come from parquet footers
  (no Spark job).  The incremental filter guarantees batch-disjoint
  chunks, so mentions/triples are plain appends, not MERGE windows.

Scale notes: the only wide operations are the MERGE anti-joins and the
distinct over concepts; everything upstream is narrow per-partition
work.  The pages scan can be repartitioned by url hash
(repartitionByRange bounds shuffle fan-out and keeps partition sizes
uniform at 10^12-doc scale — north_rule).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import concepts as cf
from ..operators import cooccur, graph, scorer
from ..sources.catalog import ParquetCatalog

CHECKPOINT_TABLE = "checkpoints"
LINEAGE_TABLE = "lineage"
# the ``updated_at`` every edge row carries: fixed, so a rebuild of the
# same pages writes the same rows
DEFAULT_UPDATED_AT = datetime(2025, 1, 1, tzinfo=timezone.utc)


@dataclass
class PipelineResult:
    snapshot_id: int
    pages: int
    chunks: int
    mentions: int
    triples: int
    stage_ms: dict[str, int] = field(default_factory=dict)


def chunks_from_pages(pages: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """1 page = 1 chunk (pass-through chunking like the reference's
    upstream); chunk_id/hash are content hashes, pure Spark SQL.
    warc_ts is carried for the checkpoint high-water mark.
    ``extra_cols`` pass through already-computed enrichment columns
    (the fused html+extraction path)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    return pages.select(
        F.substring(F.sha2(F.concat(F.col("url"), F.lit("\x1f"), text), 256), 1, 16).alias(
            "chunk_id"
        ),
        F.col("url").alias("doc_id"),
        F.struct(
            F.lit(0).alias("start"), F.length(text).cast("int").alias("end")
        ).alias("span"),
        text.alias("text"),
        F.col("url").alias("source_uri"),
        F.sha2(text, 256).alias("hash"),
        F.col("warc_ts"),
        *extra_cols,
    )


def _distinct_chunks(chunks: DataFrame) -> DataFrame:
    """One row per ``chunk_id``: a batch holding the same page twice
    must count its mentions once.  Every column but ``warc_ts`` is a
    function of (url, text), as ``chunk_id`` is, so grouping on them is
    a distinct by ``chunk_id``; keeping the latest ``warc_ts`` leaves
    the checkpoint high-water mark exact.  The keys include ``doc_id``
    (the url), so a url hash partitioning serves as the shuffle, and
    the single fixed-width aggregate keeps it a hash aggregate."""
    keys = [c for c in chunks.columns if c != "warc_ts"]
    return chunks.groupBy(*keys).agg(F.max("warc_ts").alias("warc_ts")).select(*chunks.columns)


def _high_water_mark(catalog: ParquetCatalog):
    """The newest ``max_warc_ts`` any batch checkpointed, or None.  The
    checkpoint table is written driver-side by ``commit_rows``, so it is
    read back the same way: no Spark job."""
    import pyarrow.compute as pc

    cp = catalog.read_arrow(CHECKPOINT_TABLE, ["max_warc_ts"])
    return None if cp is None else pc.max(cp["max_warc_ts"]).as_py()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    catalog: ParquetCatalog,
    *,
    extract_from_html: bool = False,
    scan_partitions: int | None = None,
    epoch_id: int | None = None,
    extraction_strategy: str = "heuristic",
    graph_mode: str = "mor",
) -> PipelineResult:
    """Add one batch of pages to the graph in ``catalog``.

    Ingestion is always incremental: pages at or below the checkpoint
    high-water mark (the newest ``max_warc_ts`` any batch committed)
    are skipped, and so are re-crawls whose chunk is already a Chunk
    node.  A rerun of the same batch therefore processes 0 pages and
    leaves every table unchanged, and a rebuild is a build into an
    empty catalog (no mark, no Chunk nodes: every page is new).
    Because batches never repeat a chunk, ``mentions`` and ``triples``
    take plain appends.

    The extraction output is written once to a catalog stage table
    and re-read by every downstream consumer (columnar, pruned scans;
    the pattern a 100 TB pipeline uses between stages anyway).

    A batch may hold the same page twice; it is made distinct by
    ``chunk_id`` before anything is counted or written.

    Nodes and edges merge on read (see graph.upsert_graph): into an
    empty catalog the batch is written as the base in one overwrite per
    table; every later batch is an O(batch) delta, folded by
    ``catalog.maybe_compact`` (``plans.refresh`` runs it per batch).
    ``graph_mode`` is accepted only as ``"mor"``, the one write mode,
    for callers that still name it.
    """
    if graph_mode != "mor":
        raise ValueError(f"graph_mode must be 'mor', the one graph write mode; got {graph_mode!r}")
    timings: dict[str, int] = {}

    def clock(name):
        t0 = time.monotonic()

        def done():
            timings[name] = int((time.monotonic() - t0) * 1000)

        return done

    # ---- incremental gate: only pages past the last checkpoint ts ----
    d = clock("scan_filter")
    last_ts = _high_water_mark(catalog)
    if last_ts is not None:
        pages = pages.where(F.col("warc_ts") > F.lit(last_ts))
    # guarantee the UDF stage gets enough splits: small-file inputs
    # get packed into very few tasks by maxPartitionBytes, which
    # serializes the extraction stage.  The repartition is CONDITIONAL:
    # when the scan already yields >= target splits (the normal case at
    # scale — 100 TB of 128-512 MB files), skip it entirely rather than
    # shuffle the html payload bytes through the cluster.  Columns are
    # pruned to the pipeline's inputs BEFORE any shuffle so the html
    # blob is never carried further than the extraction stage needs.
    if scan_partitions is None:
        scan_partitions = spark.sparkContext.defaultParallelism * 2
    needed = ["url", "warc_ts"] + (["html"] if extract_from_html else ["text"])
    pages = pages.select(*[c for c in needed if c in pages.columns])
    if pages.rdd.getNumPartitions() < scan_partitions:
        # hash-partitioned on the url column itself, so the text path's
        # per-chunk distinct below (keyed on doc_id = url) reuses this
        # shuffle instead of adding one
        pages = pages.repartition(scan_partitions, "url")
    d()

    # ---- one extraction pass ------------------------------------------------
    d = clock("extract")
    enrich_cols = ("concepts", "evidence", "evidence100")
    if extract_from_html:
        # fused Arrow pass: html -> text -> concepts in ONE Python
        # stage (two chained UDFs paid the text payload over the
        # JVM<->Python wire twice).  The Python stage drops the url
        # partitioning, so the distinct here shuffles.
        enriched = _distinct_chunks(
            chunks_from_pages(
                cf.enrich_pages_from_html(pages, strategy=extraction_strategy),
                extra_cols=enrich_cols,
            )
        )
    else:
        enriched = None  # built below, after the incremental anti-join

    def _dedupe_known(df):
        if not catalog.exists("nodes"):
            return df
        # the warc_ts high-water mark admits re-crawls of IDENTICAL
        # pages (chunk_id = sha256(url+text) ignores warc_ts); without
        # this anti-join a re-crawl would re-append duplicate
        # mentions/triples rows.  Cost shape: a 16-byte-key anti-join
        # against a column-pruned key scan of the Chunk node ids (no
        # merge-on-read winner resolution, no chunk text).
        known = (
            catalog.read_keys(spark, "nodes", ["label", "id"])
            .where(F.col("label") == "Chunk")
            .select(F.col("id").alias("chunk_id"))
        )
        return df.join(known, on="chunk_id", how="left_anti")

    if enriched is not None:
        enriched = _dedupe_known(enriched)
    else:
        # text path: anti-join BEFORE the extraction UDF so unchanged
        # re-crawls skip extraction entirely
        chunks = _dedupe_known(_distinct_chunks(chunks_from_pages(pages)))
        enriched = cf.with_concepts(chunks, strategy=extraction_strategy)
    catalog.overwrite(enriched, "_stage_enriched")
    enriched = catalog.read(spark, "_stage_enriched")
    n_pages_probe = catalog.count("_stage_enriched")  # footers, free

    def run_stats():
        return (
            enriched.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("chunk_cnt"),
                F.sum(F.size("concepts")).alias("mention_cnt"),
                F.min("doc_id").alias("url_min"),
                F.max("doc_id").alias("url_max"),
                F.max("warc_ts").alias("max_ts"),
            )
            .collect()
        )

    d()
    if n_pages_probe == 0:
        return PipelineResult(catalog.current_version("nodes"), 0, 0, 0, 0, timings)

    # ---- derive tables (all lazy, reusing the cached extraction) ------------
    mentions = cf.mentions_from(enriched)
    candidates = cooccur.candidate_pairs(enriched)
    triples = scorer.triples_from(scorer.score_candidates(candidates))

    d = clock("materialize")
    prev_triples = catalog.count("triples")
    nodes = graph.chunk_nodes(enriched).unionByName(graph.concept_nodes(mentions))

    # the incremental gate guarantees batch-disjoint chunks -> plain
    # appends for the flat tables
    written: dict[str, int] = {}

    def write_mentions():
        written["mentions"] = catalog.append(spark, mentions, "mentions")

    def write_triples():
        written["triples"] = catalog.append(spark, triples, "triples")

    def write_nodes():
        # this batch's nodes cover every edge endpoint (edges derive
        # from the same chunks/mentions), so the placeholder backfill
        # scan is skipped; external edge-first writers call
        # upsert_graph directly
        graph.upsert_graph(spark, catalog, nodes=nodes, edges=None)

    # phase 1: the three table writes are independent (distinct
    # tables, all derived from the staged extraction), and the lineage
    # stats job is read-only -> concurrent Spark jobs (the scheduler
    # interleaves their stages and keeps the executors full)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as ex:
        futures = [ex.submit(fn) for fn in (write_mentions, write_triples, write_nodes)]
        stats_future = ex.submit(run_stats)
        for f in futures:
            f.result()
        part_stats = stats_future.result()
    n_pages = sum(r["chunk_cnt"] for r in part_stats)
    n_mentions = sum(r["mention_cnt"] or 0 for r in part_stats)
    max_ts = max((r["max_ts"] for r in part_stats), default=None)
    n_triples = catalog.count("triples") - prev_triples
    d()

    # phase 2: edges derive from the just-committed mentions/triples —
    # re-reading ~tens of MB of columnar data beats re-running the
    # 50-100x explode+score fan-out a second time.  An incremental
    # snapshot read: only the data dirs this batch appended (Iceberg
    # incremental scan), no join needed
    d = clock("graph_merge")
    mentions_t = catalog.read_version_delta(spark, "mentions", written["mentions"])
    triples_t = catalog.read_version_delta(spark, "triples", written["triples"])
    edges = graph.batch_edges(mentions_t, triples_t, DEFAULT_UPDATED_AT)
    graph.upsert_graph(
        spark, catalog, nodes=None, edges=edges,
        check_placeholders=False, edges_unique=True,
    )
    d()

    # ---- lineage + checkpoint: driver-side pyarrow commits, ZERO Spark
    # jobs (the rows come from the one stats aggregation) --------------
    d = clock("lineage")
    import pyarrow as pa

    snapshot_id = catalog.current_version("nodes")
    lineage_schema = pa.schema(
        [
            ("snapshot_id", pa.int64()),
            ("partition_id", pa.int32()),
            ("url_min", pa.string()),
            ("url_max", pa.string()),
            ("chunk_cnt", pa.int64()),
            ("mention_cnt", pa.int64()),
            ("triple_cnt", pa.int64()),
        ]
    )
    catalog.commit_rows(
        LINEAGE_TABLE,
        [
            {
                "snapshot_id": snapshot_id,
                "partition_id": r["partition_id"],
                "url_min": r["url_min"],
                "url_max": r["url_max"],
                "chunk_cnt": r["chunk_cnt"],
                "mention_cnt": r["mention_cnt"] or 0,
                "triple_cnt": n_triples,
            }
            for r in part_stats
        ],
        lineage_schema,
    )
    cp_schema = pa.schema(
        [
            ("snapshot_id", pa.int64()),
            ("max_warc_ts", pa.timestamp("us", tz="UTC")),
            ("pages", pa.int64()),
            ("epoch_id", pa.int64()),
        ]
    )
    catalog.commit_rows(
        CHECKPOINT_TABLE,
        [
            {
                "snapshot_id": snapshot_id,
                "max_warc_ts": max_ts,
                "pages": n_pages,
                "epoch_id": epoch_id,
            }
        ],
        cp_schema,
    )
    d()

    return PipelineResult(snapshot_id, n_pages, n_pages, n_mentions, n_triples, timings)
