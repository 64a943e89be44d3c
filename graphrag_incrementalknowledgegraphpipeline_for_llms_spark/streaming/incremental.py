"""Incremental / streaming execution of the KG pipeline.

The reference's Flink job is logically batch (bounded source, no
watermarks/state — GraphRagJob.scala:196-199); its "incremental" story
is re-running over new JSONL drops.  Ours is snapshot-driven
microbatches (north_rule): each call to
:func:`plans.pipeline.run_pipeline` consumes only pages with
``warc_ts`` past the checkpoint table's high-water mark and commits new
catalog snapshots atomically — resumable by construction.

This module adds the Structured-Streaming wrapper for true streaming
ingest: a file/parquet stream of pages driven through ``foreachBatch``
into the same batch pipeline (exactly-once per microbatch via the
checkpoint high-water mark — a replayed batch filters down to 0 new
pages).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..plans.pipeline import run_pipeline
from ..sources.catalog import ParquetCatalog

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def stream_pages_dir(
    spark: SparkSession,
    pages_dir: str,
    catalog: ParquetCatalog,
    checkpoint_dir: str,
    extract_from_html: bool = True,
    graph_mode: str = "mor",
    compact_every: int = 16,
):
    """readStream over a parquet directory of pages; each microbatch
    runs the full KG pipeline.  Returns the StreamingQuery (caller
    stops it / processAllAvailable).

    ``graph_mode`` defaults to ``"mor"`` here (unlike the batch
    pipeline's cow): streaming means many small batches against an
    ever-growing graph — precisely the case where copy-on-write
    merges degrade to near-full rewrites per microbatch (measured:
    a +10% batch cost 86% of a full rebuild) while merge-on-read
    deltas stay O(batch).  The sink folds deltas automatically once a
    graph table accumulates more than ``compact_every`` of them
    (catalog.maybe_compact — LSM-style cadence: one rewrite per
    ``compact_every`` microbatches, so resolution cost stays bounded
    while writes stay O(batch))."""
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)

    def sink(batch_df, epoch_id: int):
        # replay guard: foreachBatch re-delivers an epoch whose data
        # commits landed but whose Spark checkpoint write crashed; the
        # pipeline records applied epoch_ids in its own checkpoint
        # table, so a replayed epoch is skipped instead of re-appended.
        # (The residual window — crash BETWEEN the data appends and the
        # catalog checkpoint commit — is closed chunk-level by the
        # pipeline's anti-join against committed Chunk nodes.)
        from ..plans.pipeline import CHECKPOINT_TABLE

        # merge_schema: the checkpoint table can mix pre-epoch_id dirs
        # with new ones; with spark.sql.parquet.mergeSchema=false the
        # inferred schema may come from an OLD footer and silently drop
        # epoch_id, disabling this guard nondeterministically
        cp = catalog.read(spark, CHECKPOINT_TABLE, merge_schema=True)
        if cp is not None and "epoch_id" in cp.columns:
            from pyspark.sql import functions as F

            if cp.where(F.col("epoch_id") == epoch_id).limit(1).count() > 0:
                return
        run_pipeline(
            spark,
            batch_df,
            catalog,
            incremental=True,
            extract_from_html=extract_from_html,
            epoch_id=epoch_id,
            graph_mode=graph_mode,
        )
        if graph_mode == "mor" and compact_every:
            for t in ("nodes", "edges"):
                catalog.maybe_compact(spark, t, max_deltas=compact_every)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


EDGES_SCHEMA = T.StructType(
    [
        T.StructField("cid", T.StringType()),
        T.StructField("nbr_id", T.StringType()),
    ]
)


def stream_communities_dir(
    spark: SparkSession,
    edges_dir: str,
    catalog: ParquetCatalog,
    checkpoint_dir: str,
    iters: int = 5,
    schema: T.StructType | None = None,
):
    """Streaming community maintenance: readStream over a parquet
    directory of co-occurrence edge batches; each microbatch folds
    into the stored community index via
    :func:`plans.community_index.refresh_communities` — LPA/CC re-run
    only on delta-touched components, so per-batch cost is O(touched)
    while the stored labels stay row-for-row equal to a full rebuild
    (the streaming face of the incremental-GraphRAG thesis; the graph
    tables get the same treatment from the MOR ingest sink above).

    Exactly-once effect without an epoch ledger: refresh_communities
    is a pure function of (stored state, batch edge set) and all three
    state writes are keyed MERGEs — a replayed microbatch recomputes
    identical rows into idempotent upserts
    (test_community_index.test_replay_is_idempotent)."""
    from ..plans import community_index as ci

    stream = spark.readStream.schema(schema or EDGES_SCHEMA).parquet(edges_dir)

    def sink(batch_df, epoch_id: int):
        ci.refresh_communities(spark, catalog, batch_df, iters=iters)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
