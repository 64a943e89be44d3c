"""Incremental / streaming execution of the KG pipeline.

The reference's Flink job is logically batch (bounded source, no
watermarks/state — GraphRagJob.scala:196-199); its "incremental" story
is re-running over new JSONL drops.  Ours is snapshot-driven
microbatches (north_rule): each call to
:func:`plans.refresh.refresh_after_batch` consumes only pages with
``warc_ts`` past the checkpoint table's high-water mark, commits new
catalog snapshots atomically — resumable by construction — and
refreshes the stored PageRank and communities.

This module adds the Structured-Streaming wrapper for true streaming
ingest: a file/parquet stream of pages driven through ``foreachBatch``
into that same refresh, so a streamed batch gets the graph merge, the
compaction policy and fresh analytics exactly as ``POST /v1/refresh``
does (exactly-once per microbatch via the checkpoint high-water mark —
a replayed batch filters down to 0 new pages).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.pipeline import CHECKPOINT_TABLE
from ..plans.refresh import refresh_after_batch
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
):
    """readStream over a parquet directory of pages; each microbatch
    runs :func:`plans.refresh.refresh_after_batch` (merge-on-read
    graph merge, compaction policy, warm PageRank, touched-component
    communities).  Returns the StreamingQuery (caller stops it /
    processAllAvailable)."""
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)

    def sink(batch_df, epoch_id: int):
        # replay guard: foreachBatch re-delivers an epoch whose data
        # commits landed but whose Spark checkpoint write crashed; the
        # pipeline records applied epoch_ids in its own checkpoint
        # table, so a replayed epoch is skipped instead of re-appended.
        # (The residual window — crash BETWEEN the data appends and the
        # catalog checkpoint commit — is closed chunk-level by the
        # pipeline's anti-join against committed Chunk nodes.)
        # merge_schema: the checkpoint table can mix pre-epoch_id dirs
        # with new ones; with spark.sql.parquet.mergeSchema=false the
        # inferred schema may come from an OLD footer and silently drop
        # epoch_id, disabling this guard nondeterministically
        cp = catalog.read(spark, CHECKPOINT_TABLE, merge_schema=True)
        if cp is not None and "epoch_id" in cp.columns:
            if cp.where(F.col("epoch_id") == epoch_id).limit(1).count() > 0:
                return
        refresh_after_batch(
            spark,
            batch_df,
            catalog,
            extract_from_html=extract_from_html,
            epoch_id=epoch_id,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
