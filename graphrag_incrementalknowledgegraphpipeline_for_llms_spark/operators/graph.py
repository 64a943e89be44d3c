"""Graph materialization (P6-P9, G1-G4 of SURVEY.md §2.5).

The reference streams per-op Cypher MERGEs into Neo4j
(storage/Neo4jSink.scala:138-225, batched 200/txn).  Here the graph is
two columnar tables — ``nodes(label, id, props...)`` and
``edges(src_label, src_id, rel, dst_label, dst_id, confidence,
evidence, updated_at)`` — upserted per batch through the catalog's
merge-on-read MERGE (Iceberg ``MERGE INTO`` shape; nodes carry a
``_complete`` tiebreak column).  Semantics preserved:

* insert-or-overwrite-all-props, last-write-wins (Neo4jSink.scala:138-164)
* edge-before-node tolerance: placeholder endpoint nodes created when
  an edge arrives first, later overwritten by the real node
  (Neo4jSink.scala:170-173) — here an anti-join backfill
* relation-name sanitization upper + [^A-Z0-9_]->_ (Neo4jSink.scala:197)
* idempotency: re-running the same batch leaves the tables identical
  (MERGE on the full key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import ParquetCatalog

NODE_COLUMNS = [
    "label", "id", "lemma", "surface", "origin",
    "doc_id", "text", "source_uri", "hash", "span_start", "span_end",
]
EDGE_KEY = ["src_label", "src_id", "rel", "dst_label", "dst_id"]

_S = T.StringType()
NODES_SCHEMA = T.StructType(
    [T.StructField(c, T.IntegerType() if c.startswith("span_") else _S) for c in NODE_COLUMNS]
)
EDGES_SCHEMA = T.StructType(
    [T.StructField(c, _S) for c in EDGE_KEY]
    + [
        T.StructField("confidence", T.DoubleType()),
        T.StructField("evidence", _S),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

def _NULL_STR():
    return F.lit(None).cast("string")


def _NULL_INT():
    return F.lit(None).cast("int")


def chunk_nodes(chunks: DataFrame) -> DataFrame:
    """P6 (GraphRagJob.scala:376-394): Chunk -> node row."""
    return chunks.select(
        F.lit("Chunk").alias("label"),
        F.col("chunk_id").alias("id"),
        _NULL_STR().alias("lemma"),
        _NULL_STR().alias("surface"),
        _NULL_STR().alias("origin"),
        "doc_id",
        "text",
        "source_uri",
        "hash",
        F.col("span.start").alias("span_start"),
        F.col("span.end").alias("span_end"),
    )


def concept_nodes(mentions: DataFrame) -> DataFrame:
    """P7 (GraphRagJob.scala:399-414): distinct Concept -> node row."""
    return (
        mentions.select("concept_id", "lemma", "surface", "origin")
        .distinct()
        .select(
            F.lit("Concept").alias("label"),
            F.col("concept_id").alias("id"),
            "lemma",
            "surface",
            "origin",
            _NULL_STR().alias("doc_id"),
            _NULL_STR().alias("text"),
            _NULL_STR().alias("source_uri"),
            _NULL_STR().alias("hash"),
            _NULL_INT().alias("span_start"),
            _NULL_INT().alias("span_end"),
        )
    )


def mention_edges(mentions: DataFrame, updated_at) -> DataFrame:
    """P8 (GraphRagJob.scala:419-433): Chunk -MENTIONS-> Concept."""
    return mentions.select(
        F.lit("Chunk").alias("src_label"),
        F.col("chunk_id").alias("src_id"),
        F.lit("MENTIONS").alias("rel"),
        F.lit("Concept").alias("dst_label"),
        F.col("concept_id").alias("dst_id"),
        F.lit(None).cast("double").alias("confidence"),
        _NULL_STR().alias("evidence"),
        F.lit(updated_at).cast("timestamp").alias("updated_at"),
    )


_CLEAN_PREDICATES = ["is_a", "part_of", "causes", "synonym_of", "related_to", "MENTIONS"]


def sanitize_rel_col(col):
    """P9 (Neo4jSink.scala:197).  Fast path: the deterministic scorer
    only emits the closed predicate set, for which sanitize == upper —
    the regex (measured ~0.5us/row and re-evaluated per consumer by
    projection collapse) runs only on out-of-set names from external
    writers."""
    return F.when(col.isin(_CLEAN_PREDICATES), F.upper(col)).otherwise(
        F.regexp_replace(F.upper(col), r"[^A-Z0-9_]", "_")
    )


def relation_edges(triples: DataFrame, updated_at) -> DataFrame:
    """P9 (GraphRagJob.scala:438-454): triple -> typed Concept edge."""
    return triples.select(
        F.lit("Concept").alias("src_label"),
        F.col("subj_id").alias("src_id"),
        sanitize_rel_col(F.col("predicate")).alias("rel"),
        F.lit("Concept").alias("dst_label"),
        F.col("obj_id").alias("dst_id"),
        "confidence",
        "evidence",
        F.lit(updated_at).cast("timestamp").alias("updated_at"),
    )


def batch_edges(mentions: DataFrame, triples: DataFrame, updated_at) -> DataFrame:
    """Key-unique edge batch for one pipeline pass, deduped per family
    with the cheapest correct machinery (callers pass it to
    upsert_graph with ``edges_unique=True``):

    * MENTIONS edges — payload constant per (src_id, dst_id), so a
      subset dropDuplicates suffices; crucially this family is ~all
      unique, and routing it through the generic winner machinery
      would broadcast millions of winner rids (a serial driver-side
      hash-relation build measured as the merge's non-scaling part).
    * typed relation edges — narrow winner selection per (src, rel,
      dst) with the MERGE tiebreak order (updated_at, confidence,
      content-hash); winners here are FEW (concept-pair cardinality),
      so the rid semi-join broadcast is tiny."""
    m = mention_edges(mentions, updated_at).dropDuplicates(["src_id", "dst_id"])
    r = relation_edges(triples, updated_at)
    # rid MUST be catalog.content_rid: the catalog's cross-batch merge
    # breaks residual ties with the same function, and incremental ≡
    # full (max(max(A), B) == max(A ∪ B)) only holds when both levels
    # use ONE total order
    from ..sources.catalog import content_rid

    r2 = r.withColumn("_rid", content_rid(r.columns))
    okey = F.struct(F.col("updated_at"), F.col("confidence"), F.col("_rid"))
    winners = (
        r2.select("src_id", "rel", "dst_id", "updated_at", "confidence", "_rid")
        .groupBy("src_id", "rel", "dst_id")
        .agg(F.max_by(F.col("_rid"), okey).alias("_rid"))
    )
    rd = (
        r2.join(winners.select("_rid"), "_rid", "left_semi")
        .dropDuplicates(["_rid"])
        .drop("_rid")
    )
    return m.unionByName(rd.select(*m.columns))


def upsert_graph(
    spark: SparkSession,
    catalog: ParquetCatalog,
    nodes: DataFrame | None = None,
    edges: DataFrame | None = None,
    nodes_table: str = "nodes",
    edges_table: str = "edges",
    check_placeholders: bool = True,
    edges_unique: bool = False,
) -> None:
    """G2+G3+G4: MERGE nodes and edges, then backfill placeholder
    endpoint nodes for edges whose endpoints are not (yet) present.
    Batching/retry is the catalog snapshot commit (atomic pointer flip;
    Iceberg gives the same via optimistic snapshot retry).
    ``check_placeholders=False`` skips the endpoint anti-join when the
    caller guarantees the node batch covers every edge endpoint (the
    pipeline does — edges derive from the same chunks).

    Both tables merge on read (``catalog.merge_upsert_mor``): the first
    batch is the base, written in one overwrite; each later batch lands
    as an O(batch) delta regardless of graph size, which reads resolve
    until ``catalog.maybe_compact`` folds them.  Node completeness is
    materialized as a ``_complete`` column (merge-on-read tiebreaks
    persist in the table spec, so they must be real columns) so that
    real node rows beat placeholder rows.  Resolution is
    "deterministic" under the (tiebreak..., content_rid) total order,
    so an incremental build equals a cold one."""
    if nodes is not None:
        # completeness tiebreak: real node rows must beat placeholder
        # (all-null-prop) rows whenever both compete for a key — the
        # catalog's residual tiebreak is a content hash, which would
        # pick arbitrarily
        completeness = sum(
            (F.col(c).isNotNull().cast("int") for c in NODE_COLUMNS[2:]),
            F.lit(0),
        )
        _merge_nodes(spark, catalog, nodes_table, nodes.withColumn("_complete", completeness))
    if edges is None:
        return
    # tiebreak leads with updated_at: the reference Neo4j sink is
    # last-write-wins (Neo4jSink.scala:138-164), so a LATER re-score
    # must replace the stored edge even at lower confidence;
    # confidence only breaks same-timestamp ties (within-batch
    # determinism — the pipeline stamps one updated_at per batch)
    catalog.merge_upsert_mor(
        spark,
        edges_table,
        edges,
        keys=EDGE_KEY,
        tiebreak=["updated_at", "confidence"],
        resolution="deterministic",
        assume_unique=edges_unique,
    )
    if not check_placeholders:
        return
    # placeholder endpoints (Neo4jSink.scala:170-173): MERGE creates
    # bare nodes so an edge can arrive before its node rows.
    endpoints = (
        edges.select(F.col("src_label").alias("label"), F.col("src_id").alias("id"))
        .unionByName(
            edges.select(F.col("dst_label").alias("label"), F.col("dst_id").alias("id"))
        )
        .distinct()
    )
    existing = catalog.read_keys(spark, nodes_table, ["label", "id"])
    if existing is not None:
        missing = endpoints.join(existing, on=["label", "id"], how="left_anti")
    else:
        missing = endpoints
    placeholders = missing.select(
        "label",
        "id",
        *[
            (F.lit(None).cast("int") if c.startswith("span_") else _NULL_STR()).alias(c)
            for c in NODE_COLUMNS[2:]
        ],
        F.lit(0).alias("_complete"),
    )
    if placeholders.limit(1).count() > 0:
        # key-novel by the anti-join, so this merge is a pure insert; a
        # later REAL node row beats the placeholder via _complete
        _merge_nodes(spark, catalog, nodes_table, placeholders)


def _merge_nodes(spark, catalog, name: str, nodes: DataFrame) -> None:
    catalog.merge_upsert_mor(
        spark, name, nodes, keys=["label", "id"], tiebreak=["_complete"],
        resolution="deterministic",
    )


def encode_graph_ints(
    nodes: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Integer-encode the graph for GNN / embedding frameworks that
    want dense contiguous node ids: returns (node_map, int_edges)
    where node_map = (int_id, label, id) with int_id = 0..n-1 assigned
    by (label, id) sort order (deterministic across runs), and
    int_edges = (src, dst, rel, confidence) with endpoints remapped.
    Edges whose endpoint is missing from the node table are dropped
    (inner joins) — export after placeholder backfill, which
    upsert_graph guarantees.

    Scale shape: the id assignment is ONE global window over the
    vocabulary-sized node table (tiny next to the corpus — the same
    trade as contrastive_edge_pairs' node index); the remap is two
    broadcast-able equi-joins keyed on the node id."""
    from pyspark.sql import Window

    node_map = nodes.select("label", "id").distinct().withColumn(
        "int_id",
        F.row_number().over(Window.orderBy("label", "id")).cast("long") - 1,
    )
    m = F.broadcast(node_map)
    int_edges = (
        edges.join(
            m.select(
                F.col("label").alias("src_label"),
                F.col("id").alias("src_id"),
                F.col("int_id").alias("src"),
            ),
            ["src_label", "src_id"],
        )
        .join(
            m.select(
                F.col("label").alias("dst_label"),
                F.col("id").alias("dst_id"),
                F.col("int_id").alias("dst"),
            ),
            ["dst_label", "dst_id"],
        )
        .select("src", "dst", "rel", "confidence")
    )
    return node_map.select("int_id", "label", "id"), int_edges


def export_graph(
    spark: SparkSession,
    catalog: ParquetCatalog,
    out_dir: str,
    nodes_table: str = "nodes",
    edges_table: str = "edges",
) -> dict:
    """Materialize the current graph snapshot for external consumers:
    ``{out_dir}/node_map.parquet`` (int_id, label, id, lemma) and
    ``{out_dir}/edges_int.parquet`` (src, dst, rel, confidence) —
    the edge-list-with-dense-ids layout every GNN/embedding toolkit
    ingests — plus the returned summary counts.  Distributed parquet
    writes; nothing is collected to the driver."""
    import os

    nodes = catalog.read(spark, nodes_table)
    edges = catalog.read(spark, edges_table)
    node_map, int_edges = encode_graph_ints(nodes, edges)
    node_out = node_map.join(
        nodes.select("label", "id", "lemma").distinct(), ["label", "id"], "left"
    ).select("int_id", "label", "id", "lemma")
    node_out.write.mode("overwrite").parquet(
        os.path.join(out_dir, "node_map.parquet")
    )
    int_edges.write.mode("overwrite").parquet(
        os.path.join(out_dir, "edges_int.parquet")
    )
    return {
        "nodes": node_out.count(),
        "edges": int_edges.count(),
        "out_dir": out_dir,
    }


def graph_diff(
    spark: SparkSession,
    catalog: ParquetCatalog,
    version_old: int,
    version_new: int,
    nodes_table: str = "nodes",
    edges_table: str = "edges",
) -> DataFrame:
    """Row-level diff between two graph snapshots (time travel): one
    frame of (kind, change, key) with ``kind`` in {node, edge} and
    ``change`` in {added, removed, changed} — the audit a downstream
    consumer runs after an incremental merge ("what did this batch do
    to the graph"), and the input to selective cache/index
    invalidation.

    Content equality is a per-row hash over all non-key columns, each
    null-coalesced to a \\x00 sentinel BEFORE concatenation (Spark's
    hash/concat_ws both skip nulls, which would make (x, null) equal
    (null, x)); columns are joined with a \\x01 separator so adjacent
    values cannot alias.  The comparison is one full-outer equi-join
    per table on its merge key."""

    def _prep(df: DataFrame, key_cols: list[str], alias: str) -> DataFrame:
        others = [c for c in df.columns if c not in key_cols]
        if others:
            h = F.xxhash64(
                F.concat_ws(
                    "\x01",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                        for c in others
                    ],
                )
            )
        else:
            h = F.lit(0).cast("long")
        return df.select(*key_cols, h.alias(alias))

    def _read_clamped(name: str, version: int) -> DataFrame | None:
        # snapshot counters are PER TABLE (a batch can bump nodes twice
        # — merge + placeholder upsert — while edges bumps once), so a
        # caller passing the nodes version is clamped into each table's
        # own valid range; version <= 0 means "before the table existed"
        cur = catalog.current_version(name)
        v = min(version, cur)
        if v < 1:
            return None
        return catalog.read_as_of(spark, name, v)

    def _diff(name: str, key_cols: list[str], kind: str) -> DataFrame:
        old = _read_clamped(name, version_old)
        new = _read_clamped(name, version_new)
        if old is None and new is None:
            return spark.createDataFrame(
                [], "kind string, change string, key string"
            )
        if old is None:
            old = new.limit(0)
        if new is None:
            new = old.limit(0)
        j = _prep(old, key_cols, "h_old").join(
            _prep(new, key_cols, "h_new"), key_cols, "full_outer"
        )
        change = (
            F.when(F.col("h_old").isNull(), F.lit("added"))
            .when(F.col("h_new").isNull(), F.lit("removed"))
            .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        )
        return (
            j.withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(
                F.lit(kind).alias("kind"),
                "change",
                F.concat_ws("|", *key_cols).alias("key"),
            )
        )

    return (
        _diff(nodes_table, ["label", "id"], "node")
        .unionByName(_diff(edges_table, EDGE_KEY, "edge"))
        .orderBy("kind", "change", "key")
    )
